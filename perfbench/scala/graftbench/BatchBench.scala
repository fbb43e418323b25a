package graftbench

import scala.collection.mutable.ArrayBuffer
import org.apache.spark.sql.{Dataset, Observation, SparkSession}
import org.apache.spark.sql.functions._
import graft.cep.{CepMatch, Compiler, Ev, Pattern}
import graft.cep.spark.{BatchEvaluator, Rip, SparkPatterns}
import graft.io.Transcripts

/** One batch workload: its corpus, the evaluator call under test, and how its matches are
  * checked independently. */
final case class BatchSpec(
    name: String,
    convs: Int,
    hotShare: Double,
    files: Int,
    prunePayload: Boolean,
    patterns: Seq[Pattern],
    evaluate: Dataset[Ev] => Dataset[CepMatch],
    /** true: checked against the in-process engine; false: against plain
      * `BatchEvaluator.evaluate`. */
    engineCheck: Boolean,
    /** The traced run also runs at local[1], for `scaling_eff_1_to_n`. */
    scalingBaseline: Boolean,
    /** Untimed reps between set-up and timing: the rep time still falls while the JIT
      * compiles the hot paths. */
    warmupReps: Int,
    /** When set, a run fails unless the pipeline shuffles more than this many records per
      * relevant row: proof that the workload's replicating path ran. */
    minReplication: Option[Double])

object BatchBench {
  private val Pane = 60L * 60 * 1000000
  /** `BenchLevel`'s hot-key threshold (100 000 for a 1.26 M-turn hot conversation), scaled
    * to this corpus: the hot conversation holds ~88 000 turns, ~9 times the threshold, so
    * Rip flags it by its count and not by the margin of its sampled detection. */
  private val HotThreshold = 10000L

  /** The engine does the most work and Rip and state none: 7 patterns, no hot key, string
    * payload nulled as the scaling runs do. */
  val uniformHeavy: BatchSpec = BatchSpec("uniform_heavy", convs = 3200, hotShare = 0.0,
    files = 8, prunePayload = true, SparkPatterns.heavy,
    evs => BatchEvaluator.evaluate(evs, SparkPatterns.heavy), engineCheck = true,
    scalingBaseline = true, warmupReps = 10, minReplication = None)

  /** Hot-key detection, pane replication and a payload-wide shuffle do the work, the engine
    * little: one conversation holds 80 % of the turns and the text payload rides along.
    * The turns are cut into 8 files of equal row count, as a real table's would be, so the
    * hot conversation spans ~6 of them: written straight from the generator partitioned
    * by conversation, it lands in one file, and the map stage then spends most of a rep
    * on one task, which hides Rip's reduce-side fan-out. A plan without panes shuffles
    * each relevant row once; the paned one replicates the hot key's rows into the next
    * pane, ~1.13 records per row here, so a run at or below 1.05 fails. */
  val cliffPayload: BatchSpec = BatchSpec("cliff_payload", convs = 700, hotShare = 0.8,
    files = 8, prunePayload = false, SparkPatterns.base,
    evs => Rip.evaluateAuto(evs, SparkPatterns.base, Pane, HotThreshold), engineCheck = false,
    scalingBaseline = false, warmupReps = 8, minReplication = Some(1.05))

  /** Job group of the digest pass, whose shuffle gives the replication check. */
  private val DigestGroup = "graftbench-digest"
  val MinReps = 3
  val TracedReps = 3
}

final class BatchBench(o: Opts, w: BatchSpec) extends Workload {
  import BatchBench._

  private val tracer = new Tracer(o.trace)
  private val untraced = new Tracer(false)
  private val listener = new StageListener
  private val reps = ArrayBuffer.empty[Map[String, Any]]
  private var obsId = 0

  private val corpusPath = Corpus.dir(o.workDir, w.name, o.seed, w.convs, w.hotShare,
    s"f${w.files}")

  def prepare(): Unit = Corpus.ensure(corpusPath) {
    Corpus.writeTurns(_, o.seed, w.convs, w.hotShare, w.files)
  }

  private def events(spark: SparkSession, path: String): Dataset[Ev] = {
    val evs = Transcripts.toEv(Corpus.readTurns(spark, path))
    if (w.prunePayload) Corpus.prune(evs) else evs
  }

  /** One query: the evaluator call (Rip's detection job runs inside it) and a noop write
    * of its matches, counted through an observation. */
  private def rep(evs: Dataset[Ev], kind: String, rep: Int,
                  t: Tracer = untraced): Map[String, Any] = {
    obsId += 1
    val obs = Observation(s"rep$obsId")
    val sc = evs.sparkSession.sparkContext
    val gc0 = HeapPeak.gcSeconds
    val (_, secs) = Clock.secs {
      t.span("rep", rep) {
        val ds = t.span("evaluate", rep, sc)(w.evaluate(evs))
        if (kind == "setup") Clock.note("evaluator planned")
        t.span("action", rep, sc) {
          ds.observe(obs, count(lit(1)).as("n")).write.format("noop").mode("overwrite").save()
        }
      }
    }
    val r = Map("kind" -> kind, "rep" -> rep, "s" -> secs, "gc_s" -> (HeapPeak.gcSeconds - gc0),
      "matches" -> obs.get("n").asInstanceOf[Long])
    reps += r
    Clock.note(f"$kind rep $rep: $secs%.3f s")
    r
  }

  /** The independent path's (count, digest). */
  private def expected(spark: SparkSession, evs: Dataset[Ev]): (Long, Long, Option[EngineLayer.Result]) =
    if (w.engineCheck) {
      val e = engine(evs)
      (e.matches, e.digest, Some(e))
    } else {
      val (n, d) = Digest.ofDataset(BatchEvaluator.evaluate(evs, w.patterns))
      (n, d, if (o.trace) Some(engine(evs)) else None)
    }

  private def engine(evs: Dataset[Ev]): EngineLayer.Result = {
    val groups = EngineLayer.group(Corpus.relevant(evs, w.patterns).collect())
    EngineLayer.run(groups, w.patterns, o.cores, tracer, 0)
  }

  def run(): Map[String, Any] = if (o.trace) traced() else timed()

  /** Set-up, timed from a JVM that has not run Spark yet: session start, corpus read,
    * pattern compile and the first rep. */
  private def setup(): (SparkSession, Dataset[Ev], Double) = {
    val t0 = System.nanoTime()
    val spark = Session.start(o.cores, o.workDir)
    Clock.note("session started")
    val evs = events(spark, Corpus.existing(corpusPath))
    Clock.note("corpus read")
    rep(evs, "setup", 1)
    (spark, evs, (System.nanoTime() - t0) / 1e9)
  }

  /** Outside timing: (count, digest) of the pipeline's matches, and the listener record of
    * the pass's jobs. Rip's detection job runs before the pass and is not in the record. */
  private def pipeline(evs: Dataset[Ev]): Map[String, Any] = {
    val sc = evs.sparkSession.sparkContext
    val l = new StageListener
    val ds = w.evaluate(evs)
    sc.addSparkListener(l)
    sc.setJobGroup(DigestGroup, "digest")
    val (n, d) = try Digest.ofDataset(ds) finally sc.clearJobGroup()
    l.await(sc, Seq(DigestGroup))
    sc.removeSparkListener(l)
    Map("count" -> n, "digest" -> d, "group" -> DigestGroup, "listener" -> l.json)
  }

  private def common(spark: SparkSession, evs: Dataset[Ev]): Map[String, Any] = Map(
    "workload" -> w.name, "cores" -> o.cores,
    "turns" -> Corpus.readTurns(spark, corpusPath).count(),
    "relevant_rows" -> Corpus.relevant(evs, w.patterns).count(),
    "min_replication" -> w.minReplication.getOrElse(0.0))

  /** End-to-end run: the cold set-up, then reps for `seconds`. */
  private def timed(): Map[String, Any] = {
    val (spark, evs, setupS) = setup()
    val (expCount, expDigest, _) = expected(spark, evs)
    Clock.note("independent check done")
    // both checks run the engine, so they warm it up too
    val pipe = pipeline(evs)
    Clock.note("digest done")
    for (i <- 1 to w.warmupReps) rep(evs, "warmup", i)
    System.gc()
    HeapPeak.reset()
    val t0 = System.nanoTime()
    var i = 0
    while (i < MinReps || System.nanoTime() - t0 < o.seconds * 1000000000L) {
      i += 1
      rep(evs, "timed", i)
    }
    val heapPeak = HeapPeak.bytes
    common(spark, evs) ++ Map("setup_s" -> setupS, "heap_peak_bytes" -> heapPeak,
      "reps" -> reps, "expected" -> Map("count" -> expCount, "digest" -> expDigest),
      "pipeline" -> pipe)
  }

  /** Traced run: per-layer figures. Untraced and traced reps alternate, so the tracing
    * overhead is measured in the same process. */
  private def traced(): Map[String, Any] = {
    var (spark, evs, _) = setup()
    val sc = spark.sparkContext
    val scanS = (1 to 3).map { _ =>
      Clock.secs(Transcripts.toEv(Corpus.readTurns(spark, corpusPath))
        .write.format("noop").mode("overwrite").save())._2
    }
    val compileMs = (1 to 50).map(_ => Clock.secs(w.patterns.flatMap(Compiler.compile))._2 * 1e3)
    for (i <- 1 to w.warmupReps) rep(evs, "warmup", i)
    System.gc()
    HeapPeak.reset()
    for (r <- 1 to TracedReps) {
      rep(evs, "untraced", r)
      sc.addSparkListener(listener)
      rep(evs, "traced", r, tracer)
      listener.await(sc, tracer.all.filter(_.rep == r).map(s => Tracer.group(s.id)))
      sc.removeSparkListener(listener)
    }
    val heapPeak = HeapPeak.bytes
    val countS = (1 to TracedReps).map(_ => Clock.secs(w.evaluate(evs).count())._2)
    // measured warm, after the reps
    val (expCount, expDigest, eng) = expected(spark, evs)
    val pipe = pipeline(evs)
    val out = common(spark, evs) ++ Map("heap_peak_bytes" -> heapPeak,
      "expected" -> Map("count" -> expCount, "digest" -> expDigest), "pipeline" -> pipe,
      "engine" -> eng.map(_.json).orNull, "scan_s" -> scanS, "compile_ms" -> compileMs,
      "count_s" -> countS)
    if (w.scalingBaseline) {
      Session.stop(spark)
      spark = Session.start(1, o.workDir)
      evs = events(spark, corpusPath)
      rep(evs, "local1_warmup", 0)
      for (r <- 1 to 2) rep(evs, "local1", r)
    }
    out ++ Map("reps" -> reps, "spans" -> tracer.json, "listener" -> listener.json)
  }
}
