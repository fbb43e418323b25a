package graftbench

import java.io.File
import scala.collection.mutable.ArrayBuffer
import org.apache.spark.sql.{Dataset, Encoders, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import graft.cep.{CepMatch, Compiler, Ev, MatchEngine, StateCodec}
import graft.cep.spark.{BatchEvaluator, SparkPatterns, StreamEvaluator}
import graft.io.Transcripts

/** The streaming workload: the 30 %-hot corpus, payload pruned and cut by event time into
  * `Slices` files, replayed through `StreamEvaluator.evaluate` (flatMapGroupsWithState,
  * HDFS-backed state store, watermark-complete mode) one file per trigger. The loop is
  * closed: the next trigger starts when the previous batch commits, as in catch-up after a
  * restart. Per-key state read, decode, encode, write and commit dominate here; the batch
  * shuffle layers are idle. */
object StreamBench {
  val Convs = 1600
  val HotShare = 0.3
  /** Micro-batches per drain: p50 has at least 10 samples beyond it. */
  val Slices = 20
  /** The traced run pools drains until p90 has 10 samples beyond it. */
  val TracedBatches = 100
  /** Micro-batches the set-up query runs on for, untimed, before the timed drains. */
  val WarmupBatches = 8
  val Delay = "1 minute"
  val DelayMicros: Long = 60L * 1000000
  val Patterns = SparkPatterns.base
  private val Sentinel = "zz-sentinel"
}

final class StreamBench(o: Opts) extends Workload {
  import StreamBench._

  private val tracer = new Tracer(o.trace)
  private val stages = new StageListener

  private val corpusPath = Corpus.dir(o.workDir, "stream_replay", o.seed, Convs, HotShare,
    s"sl$Slices")

  def prepare(): Unit = Corpus.ensure(corpusPath)(writeSlices)

  /** Writes the slices as b0000.parquet ... in event-time order, plus two far-future
    * sentinel events on their own key that push the final watermark past every real
    * event, so held events and parked negation matches flush. Files get increasing
    * modification times: the file source replays in that order. The events are the
    * generator's turns mapped as `Transcripts.toEv` maps them, payload pruned. A slice
    * never splits the events of one timestamp. */
  private def writeSlices(dst: String): Unit = {
    val evs = (0 until Convs).flatMap(c => Transcripts.genConv(c, o.seed, Convs, HotShare))
      .map { t =>
        val at = t.ts.toInstant
        Ev(t.conv_id, t.turn_idx.toLong, Transcripts.classify(t.role, t.tool),
          at.getEpochSecond * 1000000L + at.getNano / 1000, t.text.length.toDouble, null, null)
      }.sortBy(_.ts)
    val per = (evs.length + Slices - 1) / Slices
    val bounds = (1 until Slices).scanLeft(0) { (start, _) =>
      var end = math.min(evs.length, start + per)
      while (end < evs.length && evs(end).ts == evs(end - 1).ts) end += 1
      end
    } :+ evs.length
    val maxTs = evs.last.ts
    val sentinels = (0 to 1).map(i =>
      Seq(Ev(Sentinel, i, "USER", maxTs + (7200L + 100 * i) * 1000000L, 0, "", null)))
    val files = bounds.sliding(2).map { case Seq(a, b) => evs.slice(a, b) }.toSeq ++ sentinels
    require(files.forall(_.nonEmpty), "empty slice")
    val base = System.currentTimeMillis() - 3600L * 1000
    files.zipWithIndex.foreach { case (rows, i) =>
      val f = f"$dst/b$i%04d.parquet"
      ParquetFiles.write(f, ParquetFiles.EvSchema, rows) { (g, e) =>
        g.append("key", e.key).append("idx", e.idx).append("etype", e.etype).append("ts", e.ts)
          .append("num", e.num)
        if (e.s1 != null) g.append("s1", e.s1)
        if (e.s2 != null) g.append("s2", e.s2)
        g.append("prob", e.prob)
      }
      new File(f).setLastModified(base + i * 1000L)
    }
  }

  /** StreamBench's store settings: the HDFS-backed provider, and a raw local file system
    * ([[LocalFs]]), which skips Hadoop's .crc side files for the local checkpoint. The
    * checkpoint goes through the FileSystem API, so that this file system is used. */
  private def session(): SparkSession = Session.start(o.cores, o.workDir, Map(
    "spark.sql.streaming.stateStore.providerClass" ->
      "org.apache.spark.sql.execution.streaming.state.HDFSBackedStateStoreProvider",
    "spark.sql.streaming.checkpointFileManagerClass" ->
      "org.apache.spark.sql.execution.streaming.checkpointing.FileSystemBasedCheckpointFileManager",
    "spark.hadoop.fs.file.impl" -> classOf[LocalFs].getName,
    "spark.hadoop.fs.file.impl.disable.cache" -> "true",
    "spark.sql.streaming.stateStore.formatValidation.enabled" -> "false"))

  private def source(spark: SparkSession, path: String): Dataset[Ev] = {
    import spark.implicits._
    spark.readStream.schema(Encoders.product[Ev].schema)
      .option("maxFilesPerTrigger", "1").parquet(path).as[Ev]
  }

  private var ckptId = 0
  private def start(spark: SparkSession, path: String): StreamingQuery = {
    ckptId += 1
    val ckpt = s"${o.workDir}/ckpt/${o.workload}-${o.seed}-$ckptId"
    Corpus.deleteRecursively(new File(ckpt))
    StreamEvaluator.evaluate(source(spark, path), Patterns, delay = Delay)
      .filter(col("key") =!= Sentinel)
      .observe("cep", count(lit(1)).as("n"), Digest.sqlDigest.as("digest"))
      .writeStream.format("noop").option("checkpointLocation", ckpt)
      .trigger(Trigger.ProcessingTime(0)).start()
  }

  /** Replays every slice through a fresh checkpoint. */
  private def drain(spark: SparkSession, path: String, n: Int, traced: Boolean): Map[String, Any] = {
    val bl = new BatchListener
    spark.streams.addListener(bl)
    if (traced) spark.sparkContext.addSparkListener(stages)
    val gc0 = HeapPeak.gcSeconds
    var runId = ""
    var progressed = 0
    val (_, wall) = Clock.secs {
      tracer.span("drain", n) {
        val q = start(spark, path)
        runId = q.runId.toString
        q.processAllAvailable()
        progressed = q.recentProgress.length
        q.stop()
      }
    }
    val gc = HeapPeak.gcSeconds - gc0
    // the last progress events may still be on the listener bus
    val deadline = System.nanoTime() + 10L * 1000000000L
    while (bl.all.size < progressed && System.nanoTime() < deadline) Thread.sleep(5)
    spark.streams.removeListener(bl)
    if (traced) {
      stages.await(spark.sparkContext, Seq(runId))
      spark.sparkContext.removeSparkListener(stages)
    }
    Clock.note(s"drain $n: $wall s, traced $traced")
    Map("drain" -> n, "s" -> wall, "gc_s" -> gc, "traced" -> traced, "run_id" -> runId,
      "batches" -> bl.all)
  }

  private def expected(spark: SparkSession, path: String): (Long, Long) = {
    import spark.implicits._
    val evs = spark.read.parquet(path).as[Ev].filter(col("key") =!= Sentinel)
    val r = BatchEvaluator.evaluate(evs, Patterns).agg(count(lit(1)), Digest.sqlDigest).head()
    (r.getLong(0), r.getLong(1))
  }

  def run(): Map[String, Any] = {
    // Set-up, timed from a JVM that has not run Spark yet: session start, pattern compile
    // and the first committed micro-batch.
    val s0 = System.nanoTime()
    val spark = session()
    val path = Corpus.existing(corpusPath)
    val q = start(spark, path)
    while (q.recentProgress.forall(_.numInputRows == 0) && q.exception.isEmpty) Thread.sleep(2)
    q.exception.foreach(e => throw e)
    val setupS = (System.nanoTime() - s0) / 1e9
    Clock.note(s"setup: $setupS s")
    // warm-up: the same query runs on, untimed, while the JIT compiles the hot paths
    while (q.recentProgress.count(_.numInputRows > 0) < WarmupBatches && q.exception.isEmpty)
      Thread.sleep(2)
    q.exception.foreach(e => throw e)
    q.stop()
    Clock.note("warm-up done")
    val turns = spark.read.parquet(path).filter(col("key") =!= Sentinel).count()
    val (expCount, expDigest) = expected(spark, path)
    Clock.note("batch check done")
    System.gc()
    HeapPeak.reset()
    val drains = ArrayBuffer.empty[Map[String, Any]]
    val t0 = System.nanoTime()
    def nonEmpty = drains.map(_("batches").asInstanceOf[Seq[Map[String, Any]]]
      .count(_("input_rows").asInstanceOf[Long] > 0)).sum
    // The traced run alternates untraced and traced drains, for the tracing overhead, and
    // pools them until p90 has 10 samples beyond it.
    while (drains.isEmpty || System.nanoTime() - t0 < o.seconds * 1000000000L ||
      (o.trace && (nonEmpty < TracedBatches || drains.size < 4)))
      drains += drain(spark, path, drains.size + 1, o.trace && drains.size % 2 == 1)
    val heapPeak = HeapPeak.bytes
    val common = Map("workload" -> o.workload, "cores" -> o.cores, "turns" -> turns,
      "setup_s" -> setupS, "heap_peak_bytes" -> heapPeak, "drains" -> drains,
      "expected" -> Map("count" -> expCount, "digest" -> expDigest))
    val out =
      if (!o.trace) common
      else {
        val relevant = Corpus.relevant(spark.read.parquet(path).as(
          Encoders.product[Ev]).filter(col("key") =!= Sentinel), Patterns)
        val relevantRows = relevant.count()
        val groups = EngineLayer.group(relevant.collect())
        val eng = EngineLayer.run(groups, Patterns, o.cores, tracer, 0)
        val scanS = (1 to 3).map { _ =>
          Clock.secs(spark.read.parquet(path).write.format("noop").mode("overwrite").save())._2
        }
        val compileMs = (1 to 50).map(_ => Clock.secs(Patterns.flatMap(Compiler.compile))._2 * 1e3)
        common ++ Map("relevant_rows" -> relevantRows, "engine" -> eng.json,
          "codec" -> codecReplay(spark, path), "scan_s" -> scanS, "compile_ms" -> compileMs,
          "spans" -> tracer.json, "listener" -> stages.json)
      }
    out
  }

  /** Replays the slices through the public snapshot/restore and StateCodec calls, one key
    * visit per (slice, key): decode and restore, feed the watermark-complete events, then
    * snapshot and encode, as the stateful operator does per visit. */
  private def codecReplay(spark: SparkSession, path: String): Map[String, Any] = {
    import spark.implicits._
    val compiled = Patterns.flatMap(Compiler.compile).toIndexedSeq
    val types = Corpus.relevantTypes(Patterns).toSet
    val state = scala.collection.mutable.HashMap.empty[String, Array[Byte]]
    var decodeNs, encodeNs, decodes, encodes, bytes = 0L
    var maxTs = Long.MinValue
    val slices = spark.read.parquet(path)
      .select(struct(Encoders.product[Ev].schema.fieldNames.map(col).toIndexedSeq: _*),
        input_file_name())
      .as[(Ev, String)].collect().filter(r => types(r._1.etype)).groupBy(_._2)
    tracer.span("codec", 0) {
      for (i <- 0 until Slices) {
        val slice = slices.collectFirst { case (f, rs) if f.endsWith(f"/b$i%04d.parquet") => rs.map(_._1) }
          .getOrElse(Array.empty[Ev])
        val watermark = if (maxTs == Long.MinValue) Long.MinValue else maxTs - DelayMicros
        slice.groupBy(_.key).foreach { case (key, incoming) =>
          val engine = new MatchEngine(compiled)
          var t = System.nanoTime()
          val pending = state.get(key) match {
            case Some(b) =>
              val d = StateCodec.read(b)
              engine.restore(d.engine)
              decodeNs += System.nanoTime() - t; decodes += 1
              d.pending
            case None => Vector.empty[Ev]
          }
          val (ready, hold) = (pending ++ incoming).sortBy(e => (e.ts, e.idx))
            .partition(_.ts < watermark)
          ready.foreach(e => engine.feedEach(e)(_ => ()))
          engine.advance(watermark)
          engine.pruneExpired(watermark)
          if (hold.isEmpty && engine.isQuiescent) state.remove(key)
          else {
            t = System.nanoTime()
            val b = StateCodec.write(0, hold, engine.snapshot())
            encodeNs += System.nanoTime() - t; encodes += 1; bytes += b.length
            state(key) = b
          }
        }
        if (slice.nonEmpty) maxTs = math.max(maxTs, slice.map(_.ts).max)
      }
    }
    Map("decode_ns" -> decodeNs, "decodes" -> decodes, "encode_ns" -> encodeNs,
      "encodes" -> encodes, "bytes" -> bytes)
  }
}
