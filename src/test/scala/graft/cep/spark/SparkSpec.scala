package graft.cep.spark

import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite
import graft.cep._
import graft.cep.PStruct._
import graft.io.Transcripts

object SparkT {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  val MIN: Long = 60L * 1000000L

  /** Flagship pattern: user turn -> tool call -> assistant answer within 10 minutes where
    * the assistant's text is longer than the user's (SURVEY.md §7.2 milestone slice). */
  val flagship: Pattern = Pattern(
    SEQ(P("USER", "u"), P("TOOL", "t"), P("ASSISTANT", "a")),
    CBinary("u", "a", (u, a) => a.num > u.num),
    windowMicros = 10 * MIN)

  val negPattern: Pattern = Pattern(
    SEQ(P("USER", "u"), NOT(P("TOOL", "t")), P("ASSISTANT", "a")),
    CTrue, windowMicros = 5 * MIN)

  val kcPattern: Pattern = Pattern(
    SEQ(P("USER", "u"), KC(P("TOOL", "t"), min = 1, max = 3)),
    CTrue, windowMicros = 5 * MIN)

  def canon(ms: Seq[CepMatch]): Set[(String, Int, List[(Int, List[Long])])] =
    ms.map(m => (m.key, m.patternId, m.binds.toList.sortBy(_.slot).map(b => (b.slot, b.evs.map(_.idx))))).toSet
}

class SparkSpec extends AnyFunSuite {
  import SparkT._

  private lazy val turns = Transcripts.generate(nConvs = 30)
  private lazy val evs = Transcripts.toEv(Transcripts.toDs(spark, turns))

  /** The typed-Dataset formulation (`groupByKey(_.key).flatMapGroups`), kept as the
    * semantic specification the row-based plan is tested against. */
  private def evaluateTyped(events: Dataset[Ev], patterns: Seq[Pattern]): Dataset[CepMatch] = {
    import spark.implicits._
    val compiled = patterns.flatMap(Compiler.compile).toIndexedSeq
    val types = compiled.flatMap(_.relevantTypes).distinct
    events
      .filter(col("etype").isin(types: _*))
      .groupByKey(_.key)
      .flatMapGroups { (_, it) =>
        val evs = it.toArray
        java.util.Arrays.sort(evs, Ordering.by((e: Ev) => (e.ts, e.idx)))
        val engine = new MatchEngine(compiled)
        val out = Vector.newBuilder[CepMatch]
        evs.foreach(e => out ++= engine.feed(e))
        out ++= engine.finish()
        out.result().iterator
      }
  }

  test("BatchEvaluator equals the in-process engine on generated transcripts") {
    val patterns = Seq(flagship.copy(id = 0), negPattern.copy(id = 1), kcPattern.copy(id = 2))
    val got = canon(BatchEvaluator.evaluate(evs, patterns).collect().toSeq)
    val local = evs.collect().toSeq
    val want = canon(local.groupBy(_.key).values.toSeq.flatMap { perKey =>
      val eng = new MatchEngine(patterns.flatMap(Compiler.compile).toIndexedSeq)
      perKey.sortBy(e => (e.ts, e.idx)).flatMap(eng.feed) ++ eng.finish()
    })
    assert(got.nonEmpty, "expected at least one match on the generated corpus")
    assert(got == want)
  }

  test("row-based evaluate equals the typed groupByKey formulation") {
    val patterns = Seq(flagship.copy(id = 0), negPattern.copy(id = 1), kcPattern.copy(id = 2))
    val rowBased = canon(BatchEvaluator.evaluate(evs, patterns).collect().toSeq)
    val typed = canon(evaluateTyped(evs, patterns).collect().toSeq)
    assert(rowBased.nonEmpty && rowBased == typed)
  }

  test("salted (RIP pane) evaluation equals unsalted on a skewed corpus") {
    val patterns = Seq(flagship.copy(id = 0), negPattern.copy(id = 1), kcPattern.copy(id = 2))
    val plain = canon(BatchEvaluator.evaluate(evs, patterns).collect().toSeq)
    val salted = canon(Rip.evaluateSalted(evs, patterns, paneMicros = 10 * MIN).collect().toSeq)
    assert(plain.nonEmpty)
    assert(salted == plain)
  }

  test("salted equals unsalted when a negative precedes the first positive (3-pane coverage)") {
    import spark.implicits._
    // AND(a, NOT(b), c): the invalidating b may lie up to `window` BEFORE the match's
    // first positive — the exact shape that needs back-pane replication. Craft the
    // adversarial trio straddling a pane boundary (b at pW-1, a at pW, c at pW+1) plus
    // the full generated corpus.
    val pane = 10 * MIN
    val andNot = Pattern(
      AND(P("USER", "a"), NOT(P("TOOL", "b")), P("ASSISTANT", "c")),
      CTrue, windowMicros = 5 * MIN)
    val trio = Seq(
      Ev("k-boundary", 0, "TOOL", 3 * pane - 1, 0, null, null),
      Ev("k-boundary", 1, "USER", 3 * pane, 0, null, null),
      Ev("k-boundary", 2, "ASSISTANT", 3 * pane + 1, 0, null, null))
    val crafted = spark.createDataset(trio)
    val plainCrafted = canon(BatchEvaluator.evaluate(crafted, Seq(andNot)).collect().toSeq)
    val saltedCrafted = canon(Rip.evaluateSalted(crafted, Seq(andNot), pane).collect().toSeq)
    assert(plainCrafted.isEmpty, "the boundary-straddling b must kill the match")
    assert(saltedCrafted == plainCrafted)
    val plain = canon(BatchEvaluator.evaluate(evs, Seq(andNot)).collect().toSeq)
    val salted = canon(Rip.evaluateSalted(evs, Seq(andNot), pane).collect().toSeq)
    assert(plain.nonEmpty)
    assert(salted == plain)
  }

  test("windowed replication boundaries: members exactly `window` into / before a pane edge") {
    import spark.implicits._
    // pane = 2*window: events beyond `window` into a pane are NOT replicated to pane p-1;
    // this pins the inclusive window edge (ts - firstTs == window is a valid match) right
    // at the replication cutoff, and likewise the back-replica cutoff for a leading NOT.
    val pane = 10 * MIN
    val w = 5 * MIN
    val seqP = Pattern(SEQ(P("USER", "u"), P("ASSISTANT", "a")), CTrue, windowMicros = w)
    // u just before the pane-3 boundary, a exactly `window` later (== w into pane 3):
    // the match is owned by pane 2 and `a` sits exactly at the replication cutoff
    val edge = Seq(
      Ev("k-e1", 0, "USER", 3 * pane - 1, 0, null, null),
      Ev("k-e1", 1, "ASSISTANT", 3 * pane - 1 + w, 0, null, null),
      // and one pair straddling with a at cutoff+1 (must NOT match: window exceeded)
      Ev("k-e2", 0, "USER", 5 * pane - 1, 0, null, null),
      Ev("k-e2", 1, "ASSISTANT", 5 * pane + w, 0, null, null))
    val ds = spark.createDataset(edge)
    val plain = canon(BatchEvaluator.evaluate(ds, Seq(seqP)).collect().toSeq)
    val salted = canon(Rip.evaluateSalted(ds, Seq(seqP), pane).collect().toSeq)
    assert(plain.map(_._1) == Set("k-e1"), s"want exactly the k-e1 match, got $plain")
    assert(salted == plain)
    // leading NOT: the negative exactly `window` before the first positive invalidates
    // (inclusive), and lives exactly at the back-replica cutoff of its pane
    val notFirst = Pattern(
      SEQ(NOT(P("TOOL", "b")), P("USER", "u"), P("ASSISTANT", "a")), CTrue, windowMicros = w)
    // the merged window check INCLUDES the negative, so b exactly `window` before u
    // invalidates only when the full span (b..a) is <= window: a ties with u
    val negEdge = Seq(
      Ev("k-n1", 0, "TOOL", 4 * pane - w, 0, null, null), // == paneStart(4) - w, back-replica cutoff
      Ev("k-n1", 1, "USER", 4 * pane, 0, null, null),
      Ev("k-n1", 2, "ASSISTANT", 4 * pane, 0, null, null),
      // control key without the negative: must match
      Ev("k-n2", 1, "USER", 4 * pane, 0, null, null),
      Ev("k-n2", 2, "ASSISTANT", 4 * pane, 0, null, null))
    val ds2 = spark.createDataset(negEdge)
    val plain2 = canon(BatchEvaluator.evaluate(ds2, Seq(notFirst)).collect().toSeq)
    val salted2 = canon(Rip.evaluateSalted(ds2, Seq(notFirst), pane).collect().toSeq)
    assert(plain2.map(_._1) == Set("k-n2"), s"want only the control match, got $plain2")
    assert(salted2 == plain2)
  }

  test("auto hot-key routing equals plain, with and without a triggering hot key") {
    val patterns = Seq(flagship.copy(id = 0), negPattern.copy(id = 1), kcPattern.copy(id = 2))
    val plain = canon(BatchEvaluator.evaluate(evs, patterns).collect().toSeq)
    // threshold low enough that the generated hot conversation routes through panes
    val hotCount = evs.filter(_.key == "conv-00000").count()
    val routed = canon(Rip.evaluateAuto(evs, patterns, paneMicros = 10 * MIN,
      hotThreshold = hotCount / 2).collect().toSeq)
    assert(routed == plain)
    // threshold above every key: pure plain path (no replication, same output)
    val unrouted = canon(Rip.evaluateAuto(evs, patterns, paneMicros = 10 * MIN,
      hotThreshold = Long.MaxValue).collect().toSeq)
    assert(unrouted == plain)
    // a policy pattern routes everything plain rather than through panes
    val withPolicy = Seq(flagship.copy(policy = Policy(single = Set("TOOL"))))
    val p2 = canon(BatchEvaluator.evaluate(evs, withPolicy).collect().toSeq)
    val a2 = canon(Rip.evaluateAuto(evs, withPolicy, paneMicros = 10 * MIN,
      hotThreshold = 1L).collect().toSeq)
    assert(a2 == p2)
  }

  test("0-row and 1-row inputs give an empty result through every batch entry point") {
    import spark.implicits._
    val patterns = Seq(flagship.copy(id = 0), negPattern.copy(id = 1), kcPattern.copy(id = 2))
    val inputs = Seq(Seq.empty[Ev], Seq(Ev("k", 0, "USER", 3 * MIN, 1.0, "hi", null)))
    inputs.foreach { rows =>
      val ds = spark.createDataset(rows)
      val metrics = new CepMetrics(spark)
      val results = Seq(
        "BatchEvaluator.evaluate" -> BatchEvaluator.evaluate(ds, patterns),
        "Rip.evaluateSalted" -> Rip.evaluateSalted(ds, patterns, 10 * MIN),
        // threshold 0 flags every key hot (paned route); Long.MaxValue none (keyed route)
        "Rip.evaluateAuto hot" -> Rip.evaluateAuto(ds, patterns, 10 * MIN, hotThreshold = 0L),
        "Rip.evaluateAuto cold" -> Rip.evaluateAuto(ds, patterns, 10 * MIN, hotThreshold = Long.MaxValue),
        "HyperCube.evaluate" -> HyperCube.evaluate(ds, patterns,
          attributes = Map("USER" -> Seq((e: Ev) => e.num.toLong)), units = 4),
        "Instrumented.evaluate" -> Instrumented.evaluate(ds, patterns, metrics))
      results.foreach { case (entry, ms) =>
        assert(ms.collect().isEmpty, s"$entry on ${rows.size} rows")
      }
      assert(metrics.eventsIn.value == rows.size && metrics.matchesOut.value == 0L)
    }
  }

  test("salted evaluation rejects MATCH_NEXT patterns (cross-pane consumption state)") {
    val p = flagship.copy(policy = Policy(next = Set("TOOL")))
    val e = intercept[IllegalArgumentException] {
      Rip.evaluateSalted(evs, Seq(p), paneMicros = 10 * MIN)
    }
    assert(e.getMessage.contains("MATCH_ANY"))
  }

  test("salted evaluation spreads the hot key over many panes") {
    import spark.implicits._
    val hot = evs.filter(_.key == "conv-00000")
    val panes = hot.map(e => Math.floorDiv(e.ts, 10 * MIN)).distinct().count()
    assert(panes > 4, s"hot conversation should span >4 panes, got $panes")
  }

  test("type filter is pushed into the scan") {
    val patterns = Seq(flagship)
    val tmp = java.nio.file.Files.createTempDirectory("graftpq").toString
    evs.write.mode("overwrite").parquet(tmp)
    import spark.implicits._
    val fromDisk = spark.read.parquet(tmp).as[Ev]
    val plan = BatchEvaluator.evaluate(fromDisk, patterns).queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters") && plan.contains("In(etype"),
      s"expected etype IN filter pushed to parquet scan:\n$plan")
  }
}
