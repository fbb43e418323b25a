package graft.cep.spark

import org.apache.spark.sql.Dataset
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.graftfn.{CepEvaluateExec, MatchWriter}
import org.scalatest.funsuite.AnyFunSuite
import graft.cep._
import graft.io.Transcripts

/** The CepEvaluate operator: its UnsafeRow writer and its SQLMetrics. */
class CepEvaluateSpec extends AnyFunSuite with AdaptiveSparkPlanHelper {
  import SparkT._

  test("the match writer's rows read back through the CepMatch encoder as the input matches") {
    def ev(key: String, idx: Long, etype: String, s1: String, s2: String, prob: Double = -1.0) =
      Ev(key, idx, etype, 10L * idx, idx * 1.5, s1, s2, prob)
    val k = "conv-7"
    val kleene = Bind(1, "t", List(ev(k, 1, "TOOL", "grep", null), ev(k, 2, "TOOL", null, "ls -l"),
      ev(k, 3, "TOOL", "naïve café ✓", "日本語テキスト")), aggId = 4L)
    // one event object bound in two matches, as the engine shares them
    val user = ev(k, 0, "USER", "€ and 𝄞", "x", 0.5)
    val ms = Seq(
      CepMatch(k, 0, 0L, 30L, Vector(Bind(0, "u", List(ev(k, 0, "USER", null, null))), kleene), -1.0),
      CepMatch(k, 2, 0L, 40L, Vector(Bind(0, "u", List(user)),
        Bind(2, "a", List(ev(k, 4, "ASSISTANT", "", null, 0.25)))), 0.125),
      CepMatch(k, 1, 0L, 10L, Vector(Bind(0, "u", List(user)), Bind(1, "t", List(ev(k, 1, "TOOL", "grep", null)))), 0.5),
      CepMatch("ключ", 1, 50L, 50L, Vector(Bind(0, "z", List(ev("ключ", 5, "USER", "s", "t", 0.0)))), 0.0),
      CepMatch(null, 3, 60L, 60L, Vector.empty, 1.0),
      // one bind object in two matches, as the engine shares them
      CepMatch(k, 2, 10L, 30L, Vector(kleene), -1.0))
    val back = ExpressionEncoder[CepMatch]().resolveAndBind().createDeserializer()
    val writer = new MatchWriter
    // the writer reuses its row: copy each before the next write
    val rows = ms.map(m => writer.write(m).copy())
    assert(rows.map(back) == ms)
    // more shared binds than the writer's caches hold, with payloads of varying length
    val rnd = new scala.util.Random(5)
    val pool = (0 until 3000).map(i => Bind(i % 4, s"n${i % 4}",
      List.tabulate(1 + i % 3)(j => ev(s"k${i % 7}", i * 3L + j, "TOOL", "é" * rnd.nextInt(300), null))))
    val many = (0 until 6000).map(i =>
      CepMatch(s"k${i % 7}", i % 3, i, i + 1, Vector.fill(1 + i % 3)(pool(rnd.nextInt(pool.size))), -1.0))
    assert(many.map(m => back(writer.write(m).copy())) == many)
  }

  private lazy val evs = Transcripts.toEv(Transcripts.toDs(spark, Transcripts.generate(nConvs = 30)))

  /** Collects `ms`, then returns (collected count, the exec's metrics, records shuffled). */
  private def run(ms: Dataset[CepMatch]): (Long, Map[String, Long], Long) = {
    val n = ms.collect().length.toLong
    val plan: SparkPlan = ms.queryExecution.executedPlan
    val execs = collect(plan) { case e: CepEvaluateExec => e }
    val exchanges = collect(plan) { case e: ShuffleExchangeExec => e }
    assert(execs.size == 1 && exchanges.size == 1, plan.toString)
    (n, execs.head.metrics.map { case (k, m) => k -> m.value },
      exchanges.head.metrics("shuffleRecordsWritten").value)
  }

  test("the exec's SQLMetrics count the collected matches and the shuffled events") {
    val patterns = Seq(flagship.copy(id = 0), negPattern.copy(id = 1), kcPattern.copy(id = 2))
    val runs = Seq(
      "BatchEvaluator.evaluate" -> BatchEvaluator.evaluate(evs, patterns),
      // threshold 0 flags every key hot: the paned route
      "Rip.evaluateAuto hot" -> Rip.evaluateAuto(evs, patterns, 10 * MIN, hotThreshold = 0L),
      "HyperCube.evaluate" -> HyperCube.evaluate(evs, Seq(flagship),
        attributes = Map("USER" -> Seq((e: Ev) => e.num.toLong)), units = 4))
    runs.foreach { case (entry, ms) =>
      val (n, metrics, shuffled) = run(ms)
      assert(n > 0, entry)
      assert(metrics("matches") == n, entry)
      assert(metrics("events") == shuffled && shuffled > 0, entry)
      assert(metrics("groups") > 0, entry)
    }
  }

  test("Instrumented counts come from the exec that ran") {
    val metrics = new CepMetrics(spark)
    val ms = Instrumented.evaluate(evs, Seq(flagship), metrics)
    val (n, execMetrics, _) = run(ms)
    assert(metrics.matchesOut.value == n && metrics.eventsIn.value == execMetrics("events"))
    assert(metrics.summary.values.map(_._1).sum == execMetrics("groups"))
  }
}
