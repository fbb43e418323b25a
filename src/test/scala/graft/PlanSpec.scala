package graft

import org.apache.spark.sql.Dataset
import org.apache.spark.sql.catalyst.expressions.CaseWhen
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.execution.{GenerateExec, InputAdapter, ProjectExec, SortExec, SparkPlan,
  WholeStageCodegenExec}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.graftfn.CepEvaluateExec
import org.scalatest.funsuite.AnyFunSuite
import graft.cep.{CepMatch, CTrue, Ev, Pattern}
import graft.cep.PStruct._
import graft.cep.spark.{BatchEvaluator, HyperCube, Rip, SparkT}

/** Physical-plan guards: the properties that matter at 100 TB must not silently regress. */
class PlanSpec extends AnyFunSuite with AdaptiveSparkPlanHelper {
  import SparkT.spark

  private val sf = "/root/testdata/sf0.001"

  test("q1_agg prunes the lineitem scan to the referenced columns") {
    val plan = Queries.q1Agg(spark, sf).queryExecution.executedPlan.toString
    val readSchema = plan.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(readSchema.contains("l_returnflag") && readSchema.contains("l_quantity"))
    assert(!readSchema.contains("l_shipdate") && !readSchema.contains("l_orderkey"),
      s"scan reads unreferenced columns:\n$readSchema")
  }

  test("q_join_nation broadcasts the dimension tables (no fact-side shuffle join)") {
    val plan = Queries.qJoinNation(spark, sf).queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), s"expected broadcast joins:\n$plan")
    assert(!plan.contains("SortMergeJoin"), s"dimension join degraded to sort-merge:\n$plan")
  }

  private def countExchanges(plan: String): Int =
    plan.linesIterator.count(_.trim.startsWith("+- Exchange")) +
      plan.linesIterator.count(_.trim.startsWith("Exchange"))

  test("CEP pipeline has exactly one shuffle (the key exchange)") {
    import spark.implicits._
    val evs = graft.io.EventsTable.load(spark, sf)
    val plan = graft.cep.spark.BatchEvaluator
      .evaluate(evs, Seq(Queries.seq3Pattern)).queryExecution.executedPlan.toString
    assert(countExchanges(plan) == 1, s"expected exactly one Exchange:\n$plan")
  }

  test("brute cosine top-1 never shuffles the quadratic pair stream") {
    val plan = graft.ops.Similarity.bruteTop1(spark, sf).queryExecution.executedPlan.toString
    // the O(n²) pairs must be consumed by a HASH-based partial aggregate inside the
    // stage that produces them: a Window would shuffle n² rows, and a SortAggregate's
    // partial pass would sort (materialize/spill) each task's pair block — nn_top1 is a
    // TypedImperativeAggregate precisely so the plan uses ObjectHashAggregate
    assert(!plan.contains("Window"), s"pair stream reached a window operator:\n$plan")
    assert(!plan.contains("Sort"), s"pair stream reached a sort:\n$plan")
    assert(plan.contains("ObjectHashAggregate"), s"expected hash aggregation of pairs:\n$plan")
  }

  test("auto skew routing is ONE pass: the routed job has exactly one shuffle, no union") {
    import spark.implicits._
    val evs = graft.io.EventsTable.load(spark, sf)
    // threshold low enough that hot keys ARE detected, so the conditional-pane path runs
    val routed = graft.cep.spark.Rip.evaluateAuto(evs, Seq(Queries.seq3Pattern),
      paneMicros = 24L * 3600 * 1000000, hotThreshold = 50L)
    val plan = routed.queryExecution.executedPlan.toString
    assert(countExchanges(plan) == 1,
      s"auto's main job must shuffle once (round-3 shape was plain ∪ salted = two jobs):\n$plan")
    assert(!plan.contains("Union"), s"no plain∪salted union allowed:\n$plan")
  }

  /** `p` without the code-generation wrappers around its operators. */
  private def unwrap(p: SparkPlan): SparkPlan = p match {
    case w: WholeStageCodegenExec => unwrap(w.child)
    case i: InputAdapter => unwrap(i.child)
    case other => other
  }

  /** The four batch entry points over the sf0.001 events (Rip on the hot route), as
    * thunks so a test can plan each under its own settings. */
  private lazy val entryPoints: Seq[(String, () => Dataset[CepMatch])] = {
    val evs = graft.io.EventsTable.load(spark, sf)
    val day = 24L * 3600 * 1000000
    val keyHash: Ev => Long = e => e.key.hashCode.toLong & 0x7fffffffL
    Seq(
      "BatchEvaluator.evaluate" -> (() => BatchEvaluator.evaluate(evs, Seq(Queries.seq3Pattern))),
      "Rip.evaluateAuto hot" -> (() => Rip.evaluateAuto(evs, Seq(Queries.seq3Pattern),
        paneMicros = day, hotThreshold = 50L)),
      "Rip.evaluateSalted" -> (() => Rip.evaluateSalted(evs, Seq(Queries.seq3Pattern), paneMicros = day)),
      "HyperCube.evaluate" -> (() => HyperCube.evaluate(evs, Seq(Queries.and2Pattern),
        attributes = Map("error" -> Seq(keyHash), "purchase" -> Seq(keyHash)), units = 4)))
  }

  test("BatchEvaluator, Rip and HyperCube plan CepEvaluate straight over the Sort, no object round trip") {
    entryPoints.foreach { case (entry, ms) =>
      val plan = ms().queryExecution.executedPlan
      val text = plan.toString
      val execs = collect(plan) { case e: CepEvaluateExec => e }
      assert(execs.size == 1, s"$entry: expected one CepEvaluate:\n$text")
      assert(unwrap(execs.head.child).isInstanceOf[SortExec], s"$entry: CepEvaluate not over the Sort:\n$text")
      Seq("DeserializeToObject", "MapPartitions", "SerializeFromObject").foreach { op =>
        assert(!text.contains(op), s"$entry: $op in the plan:\n$text")
      }
      assert(text.contains("PushedFilters: [In(event_type, ["), s"$entry: type filter not pushed:\n$text")
    }
  }

  test("the dispatch-code projection stays one codegen'd expression for 50 event types") {
    val evs = graft.io.EventsTable.load(spark, sf)
    val patterns = (0 until 25).map(i =>
      Pattern(SEQ(P(s"t${2 * i}", "a"), P(s"t${2 * i + 1}", "b")), CTrue, 1000000L, id = i))
    // the static plan: adaptive execution would only show its codegen stages once run,
    // and then replace the exchange of this empty result by an empty relation
    val plan = staticPlan(BatchEvaluator.evaluate(evs, patterns))
    val exchange = collect(plan) { case e: ShuffleExchangeExec => e }.head
    // the map stage: exactly one codegen stage between the scan and the exchange
    assert(collect(exchange.child) { case w: WholeStageCodegenExec => w }.size == 1,
      s"map stage is not one WholeStageCodegen:\n$plan")
    val feeding = unwrap(exchange.child)
    assert(feeding.isInstanceOf[ProjectExec], s"no projection feeds the exchange:\n$plan")
    val caseWhens = feeding.asInstanceOf[ProjectExec].projectList.flatMap(_.collect { case c: CaseWhen => c })
    assert(caseWhens.isEmpty, s"CASE WHEN in the projection feeding the exchange:\n$plan")
  }

  /** The static plan of `ms`: adaptive execution switched off while it is planned. */
  private def staticPlan(ms: => Dataset[CepMatch]): SparkPlan = {
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try ms.queryExecution.executedPlan finally spark.conf.unset("spark.sql.adaptive.enabled")
  }

  /** The operators compiled into `stage`'s code: its tree down to the InputAdapters. */
  private def inStage(stage: WholeStageCodegenExec): Seq[SparkPlan] = {
    def walk(p: SparkPlan): Seq[SparkPlan] = p match {
      case _: InputAdapter => Nil
      case other => other +: other.children.flatMap(walk)
    }
    walk(stage.child)
  }

  test("Rip's map side is one codegen stage with the pane Generate inside; no CodegenFallback below any exchange") {
    entryPoints.filter(_._1.startsWith("Rip.")).foreach { case (entry, ms) =>
      val plan = staticPlan(ms())
      val exchanges = collect(plan) { case e: ShuffleExchangeExec => e }
      assert(exchanges.size == 1, s"$entry: expected one exchange:\n$plan")
      val stages = collect(exchanges.head.child) { case w: WholeStageCodegenExec => w }
      assert(stages.size == 1 && exchanges.head.child.isInstanceOf[WholeStageCodegenExec],
        s"$entry: map side is not one WholeStageCodegen:\n$plan")
      assert(inStage(stages.head).exists(_.isInstanceOf[GenerateExec]),
        s"$entry: the pane Generate is not inside the map stage's code:\n$plan")
    }
    entryPoints.foreach { case (entry, ms) =>
      val plan = staticPlan(ms())
      val exchanges = collect(plan) { case e: ShuffleExchangeExec => e }
      assert(exchanges.nonEmpty, s"$entry: no exchange:\n$plan")
      val fallbacks = exchanges.flatMap(e => collect(e.child) { case p => p.expressions }.flatten)
        .flatMap(_.collect { case c: CodegenFallback => c })
      assert(fallbacks.isEmpty, s"$entry: CodegenFallback below the exchange: $fallbacks\n$plan")
    }
  }
}
