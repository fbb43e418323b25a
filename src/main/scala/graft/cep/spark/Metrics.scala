package graft.cep.spark

import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.graftfn.CepEvaluate
import org.apache.spark.util.{CollectionAccumulator, LongAccumulator}
import graft.cep._
import scala.collection.mutable

/**
 * Per-partition lineage + metrics for CEP runs (north-rule requirement): every emitted
 * match is attributed to the Spark partition (task) that produced it, and counters are
 * driver-visible through accumulators — the local-mode stand-in for executor metrics on a
 * real cluster.
 */
final class CepMetrics(spark: SparkSession) extends Serializable {
  val eventsIn: LongAccumulator = spark.sparkContext.longAccumulator("cep.events_in")
  val matchesOut: LongAccumulator = spark.sparkContext.longAccumulator("cep.matches_out")
  /** (partitionId, keyCount, eventCount, matchCount) per completed task — the lineage map. */
  val partitionLineage: CollectionAccumulator[(Int, Long, Long, Long)] =
    spark.sparkContext.collectionAccumulator[(Int, Long, Long, Long)]("cep.partition_lineage")

  def summary: Map[Int, (Long, Long, Long)] = {
    val m = mutable.Map.empty[Int, (Long, Long, Long)]
    partitionLineage.value.forEach { case (p, k, e, mt) =>
      val (k0, e0, m0) = m.getOrElse(p, (0L, 0L, 0L))
      m(p) = (k0 + k, e0 + e, m0 + mt)
    }
    m.toMap
  }
}

object Instrumented {
  /** Batch evaluation with per-partition lineage/metrics: BatchEvaluator's own keyed
    * plan, with each task's counts handed over by its CepEvaluate operator when the task
    * completes. */
  def evaluate(events: Dataset[Ev], patterns: Seq[Pattern], metrics: CepMetrics): Dataset[CepMatch] = {
    val compiled = patterns.flatMap(Compiler.compile).toIndexedSeq
    val types = BatchEvaluator.relevantTypes(compiled)
    val onTask = (partition: Int, keys: Long, evs: Long, ms: Long) => {
      metrics.eventsIn.add(evs); metrics.matchesOut.add(ms)
      metrics.partitionLineage.add((partition, keys, evs, ms))
    }
    CepEvaluate.matches(BatchEvaluator.sortedByKey(events, types), compiled, types,
      KeyRuns.ByKey(sortedStorage = false), Some(onTask))
  }
}

/** Streaming listener: per-batch progress (rows, rates, watermark, state size) retained in
  * memory and printable as JSON lines — checkpoint-company for the stream evaluator. */
final class CepQueryListener extends StreamingQueryListener {
  final case class BatchMetrics(batchId: Long, inputRows: Long, processedRowsPerSec: Double,
                                stateRows: Long, watermark: String, observed: Map[String, Long],
                                durationMs: Map[String, Long] = Map.empty)
  private val buf = new java.util.concurrent.ConcurrentLinkedQueue[BatchMetrics]()

  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
    val p = e.progress
    val stateRows = if (p.stateOperators.nonEmpty) p.stateOperators(0).numRowsTotal else 0L
    val stateTimes: Map[String, Long] =
      if (p.stateOperators.isEmpty) Map.empty
      else {
        val s = p.stateOperators(0)
        Map("stateUpdateMs" -> s.allUpdatesTimeMs, "stateRemovalMs" -> s.allRemovalsTimeMs,
          "stateCommitMs" -> s.commitTimeMs, "droppedByWatermark" -> s.numRowsDroppedByWatermark)
      }
    val observed = {
      val m = Map.newBuilder[String, Long]
      p.observedMetrics.forEach { (name, row) =>
        (0 until row.length).foreach { i =>
          row.get(i) match {
            case l: java.lang.Long => m += s"$name.${row.schema(i).name}" -> l
            case _ => ()
          }
        }
      }
      m.result()
    }
    val durations = {
      val m = Map.newBuilder[String, Long]
      p.durationMs.forEach((k, v) => m += k -> v.longValue())
      m.result()
    }
    buf.add(BatchMetrics(p.batchId, p.numInputRows, p.processedRowsPerSecond, stateRows,
      Option(p.eventTime.get("watermark")).getOrElse(""), observed, durations ++ stateTimes))
  }

  def batches: Seq[BatchMetrics] = {
    val it = buf.iterator(); val b = Vector.newBuilder[BatchMetrics]
    while (it.hasNext) b += it.next()
    b.result()
  }
}
