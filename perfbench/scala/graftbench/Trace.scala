package graftbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicInteger
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.streaming.StreamingQueryListener
import scala.jdk.CollectionConverters._

/** Spans recorded around the benchmark's own calls into each module. Spans live in memory
  * and are written out once, when the run ends. A span that runs Spark jobs tags them with
  * a job group named after the span, so [[StageListener]] can attribute stages to it.
  * With tracing off every method is a plain call. */
final class Tracer(val on: Boolean) {
  import Tracer.Span

  private val spans = new ConcurrentLinkedQueue[Span]()
  private val ids = new AtomicInteger(0)
  private val current = new ThreadLocal[Int] { override def initialValue(): Int = -1 }

  def currentId: Int = current.get

  /** Runs `f` as a span under the calling thread's current span. */
  def span[A](name: String, rep: Int, sc: SparkContext = null)(f: => A): A =
    child(current.get, name, rep, sc)(f)

  /** Runs `f` as a span under an explicit parent: for work fanned out to other threads. */
  def child[A](parent: Int, name: String, rep: Int, sc: SparkContext = null)(f: => A): A =
    if (!on) f
    else {
      val id = ids.incrementAndGet()
      val outer = current.get
      val outerGroup = if (sc == null) null else sc.getLocalProperty("spark.jobGroup.id")
      current.set(id)
      if (sc != null) sc.setJobGroup(Tracer.group(id), name)
      val t0 = System.nanoTime()
      try f
      finally {
        spans.add(Span(id, name, parent, rep, t0, System.nanoTime()))
        current.set(outer)
        if (sc != null) {
          if (outerGroup == null) sc.clearJobGroup()
          else sc.setJobGroup(outerGroup, "")
        }
      }
    }

  def all: Seq[Span] = spans.asScala.toSeq.sortBy(_.id)

  def json: Seq[Map[String, Any]] = all.map(s => Map(
    "id" -> s.id, "name" -> s.name, "parent" -> s.parent, "rep" -> s.rep,
    "start_ns" -> s.startNs, "end_ns" -> s.endNs))
}

object Tracer {
  final case class Span(id: Int, name: String, parent: Int, rep: Int, startNs: Long, endNs: Long)

  def group(spanId: Int): String = s"graftbench-span-$spanId"
}

/** Public-listener view of every job: which span's job group ran it, and the task metrics
  * of each of its stages. Aggregation happens in the Python half (benchmath.py). */
final class StageListener extends SparkListener {
  private val jobs = new ConcurrentLinkedQueue[Map[String, Any]]()
  private val ended = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
  private val stages = new ConcurrentLinkedQueue[Map[String, Any]]()
  private val tasks = new ConcurrentLinkedQueue[Map[String, Any]]()

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val g = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
    jobs.add(Map("job" -> e.jobId, "group" -> g.getOrElse(""), "stages" -> e.stageIds))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = ended.add(e.jobId)

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val s = e.stageInfo
    stages.add(Map("stage" -> s.stageId, "submit_ms" -> s.submissionTime.getOrElse(0L),
      "done_ms" -> s.completionTime.getOrElse(0L)))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m != null) tasks.add(Map(
      "stage" -> e.stageId,
      "run_ms" -> m.executorRunTime,
      "cpu_ns" -> m.executorCpuTime,
      "sw_bytes" -> m.shuffleWriteMetrics.bytesWritten,
      "sw_records" -> m.shuffleWriteMetrics.recordsWritten,
      "sw_time_ns" -> m.shuffleWriteMetrics.writeTime,
      "sr_records" -> m.shuffleReadMetrics.recordsRead,
      "sr_wait_ms" -> m.shuffleReadMetrics.fetchWaitTime,
      "spill_bytes" -> (m.memoryBytesSpilled + m.diskBytesSpilled),
      "peak_mem" -> m.peakExecutionMemory))
  }

  /** Blocks until the listener has seen the end of every job of the given job groups.
    * Events of one job reach a listener in order, so its task ends are in by then. */
  def await(sc: SparkContext, groups: Seq[String]): Unit = {
    val ids = groups.flatMap(g => sc.statusTracker.getJobIdsForGroup(g).toSeq)
    val deadline = System.nanoTime() + 30L * 1000000000L
    while (!ids.forall(ended.contains) && System.nanoTime() < deadline) Thread.sleep(5)
  }

  def json: Map[String, Any] = Map(
    "jobs" -> jobs.asScala.toSeq, "stages" -> stages.asScala.toSeq, "tasks" -> tasks.asScala.toSeq)
}

/** Public-listener record of each micro-batch's progress. */
final class BatchListener extends StreamingQueryListener {
  private val batches = new ConcurrentLinkedQueue[Map[String, Any]]()

  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
    val p = e.progress
    val dur = p.durationMs.asScala.map { case (k, v) => k -> v.longValue() }.toMap
    val st = p.stateOperators.headOption
    val observed = Option(p.observedMetrics.get("cep")).map { r =>
      Map("count" -> r.getAs[Long]("n"), "digest" -> r.getAs[Long]("digest"))
    }.getOrElse(Map("count" -> 0L, "digest" -> 0L))
    batches.add(Map(
      "batch" -> p.batchId,
      "input_rows" -> p.numInputRows,
      "trigger_ms" -> dur.getOrElse("triggerExecution", 0L),
      "add_batch_ms" -> dur.getOrElse("addBatch", 0L),
      "state_update_ms" -> st.map(_.allUpdatesTimeMs).getOrElse(0L),
      "state_commit_ms" -> st.map(_.commitTimeMs).getOrElse(0L),
      "state_removal_ms" -> st.map(_.allRemovalsTimeMs).getOrElse(0L),
      "state_rows" -> st.map(_.numRowsTotal).getOrElse(0L),
      "state_rows_updated" -> st.map(_.numRowsUpdated).getOrElse(0L),
      "state_memory_bytes" -> st.map(_.memoryUsedBytes).getOrElse(0L),
      "late_dropped" -> st.map(_.numRowsDroppedByWatermark).getOrElse(0L),
      "matches" -> observed("count"),
      "digest" -> observed("digest")))
  }

  def all: Seq[Map[String, Any]] =
    batches.asScala.toSeq.sortBy(_("batch").asInstanceOf[Long])
}
