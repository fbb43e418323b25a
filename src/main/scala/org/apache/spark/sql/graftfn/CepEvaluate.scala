package org.apache.spark.sql.graftfn

import org.apache.spark.TaskContext
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{classic, DataFrame, Dataset, Encoders}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Attribute, AttributeSet, UnsafeRow}
import org.apache.spark.sql.catalyst.expressions.codegen.{UnsafeArrayWriter, UnsafeRowWriter}
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, UnaryNode}
import org.apache.spark.sql.catalyst.types.DataTypeUtils
import org.apache.spark.sql.execution.{SparkPlan, SparkStrategy, UnaryExecNode}
import org.apache.spark.sql.execution.metric.{SQLMetric, SQLMetrics}
import org.apache.spark.unsafe.types.UTF8String
import graft.cep.{Bind, CepMatch, CompiledPattern}
import graft.cep.spark.KeyRuns

/**
 * The batch CEP operator as a Catalyst node: OpenCEP's per-key evaluation loop over the
 * sorted rows of a shuffle, one output row per `PatternMatch` (`base/PatternMatch.py`).
 *
 * `child` is the sorted shuffle in [[KeyRuns]]' layout. The exec feeds its `InternalRow`s
 * to [[KeyRuns]] with no `Row` decode, writes every match straight into an `UnsafeRow` of
 * the `CepMatch` schema ([[MatchWriter]]), and counts groups, events and matches as
 * SQLMetrics. Scan, pushed filters, exchange and sort stay ordinary Catalyst operators
 * below it, so `explain` shows the whole pipeline.
 *
 * `onTask`, when set, also receives each task's (partition, groups, events, matches).
 */
case class CepEvaluate(
    child: LogicalPlan,
    compiled: IndexedSeq[CompiledPattern],
    types: Array[String],
    grouping: KeyRuns.Grouping,
    output: Seq[Attribute],
    onTask: Option[CepEvaluate.TaskCounts] = None) extends UnaryNode {

  // reads every child column by ordinal: none may be pruned below it
  override def references: AttributeSet = child.outputSet
  override def producedAttributes: AttributeSet = outputSet
  override protected def stringArgs: Iterator[Any] = CepEvaluate.args(compiled, types, grouping)
  override protected def withNewChildInternal(newChild: LogicalPlan): CepEvaluate =
    copy(child = newChild)
}

object CepEvaluate {
  /** (partition, groups, events, matches) of one finished task. */
  type TaskCounts = (Int, Long, Long, Long) => Unit

  private val encoder = Encoders.product[CepMatch]

  /** Matches of `sorted` (rows in [[KeyRuns]]' layout, sorted into groups). */
  def matches(sorted: DataFrame, compiled: IndexedSeq[CompiledPattern], types: Array[String],
              grouping: KeyRuns.Grouping, onTask: Option[TaskCounts] = None): Dataset[CepMatch] = {
    val session = sorted.sparkSession.asInstanceOf[classic.SparkSession]
    CepStrategy.setup(session)
    val node = CepEvaluate(sorted.queryExecution.analyzed, compiled, types, grouping,
      DataTypeUtils.toAttributes(encoder.schema), onTask)
    classic.Dataset.ofRows(session, node).as[CepMatch](encoder)
  }

  private[graftfn] def args(compiled: IndexedSeq[CompiledPattern], types: Array[String],
                            grouping: KeyRuns.Grouping): Iterator[Any] =
    Iterator(s"patterns=${compiled.length}", types.mkString("types=[", ", ", "]"), grouping)
}

case class CepEvaluateExec(
    child: SparkPlan,
    compiled: IndexedSeq[CompiledPattern],
    types: Array[String],
    grouping: KeyRuns.Grouping,
    output: Seq[Attribute],
    onTask: Option[CepEvaluate.TaskCounts]) extends UnaryExecNode {

  override lazy val metrics: Map[String, SQLMetric] = Map(
    "groups" -> SQLMetrics.createMetric(sparkContext, "number of groups"),
    "events" -> SQLMetrics.createMetric(sparkContext, "number of events"),
    "matches" -> SQLMetrics.createMetric(sparkContext, "number of matches"))

  override def references: AttributeSet = child.outputSet
  override def producedAttributes: AttributeSet = outputSet
  override protected def stringArgs: Iterator[Any] = CepEvaluate.args(compiled, types, grouping)
  override def verboseStringWithOperatorId(): String =
    super.verboseStringWithOperatorId() + s"Metrics: ${metrics.keys.toSeq.sorted.mkString("[", ", ", "]")}\n"

  protected def doExecute(): RDD[InternalRow] = {
    val (groupsM, eventsM, matchesM) = (longMetric("groups"), longMetric("events"), longMetric("matches"))
    val (compiled, types, grouping, onTask) = (this.compiled, this.types, this.grouping, this.onTask)
    child.execute().mapPartitionsWithIndexInternal { (partition, rows) =>
      val runs = KeyRuns(rows, compiled, types, grouping)
      TaskContext.get().addTaskCompletionListener[Unit] { _ =>
        val (g, e, m) = runs.counts
        groupsM += g; eventsM += e; matchesM += m
        onTask.foreach(_(partition, g, e, m))
      }
      val writer = new MatchWriter
      runs.map(writer.write)
    }
  }

  override protected def withNewChildInternal(newChild: SparkPlan): CepEvaluateExec =
    copy(child = newChild)
}

/** Plans [[CepEvaluate]]; [[setup]] injects it into a session's extra strategies once. */
object CepStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case CepEvaluate(child, compiled, types, grouping, output, onTask) =>
      CepEvaluateExec(planLater(child), compiled, types, grouping, output, onTask) :: Nil
    case _ => Nil
  }

  def setup(session: classic.SparkSession): Unit = session.synchronized {
    if (!session.experimental.extraStrategies.contains(CepStrategy))
      session.experimental.extraStrategies = CepStrategy +: session.experimental.extraStrategies
  }
}

/**
 * Writes a [[CepMatch]] as an `UnsafeRow` of `Encoders.product[CepMatch].schema`:
 * `key, patternId, firstTs, lastTs, binds: array<struct<slot, name, evs:
 * array<struct<key, idx, etype, ts, num, s1, s2, prob>>, aggId>>, prob`.
 *
 * The engine shares one `Bind` between every match that contains it, so each bind struct
 * is encoded once into a standalone `UnsafeRow` (a struct's offsets are relative to its
 * own start) and copied into every match row that holds it, as generated
 * `UnsafeProjection`s copy an `UnsafeRow` struct value. Encoded binds are kept by `Bind`
 * identity, `s1`/`s2` payloads by String identity (one event sits in the binds of several
 * leaves), keys by the last String instance (a key run shares one), etypes and bind
 * names by value. The returned row is reused by the next call.
 */
final class MatchWriter {
  private val row = new UnsafeRowWriter(6, 256)
  private val binds = new UnsafeArrayWriter(row, 8)
  private val bind = new UnsafeRowWriter(4, 128)
  private val evs = new UnsafeArrayWriter(bind, 8)
  private val ev = new UnsafeRowWriter(evs, 8)

  private var lastKey: String = null
  private var lastKeyUtf: UTF8String = null
  private val names = new java.util.HashMap[String, UTF8String]()

  private def keyUtf(k: String): UTF8String = {
    if (!(k eq lastKey)) { lastKey = k; lastKeyUtf = UTF8String.fromString(k) }
    lastKeyUtf
  }

  private def nameUtf(s: String): UTF8String = {
    if (s == null) return null
    var u = names.get(s)
    if (u == null) { u = UTF8String.fromString(s); names.put(s, u) }
    u
  }

  // Identity caches are direct-mapped by identity hash: a slot is overwritten on
  // collision, never searched.
  private val payloads = new Array[String](1024)
  private val payloadUtfs = new Array[UTF8String](1024)

  private def payloadUtf(s: String): UTF8String = {
    if (s == null) return null
    val i = System.identityHashCode(s) & 1023
    if (!(payloads(i) eq s)) { payloads(i) = s; payloadUtfs(i) = UTF8String.fromString(s) }
    payloadUtfs(i)
  }

  private val bindKeys = new Array[Bind](1024)
  private val bindRows = Array.fill(1024)(new UnsafeRow(4))

  private def bindRow(b: Bind): UnsafeRow = {
    val i = System.identityHashCode(b) & 1023
    val r = bindRows(i)
    if (!(bindKeys(i) eq b)) {
      encode(b)
      val n = bind.totalSize()
      val buf = r.getBaseObject match {
        case a: Array[Byte] if a.length >= n => a
        case _ => new Array[Byte](math.max(n, 128))
      }
      System.arraycopy(bind.getBuffer, 0, buf, 0, n)
      r.pointTo(buf, n)
      bindKeys(i) = b
    }
    r
  }

  private def writeStr(w: UnsafeRowWriter, i: Int, s: UTF8String): Unit =
    if (s == null) w.setNullAt(i) else w.write(i, s)

  /** `b` into the standalone bind writer. */
  private def encode(b: Bind): Unit = {
    bind.reset()
    bind.zeroOutNullBytes()
    bind.write(0, b.slot)
    writeStr(bind, 1, nameUtf(b.name))
    val evsStart = bind.cursor()
    evs.initialize(b.evs.length)
    var j = 0
    var es = b.evs
    while (es.nonEmpty) {
      val e = es.head
      val evStart = evs.cursor()
      ev.resetRowWriter()
      writeStr(ev, 0, keyUtf(e.key))
      ev.write(1, e.idx)
      writeStr(ev, 2, nameUtf(e.etype))
      ev.write(3, e.ts)
      ev.write(4, e.num)
      writeStr(ev, 5, payloadUtf(e.s1))
      writeStr(ev, 6, payloadUtf(e.s2))
      ev.write(7, e.prob)
      evs.setOffsetAndSizeFromPreviousCursor(j, evStart)
      j += 1
      es = es.tail
    }
    bind.setOffsetAndSizeFromPreviousCursor(2, evsStart)
    bind.write(3, b.aggId)
  }

  def write(m: CepMatch): UnsafeRow = {
    row.reset()
    row.zeroOutNullBytes()
    writeStr(row, 0, keyUtf(m.key))
    row.write(1, m.patternId)
    row.write(2, m.firstTs)
    row.write(3, m.lastTs)
    val bindsStart = row.cursor()
    binds.initialize(m.binds.length)
    var i = 0
    val bi = m.binds.iterator
    while (bi.hasNext) {
      binds.write(i, bindRow(bi.next()))
      i += 1
    }
    row.setOffsetAndSizeFromPreviousCursor(4, bindsStart)
    row.write(5, m.prob)
    row.getRow
  }
}
