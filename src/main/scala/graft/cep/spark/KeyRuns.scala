package graft.cep.spark

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.unsafe.types.UTF8String
import graft.cep._

/**
 * The one reduce-side run loop behind every batch evaluator: OpenCEP's single-key event
 * loop (`tree/evaluation/TreeBasedEvaluationMechanism.py:68-106`) applied to each group
 * of a sorted partition. GroupByKey, RIP and HyperCube differ only in how the stream is
 * cut into groups and which group owns a match, so those two choices are all a subclass
 * supplies ([[KeyRuns.Grouping]]). `CepEvaluateExec` drives it over the rows its Sort
 * hands up.
 *
 * Rows arrive as Catalyst `InternalRow`s sorted by (group, ts, idx) in the shared shuffle
 * layout: [[BatchEvaluator.EvCols]] with the int etype code at 0-7, group columns from 8.
 * A fresh [[MatchEngine]] starts whenever the group changes; every match, emitted while
 * feeding or by `finish()`, passes the group's owner filter. The group test runs once per
 * row, so implementations compare `UTF8String`/long/int fields: no tuples, no boxing. The
 * key `String` is decoded only when the key bytes change, the etype is the canonical
 * `types(code)` instance.
 */
abstract class KeyRuns(rows: Iterator[InternalRow], compiled: IndexedSeq[CompiledPattern],
                       types: Array[String], sortedStorage: Boolean = false)
  extends Iterator[CepMatch] {

  /** Is `r` in the current group (asked only once a group was entered, after
    * [[keyChanged]] was set for `r`); make `r`'s group the current one; does the current
    * group own `m`. */
  protected def sameGroup(r: InternalRow): Boolean
  protected def enter(r: InternalRow): Unit
  protected def owns(m: CepMatch): Boolean

  private var groups, events, matches = 0L
  /** (groups entered, events fed, matches kept) so far. */
  def counts: (Long, Long, Long) = (groups, events, matches)

  /** The last row's key bytes (a copy: the input row may be reused) and its decoded
    * String, shared by every event of the run. */
  private var keyBytes: UTF8String = null
  private var key: String = null
  /** Whether the row being read has other key bytes than the row before it. */
  protected var keyChanged = true

  private def readKey(r: InternalRow): Unit = {
    val k = r.getUTF8String(0)
    keyChanged = if (k == null) keyBytes != null else !k.equals(keyBytes)
    if (keyChanged) {
      keyBytes = if (k == null) null else k.clone()
      key = if (k == null) null else k.toString
    }
  }

  private def str(r: InternalRow, i: Int): String = {
    val s = r.getUTF8String(i)
    if (s == null) null else s.toString
  }

  private def decode(r: InternalRow): Ev =
    Ev(key, r.getLong(1), types(r.getInt(2)), r.getLong(3), r.getDouble(4), str(r, 5),
      str(r, 6), r.getDouble(7))

  private var engine: MatchEngine = null
  private val buf = scala.collection.mutable.Queue.empty[CepMatch]
  private val sink = (m: CepMatch) => if (owns(m)) { buf += m; matches += 1 }

  private def finishGroup(): Unit = { engine.finish().foreach(sink); engine = null }

  private def refill(): Unit = {
    while (buf.isEmpty && rows.hasNext) {
      val r = rows.next()
      readKey(r)
      if (engine == null || !sameGroup(r)) {
        if (engine != null) finishGroup()
        enter(r)
        groups += 1
        engine = new MatchEngine(compiled, sortedStorage = sortedStorage)
      }
      events += 1
      engine.feedEach(decode(r))(sink)
    }
    if (buf.isEmpty && engine != null) finishGroup()
  }

  def hasNext: Boolean = { refill(); buf.nonEmpty }
  def next(): CepMatch = { refill(); buf.dequeue() }
}

object KeyRuns {

  /** How a sorted partition is cut into groups, and which group owns a match. */
  sealed trait Grouping extends Serializable
  /** See [[byKey]]. */
  final case class ByKey(sortedStorage: Boolean) extends Grouping
  /** See [[byPane]]. */
  final case class ByPane(paneMicros: Long) extends Grouping
  /** See [[byCell]]. */
  final case class ByCell(ownerCell: CepMatch => Int) extends Grouping {
    override def toString: String = "ByCell"
  }

  def apply(rows: Iterator[InternalRow], compiled: IndexedSeq[CompiledPattern],
            types: Array[String], grouping: Grouping): KeyRuns = grouping match {
    case ByKey(sorted)  => byKey(rows, compiled, types, sorted)
    case ByPane(micros) => byPane(rows, compiled, types, micros)
    case ByCell(owner)  => byCell(rows, compiled, types, owner)
  }

  /** One group per key (column 0); every match is kept. */
  def byKey(rows: Iterator[InternalRow], compiled: IndexedSeq[CompiledPattern],
            types: Array[String], sortedStorage: Boolean = false): KeyRuns =
    new KeyRuns(rows, compiled, types, sortedStorage) {
      protected def sameGroup(r: InternalRow): Boolean = !keyChanged
      protected def enter(r: InternalRow): Unit = ()
      protected def owns(m: CepMatch): Boolean = true
    }

  /** One group per (key, pane), the pane a long in column 8. A salted pane owns the
    * matches whose firstTs lies in it; [[Rip.ColdPane]] owns every match of its key. */
  def byPane(rows: Iterator[InternalRow], compiled: IndexedSeq[CompiledPattern],
             types: Array[String], paneMicros: Long): KeyRuns =
    new KeyRuns(rows, compiled, types) {
      private var pane, lo, hi = 0L
      protected def sameGroup(r: InternalRow): Boolean = r.getLong(8) == pane && !keyChanged
      protected def enter(r: InternalRow): Unit = {
        pane = r.getLong(8)
        if (pane == Rip.ColdPane) { lo = Long.MinValue; hi = Long.MaxValue }
        else { lo = pane * paneMicros; hi = lo + paneMicros }
      }
      protected def owns(m: CepMatch): Boolean = m.firstTs >= lo && m.firstTs < hi
    }

  /** One group per cube cell, an int in column 8; a cell keeps the matches it is the
    * `ownerCell` of. */
  def byCell(rows: Iterator[InternalRow], compiled: IndexedSeq[CompiledPattern],
             types: Array[String], ownerCell: CepMatch => Int): KeyRuns =
    new KeyRuns(rows, compiled, types) {
      private var cell = 0
      protected def sameGroup(r: InternalRow): Boolean = r.getInt(8) == cell
      protected def enter(r: InternalRow): Unit = cell = r.getInt(8)
      protected def owns(m: CepMatch): Boolean = ownerCell(m) == cell
    }
}
