package graft.cep.spark

import org.apache.spark.sql.Row
import graft.cep._

/**
 * The one reduce-side run loop behind every batch evaluator: OpenCEP's single-key event
 * loop (`tree/evaluation/TreeBasedEvaluationMechanism.py:68-106`) applied to each group
 * of a sorted partition. GroupByKey, RIP and HyperCube differ only in how the stream is
 * cut into groups and which group owns a match, so those two choices are all a subclass
 * supplies.
 *
 * Rows arrive sorted by (group, ts, idx) in the shared shuffle layout:
 * [[BatchEvaluator.EvCols]] with the int etype code at 0-7, group columns from 8. A fresh
 * [[MatchEngine]] starts whenever the group changes; every match, emitted while feeding
 * or by `finish()`, passes the group's owner filter. The group test runs once per row,
 * so implementations compare primitives against fields: no tuples, no boxing.
 */
private[spark] abstract class KeyRuns(rows: Iterator[Row], compiled: IndexedSeq[CompiledPattern],
                                      types: Array[String], sortedStorage: Boolean = false)
  extends Iterator[CepMatch] {

  /** Is `r` in the current group (asked only once a group was entered); make `r`'s group
    * the current one; does the current group own `m`. */
  protected def sameGroup(r: Row): Boolean
  protected def enter(r: Row): Unit
  protected def owns(m: CepMatch): Boolean

  private var groups, events, matches = 0L
  /** (groups entered, events fed, matches kept) so far. */
  def counts: (Long, Long, Long) = (groups, events, matches)

  private var engine: MatchEngine = null
  private val buf = scala.collection.mutable.Queue.empty[CepMatch]
  private val sink = (m: CepMatch) => if (owns(m)) { buf += m; matches += 1 }

  private def finishGroup(): Unit = { engine.finish().foreach(sink); engine = null }

  private def refill(): Unit = {
    while (buf.isEmpty && rows.hasNext) {
      val r = rows.next()
      if (engine == null || !sameGroup(r)) {
        if (engine != null) finishGroup()
        enter(r)
        groups += 1
        engine = new MatchEngine(compiled, sortedStorage = sortedStorage)
      }
      events += 1
      engine.feedEach(BatchEvaluator.rowToEvCoded(r, types))(sink)
    }
    if (buf.isEmpty && engine != null) finishGroup()
  }

  def hasNext: Boolean = { refill(); buf.nonEmpty }
  def next(): CepMatch = { refill(); buf.dequeue() }
}

private[spark] object KeyRuns {

  /** One group per key (column 0); every match is kept. */
  def byKey(rows: Iterator[Row], compiled: IndexedSeq[CompiledPattern], types: Array[String],
            sortedStorage: Boolean = false): KeyRuns =
    new KeyRuns(rows, compiled, types, sortedStorage) {
      private var key: String = null
      protected def sameGroup(r: Row): Boolean = r.getString(0) == key
      protected def enter(r: Row): Unit = key = r.getString(0)
      protected def owns(m: CepMatch): Boolean = true
    }

  /** One group per (key, pane), the pane a long in column 8. A salted pane owns the
    * matches whose firstTs lies in it; [[Rip.ColdPane]] owns every match of its key. */
  def byPane(rows: Iterator[Row], compiled: IndexedSeq[CompiledPattern], types: Array[String],
             paneMicros: Long): KeyRuns =
    new KeyRuns(rows, compiled, types) {
      private var key: String = null
      private var pane, lo, hi = 0L
      protected def sameGroup(r: Row): Boolean = r.getLong(8) == pane && r.getString(0) == key
      protected def enter(r: Row): Unit = {
        key = r.getString(0)
        pane = r.getLong(8)
        if (pane == Rip.ColdPane) { lo = Long.MinValue; hi = Long.MaxValue }
        else { lo = pane * paneMicros; hi = lo + paneMicros }
      }
      protected def owns(m: CepMatch): Boolean = m.firstTs >= lo && m.firstTs < hi
    }

  /** One group per cube cell, an int in column 8; a cell keeps the matches it is the
    * `ownerCell` of. */
  def byCell(rows: Iterator[Row], compiled: IndexedSeq[CompiledPattern], types: Array[String],
             ownerCell: CepMatch => Int): KeyRuns =
    new KeyRuns(rows, compiled, types) {
      private var cell = 0
      protected def sameGroup(r: Row): Boolean = r.getInt(8) == cell
      protected def enter(r: Row): Unit = cell = r.getInt(8)
      protected def owns(m: CepMatch): Boolean = ownerCell(m) == cell
    }
}
