package graft.cep.spark

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.unsafe.types.UTF8String
import org.scalatest.funsuite.AnyFunSuite
import graft.cep._
import graft.cep.PStruct._

/** The shared run loop over hand-built sorted InternalRows: no Spark session. */
class KeyRunsSpec extends AnyFunSuite {

  private val types = Array("A", "B", "C")
  /** SEQ(a, b): the match is emitted while feeding b. */
  private val seqAB = Compiler.compile(
    Pattern(SEQ(P("A", "a"), P("B", "b")), CTrue, windowMicros = 100)).toIndexedSeq
  /** SEQ(a, b, NOT c): the match waits for the window to pass, so `finish()` emits it. */
  private val seqABNotC = Compiler.compile(
    Pattern(SEQ(P("A", "a"), P("B", "b"), NOT(P("C", "c"))), CTrue, windowMicros = 100)).toIndexedSeq

  /** A row in the shuffle layout: EvCols with the etype code, then the group column. */
  private def row(key: String, idx: Long, etype: String, ts: Long, group: Any): InternalRow =
    new GenericInternalRow(Array[Any](UTF8String.fromString(key), idx, types.indexOf(etype), ts,
      0.0, null, null, -1.0, group))

  private def idxs(ms: Seq[CepMatch]): Set[List[Long]] =
    ms.map(_.binds.sortBy(_.slot).flatMap(_.evs.map(_.idx)).toList).toSet

  test("an empty partition yields nothing") {
    val runs = KeyRuns.byKey(Iterator.empty, seqAB, types)
    assert(!runs.hasNext)
    assert(runs.counts == ((0L, 0L, 0L)))
  }

  test("a key change starts a fresh engine") {
    // one engine over all four rows would also match (a0, b1) across the keys
    val rows = Seq(row("k1", 0, "A", 0, null), row("k2", 1, "B", 1, null),
      row("k2", 2, "A", 2, null), row("k2", 3, "B", 3, null))
    val runs = KeyRuns.byKey(rows.iterator, seqAB, types)
    val got = runs.toList
    assert(idxs(got) == Set(List(2L, 3L)) && got.map(_.key) == List("k2"))
    assert(runs.counts == ((2L, 4L, 1L)))
  }

  test("a pane change within one key starts a fresh engine") {
    val rows = Seq(row("k", 0, "A", 5, 0L), row("k", 1, "B", 12, 1L),
      row("k", 2, "A", 13, 1L), row("k", 3, "B", 14, 1L))
    val runs = KeyRuns.byPane(rows.iterator, seqAB, types, paneMicros = 10)
    assert(idxs(runs.toList) == Set(List(2L, 3L)))
    assert(runs.counts._1 == 2)
  }

  test("a cell change starts a fresh engine") {
    val rows = Seq(row("k", 0, "A", 0, 0), row("k", 1, "B", 1, 1),
      row("k", 2, "A", 2, 1), row("k", 3, "B", 3, 1))
    val runs = KeyRuns.byCell(rows.iterator, seqAB, types, _ => 1)
    assert(idxs(runs.toList) == Set(List(2L, 3L)))
    assert(runs.counts._1 == 2)
  }

  test("the pane owner filter applies to matches emitted while feeding and by finish") {
    def emitted(compiled: IndexedSeq[CompiledPattern]): (Int, Int) = {
      val eng = new MatchEngine(compiled)
      val evs = Seq(Ev("k", 0, "A", 5, 0.0, null, null), Ev("k", 1, "B", 12, 0.0, null, null))
      (evs.map(e => eng.feed(e).size).sum, eng.finish().size)
    }
    assert(emitted(seqAB) == ((1, 0)))
    assert(emitted(seqABNotC) == ((0, 1)))
    // the match's firstTs 5 lies in pane 0 = [0, 10): pane 1 drops it, pane 0 and the
    // cold sentinel keep it
    def run(compiled: IndexedSeq[CompiledPattern], pane: Long): List[CepMatch] =
      KeyRuns.byPane(Iterator(row("k", 0, "A", 5, pane), row("k", 1, "B", 12, pane)),
        compiled, types, paneMicros = 10).toList
    Seq(seqAB, seqABNotC).foreach { c =>
      assert(run(c, 1L).isEmpty)
      assert(idxs(run(c, 0L)) == Set(List(0L, 1L)))
      assert(idxs(run(c, Rip.ColdPane)) == Set(List(0L, 1L)))
    }
  }

  test("the cell owner filter applies to matches emitted while feeding and by finish") {
    def run(compiled: IndexedSeq[CompiledPattern], cell: Int): List[CepMatch] =
      KeyRuns.byCell(Iterator(row("k", 0, "A", 5, cell), row("k", 1, "B", 12, cell)),
        compiled, types, m => (m.firstTs % 3).toInt).toList
    Seq(seqAB, seqABNotC).foreach { c =>
      assert(run(c, 1).isEmpty)
      assert(idxs(run(c, 2)) == Set(List(0L, 1L)))
    }
  }
}
