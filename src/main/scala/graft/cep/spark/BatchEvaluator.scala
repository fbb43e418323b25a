package graft.cep.spark

import org.apache.spark.sql.{Dataset, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftfn.CepEvaluate
import graft.cep._

/**
 * Batch CEP evaluation: the Spark-native replacement for the reference's single-threaded
 * event loop (/root/reference/tree/evaluation/TreeBasedEvaluationMechanism.py:68-106) +
 * GroupByKey thread parallelism
 * (/root/reference/parallel/data_parallel/GroupByKeyParallelExecutionAlgorithm.py:10-48).
 *
 * Plan shape: parquet scan -> Catalyst type/leaf-predicate filter (pushed to the scan) ->
 * shuffle on `key` (the ONLY shuffle) -> sort -> CepEvaluate (per-key NFA advance) ->
 * matches. Scales by key cardinality; hot keys go through [[Rip.evaluateSalted]] instead.
 */
object BatchEvaluator {

  /** Column order [[KeyRuns]] reads, etype as its dispatch code: every CEP shuffle ships
    * these first and its group columns after them. */
  private[spark] val EvCols = Seq("key", "idx", "etype", "ts", "num", "s1", "s2", "prob")

  /** Event-type column as a small int DISPATCH CODE over the pattern set's relevant types
    * (guide §2.3, narrower types): an UnsafeRow string field costs 8 B offset/len plus the
    * padded bytes (16-24 B for typical type names) on every shuffled + sorted row, where
    * the int code costs its fixed 8 B slot. Decoding maps the code back to ONE canonical
    * String instance per type ([[KeyRuns]]), so the engine's per-event dispatch lookup
    * hits identity-equal keys with cached hashCodes instead of allocating a fresh String
    * per row. The code is the type's position in one literal array (-1 when absent), so
    * the projection stays one expression however many types the patterns name. The
    * relevant-type filter runs before this projection, so every row matches exactly one
    * code. */
  private[spark] def etypeCode(types: Array[String]): org.apache.spark.sql.Column =
    (array_position(typedLit(types.toSeq), col("etype")) - 1).cast("int")

  /** [[EvCols]] with the etype string swapped for its dispatch code. */
  private[spark] def codedCols(types: Array[String]): Seq[org.apache.spark.sql.Column] =
    EvCols.map(c => if (c == "etype") etypeCode(types).as(c) else col(c))

  /** The pattern set's relevant event types in first-seen order: the scan filter's list
    * and the dispatch-code table. */
  private[spark] def relevantTypes(compiled: IndexedSeq[CompiledPattern]): Array[String] =
    compiled.flatMap(_.relevantTypes).distinct.toArray

  /** Evaluate patterns over a typed event dataset. The relevant-type filter is applied as a
    * Catalyst predicate BEFORE the shuffle so it reaches the parquet scan (pushdown).
    *
    * Plan: scan -> filter -> dispatch-code projection -> `repartition(key)` ->
    * `sortWithinPartitions(khash, key, ts, idx)` -> [[org.apache.spark.sql.graftfn.CepEvaluate]].
    * The shuffle and sort stay Catalyst operators: `repartition(key)` hash-co-locates each
    * conversation without the map-side object materialization a typed group-by-key pays,
    * and the sort is Tungsten's UnsafeRow sort instead of a per-group `Arrays.sort`. The
    * CepEvaluate operator reads the sorted `InternalRow`s directly — each event becomes an
    * `Ev` once, streaming into the engine at key boundaries ([[KeyRuns]]) — and writes
    * each match straight into an `UnsafeRow`.
    *
    * `sortedStorage` enables binary-searched relop probes (output-invariant; off = the
    * reference's default full-scan probe, /root/reference/misc/DefaultConfig.py:34). */
  def evaluate(events: Dataset[Ev], patterns: Seq[Pattern],
               sortedStorage: Boolean = false): Dataset[CepMatch] =
    evaluateCompiled(events, patterns.flatMap(Compiler.compile).toIndexedSeq, sortedStorage)

  /** Same plan over pre-compiled patterns — the entry point for per-pattern join-order
    * strategies (e.g. [[graft.cep.MultiPlan.localSearch]]'s merged plans). */
  def evaluateCompiled(events: Dataset[Ev], compiled: IndexedSeq[CompiledPattern],
                       sortedStorage: Boolean = false): Dataset[CepMatch] = {
    val types = relevantTypes(compiled)
    CepEvaluate.matches(sortedByKey(events, types), compiled, types, KeyRuns.ByKey(sortedStorage))
  }

  /** The keyed shuffle, rows sorted into key runs for [[KeyRuns.byKey]]. */
  private[spark] def sortedByKey(events: Dataset[Ev], types: Array[String]): DataFrame =
    events
      .filter(col("etype").isin(types.toSeq: _*))
      .toDF()
      .select(codedCols(types) :+ xxhash64(col("key")).as("khash"): _*)
      .repartition(col("key"))
      // Leading with the key's 64-bit hash makes the sort's 8-byte prefix comparison
      // decisive for (almost) every cross-key pair — the raw conv-id strings share long
      // literal prefixes, which would force full UTF8String compares. `key` stays in the
      // order to break hash collisions deterministically; grouping only needs key
      // contiguity, not lexicographic key order.
      .sortWithinPartitions("khash", "key", "ts", "idx")

  /** Flatten matches to a stable-schema DataFrame: one row per match with a `<name>_idx`
    * column per bound slot (KC slots emit the array `<name>_idxs`). Column order follows
    * pattern position; names are deterministic, so results are oracle-comparable. */
  def flat(ms: Dataset[CepMatch], pattern: Pattern): DataFrame = {
    val cp = Compiler.compile(pattern).head
    var df = ms.toDF()
    outputSlots(cp.root).zipWithIndex.foreach { case ((slot, isKc), i) =>
      val name = cp.nameBySlot(slot)
      val evs = element_at(col("binds"), i + 1).getField("evs")
      df =
        if (isKc) df.withColumn(s"${name}_idxs", evs.getField("idx"))
        else df.withColumn(s"${name}_idx", element_at(evs, 1).getField("idx"))
    }
    df.drop("binds")
  }

  /** Slots present in emitted match binds, in slot order, with KC-ness. Negative slots never
    * appear in output; a KC subtree collapses to its bind slot. */
  private def outputSlots(s: Spec): List[(Int, Boolean)] = s match {
    case l: LeafSpec => List((l.slot, false))
    case b: BinSpec  => (outputSlots(b.left) ++ outputSlots(b.right)).sortBy(_._1)
    case k: KCSpec   => List((k.bindSlot, true))
    case n: NegSpec  => outputSlots(n.pos)
  }
}
