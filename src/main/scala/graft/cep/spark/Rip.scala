package graft.cep.spark

import org.apache.spark.sql.{Column, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftfn.CepEvaluate
import graft.cep._

/**
 * Skew handling: RIP-style time-pane salting
 * (/root/reference/parallel/data_parallel/RIPParallelExecutionAlgorithm.py:11-70).
 *
 * A single hot key (one conversation holding a large share of the stream) would serialize
 * on one task under plain keyed evaluation. Here event time is sliced into panes of width
 * `paneMicros >= window`; a pane-(p-1)-owned match has firstTs < p*paneWidth and spans at
 * most `window`, so only events in the FIRST `window` micros of pane p replicate to the
 * previous pane — replication factor 1 + window/pane (1.17 at the bench's pane = 6x
 * window), computed entirely in Catalyst: the explode of a conditional pane array
 * ([[paneArray]]) compiles, with the scan, filter and projections around it, into the
 * map stage's one WholeStageCodegen. A match is kept only by its owner pane (the pane
 * containing firstTs), mirroring the reference's owner-dedup rule
 * (RIPParallelExecutionAlgorithm.py:45-52), so each match is emitted exactly once; a hot
 * key fans out over ceil(timespan/pane) tasks. The shuffle and
 * per-pane evaluation are the same Catalyst operators as BatchEvaluator's (hash-led
 * Tungsten sort, then CepEvaluate's streaming group walk over the sorted InternalRows).
 *
 * Negation coverage: a match's positives all lie in [firstTs, firstTs + W), but an
 * INVALIDATING NEGATIVE may lie up to `window` BEFORE firstTs when the pattern has a
 * negative that can precede its first positive (NOT at the start of a SEQ, or any NOT
 * under AND — the merged window check /root/reference/tree/nodes/Node.py:187-193 admits a
 * negative at firstTs - W). For such patterns, negative-TYPE events in the LAST `window`
 * of a pane are ALSO replicated to pane p+1 — only when the pattern shape requires it.
 *
 * Restriction (same as the reference's RIP): MATCH_ANY only. single / freeze / next
 * consumption policies carry cross-pane state (root filtered-event sets, freezer
 * lifetimes, per-node single-attempt maps), so a replicated event could be consumed
 * independently in two panes — those patterns route through the plain keyed path.
 */
object Rip {

  /** Pane id of events on keys the auto-router left UNSALTED: one group per key, no
    * replication, owner filter disabled (lo/hi become the whole time line). Collision
    * with a real pane id would need ts near Long.MinValue*pane — out of domain. */
  private[spark] val ColdPane = Long.MinValue

  /** True when some negative of `cp` can arrive up to one window before the pattern's
    * first positive event: any NOT under AND, or a SEQ negative whose slot precedes every
    * positive slot. Drives the 3-pane replication above. */
  private[spark] def negCanPrecedeFirstPositive(cp: CompiledPattern): Boolean = {
    val negSpecs = cp.nodes.collect { case n: NegSpec => n }
    if (negSpecs.isEmpty) return false
    val negSlots = negSpecs.flatMap(_.neg.slots).toSet
    val posSlots = cp.root.slots.filterNot(negSlots)
    val firstPos = posSlots.min
    negSpecs.exists(ng => !ng.isSeq || ng.neg.slots.min < firstPos)
  }

  /** Skew-aware auto-routing: a SAMPLED per-key count picks the keys holding more than
    * `hotThreshold` relevant events; hot keys get the salted pane fan-out, cold keys a
    * single sentinel pane — in ONE select/explode/shuffle pass (the pane array is computed
    * CONDITIONALLY per key inside the same Catalyst projection `evaluateSalted` uses, so
    * auto degenerates to salted's plan with replication only on hot keys; there is no
    * plain-union-salted double scan). This removes both costs of unconditional salting —
    * the 2-3x event replication paid on uniform corpora — and the plain path's OOM cliff
    * (BatchEvaluator materializes one key group per task; a pathological key is now fanned
    * out over panes instead of failing). Patterns with consumption policies (which salting
    * cannot honor) route everything through the plain path.
    *
    * Detection cost: hot-key detection ([[hotKeys]]) is a ROUTING choice, never a
    * correctness decision (both paths produce identical matches for any key), so it
    * counts a sample sized to expect ~100 rows from a just-hot key (fraction =
    * 100/hotThreshold) instead of every row. The scan still reads the whole key column
    * (and only that column); the sample keeps 100/hotThreshold of its rows, and those are
    * the only rows counted. The job is one map-only stage — no shuffle — and the driver
    * receives the sampled keys themselves and counts them, ~100·N/hotThreshold keys for
    * N input rows. A 2x safety factor flags keys from half the threshold up: over-flagging
    * costs one key a little pane replication; under-flagging a >=threshold key needs its
    * Binomial(n>=threshold, f) sample count to land below half its mean — vanishingly
    * unlikely at 100 expected samples. Tiny thresholds (<= 100, test scale) degrade to
    * the exact full count with the same job, unsampled; the driver then receives all N
    * keys. */
  def evaluateAuto(events: Dataset[Ev], patterns: Seq[Pattern], paneMicros: Long,
                   hotThreshold: Long = 2000000L): Dataset[CepMatch] = {
    val compiled = patterns.flatMap(Compiler.compile).toIndexedSeq
    val types = BatchEvaluator.relevantTypes(compiled)
    val filtered = events.filter(col("etype").isin(types.toSeq: _*))
    val hot = if (policyFree(patterns)) hotKeys(events, hotThreshold) else Array.empty[String]
    // Mass-hot guard: auto exists for corpora where hot keys are FEW. When detection
    // flags a large set (threshold mis-set relative to the corpus, or genuinely mass-hot
    // data), the per-row hot test — an InSet over |hot| string literals, plus the plan
    // bloat of analyzing that literal list — buys nothing over just salting everyone
    // (the cold side's whole saving is the 1 + window/pane replication factor, ~17% at
    // the bench pane). Route the whole input through the unconditional salted path
    // instead: same output (routing is never a correctness decision), no per-row key
    // test, no giant literal plan. (Round-4 driver artifact: a 1478-key hot list at test
    // threshold cost cep_auto_seq3 2.9x salted's wall; this guard caps the list.)
    if (hot.isEmpty) BatchEvaluator.evaluateCompiled(filtered, compiled)
    else if (hot.length > 256) evaluatePaned(filtered, patterns, compiled, paneMicros, hotKeys = None)
    else evaluatePaned(filtered, patterns, compiled, paneMicros, hotKeys = Some(hot))
  }

  /** The keys [[evaluateAuto]] salts: more than `hotThreshold` events, exactly for
    * thresholds <= 100, else estimated from a seed-7 sample of 100/hotThreshold of the
    * rows, cut at half the expected sample count of a just-hot key. Both collect
    * [[countedKeys]] and count on the driver.
    *
    * Detection counts RAW per-key events (no relevant-type filter): raw >= filtered
    * counts always, so this can only OVER-flag (a key a bit under threshold on relevant
    * types gets mild pane replication) — never miss a hot key. Skipping the type filter
    * keeps the detection scan to the single key column (no role/tool reads, no CASE). */
  private[spark] def hotKeys(events: Dataset[Ev], hotThreshold: Long): Array[String] = {
    val frac = 100.0 / hotThreshold
    val cut = if (frac >= 1.0) hotThreshold.toDouble else hotThreshold * frac / 2.0
    countedKeys(events, frac).collect()
      .groupMapReduce(identity)(_ => 1L)(_ + _)
      .collect { case (k, n) if n > cut => k }.toArray
  }

  /** The key of every row [[hotKeys]] counts — all of them when `frac >= 1`, else a
    * seed-7 `frac` sample: one map-only stage (no Exchange) that sends the driver one
    * key per counted row. */
  private[spark] def countedKeys(events: Dataset[Ev], frac: Double): Dataset[String] = {
    import events.sparkSession.implicits._
    val keys = events.select("key")
    (if (frac >= 1.0) keys else keys.sample(withReplacement = false, frac, seed = 7)).as[String]
  }

  /** Unconditional pane salting: every key fans out over time panes. */
  def evaluateSalted(events: Dataset[Ev], patterns: Seq[Pattern], paneMicros: Long): Dataset[CepMatch] = {
    val compiled = patterns.flatMap(Compiler.compile).toIndexedSeq
    val types = BatchEvaluator.relevantTypes(compiled)
    val filtered = events.filter(col("etype").isin(types.toSeq: _*))
    evaluatePaned(filtered, patterns, compiled, paneMicros, hotKeys = None)
  }

  /** Event types bound under some NOT across the patterns — the only events a pane ever
    * needs from its FOLLOWING pane (a match's positives all lie at/after its firstTs;
    * only an invalidating negative may precede it). */
  private[spark] def negativeTypes(compiled: IndexedSeq[CompiledPattern]): Set[String] =
    compiled.flatMap { cp =>
      val negSlots = cp.nodes.collect { case n: NegSpec => n.neg.slots }.flatten.toSet
      cp.nodes.collect { case l: LeafSpec if negSlots(l.slot) => l.etype }
    }.toSet

  /** The replication pane-id ARRAY for each event row, computed entirely in Catalyst
    * (codegen'd — no map-side object materialization). Windowed replication: a
    * pane-(p-1)-owned match has firstTs < p*W and spans at most `window` (inclusive), so
    * only events in the FIRST `window` micros of pane p can be its members; with
    * pane = k*window the replication factor drops from 2 to 1 + 1/k. The p+1 replica
    * (negatives preceding a match's first positive) is likewise needed only for
    * negative-TYPE events in the LAST `window` of the pane — and only when some pattern's
    * shape admits such a negative ([[negCanPrecedeFirstPositive]]).
    *
    * Hot gating: `hotKeys = None` replicates every key (unconditional salting);
    * `Some(keys)` replicates only those keys and collapses the rest to the single
    * [[ColdPane]] sentinel — ONE key test per row (the conditional wraps the whole pane
    * array) inside the same codegen'd projection, so the cold majority pays a string
    * compare and skips the pane arithmetic entirely.
    *
    * Codegen: a CASE WHEN picks one of the fixed `array(...)` spellings of the replica
    * list — `[p]`, `[p, p-1]`, `[p, p+1]` or `[p, p-1, p+1]` — so the `Generate` exploding
    * it compiles, with the scan, the filter and the projections on both sides, into ONE
    * WholeStageCodegen stage. No higher-order function may come back here (compacting a
    * null-padded `[p, p-1, p+1]` is one: Spark rewrites it to `filter(x -> x IS NOT
    * NULL)`), nor any other `CodegenFallback` expression: a single one keeps the whole
    * `Generate` out of codegen, and the map stage then interprets it row by row — about
    * a fifth of its profile samples on the skewed benchmark corpus. `PlanSpec` pins the
    * single stage.
    *
    * Shared by the batch path below and [[StreamEvaluator.evaluateSalted]] — the
    * streaming salted path replicates with exactly the same Catalyst expression. */
  private[spark] def paneArray(compiled: IndexedSeq[CompiledPattern], window: Long,
                               paneMicros: Long, hotKeys: Option[Array[String]]): Column = {
    val backPane = compiled.exists(negCanPrecedeFirstPositive)
    val negETypes = negativeTypes(compiled)
    val paneLit = lit(paneMicros)
    // floorDiv(ts, pane) — SQL `div` truncates toward zero, so shift negatives by one.
    val p = when(col("ts") >= 0, expr(s"ts div ${paneMicros}L"))
      .otherwise(expr(s"(ts + 1) div ${paneMicros}L") - 1L)
    val offset = col("ts") - p * paneLit
    val prev = offset <= lit(window)
    // the replica list [p, p-1 if prev, p+1 if next] as a CASE WHEN over fixed arrays; a
    // null ts (null p) replicates nowhere
    val none = typedLit(Seq.empty[Long])
    val salted =
      if (backPane && negETypes.nonEmpty) {
        val next = col("etype").isin(negETypes.toSeq: _*) && offset >= paneLit - lit(window)
        when(col("ts").isNull, none)
          .when(prev && next, array(p, p - 1L, p + 1L))
          .when(prev, array(p, p - 1L))
          .when(next, array(p, p + 1L))
          .otherwise(array(p))
      } else when(col("ts").isNull, none).when(prev, array(p, p - 1L)).otherwise(array(p))
    hotKeys match {
      case None     => salted
      case Some(ks) => when(col("key").isin(ks.toSeq: _*), salted).otherwise(array(lit(ColdPane)))
    }
  }

  /** MATCH_ANY everywhere: no single/freeze/next policy, the only patterns panes may split. */
  private def policyFree(patterns: Seq[Pattern]): Boolean =
    patterns.forall(p => p.policy.single.isEmpty && p.policy.freeze.isEmpty && p.policy.next.isEmpty)

  /** Guard shared by the batch and streaming salted paths. */
  private[spark] def requireSaltable(patterns: Seq[Pattern], paneMicros: Long): Unit = {
    val window = patterns.map(_.windowMicros).max
    require(paneMicros >= window, s"pane width $paneMicros must be >= max pattern window $window")
    require(policyFree(patterns),
      "salted evaluation requires MATCH_ANY (single/freeze/next policies carry cross-pane state)")
  }

  /** The single paned pass behind both entry points. `hotKeys = None` salts every key
    * (evaluateSalted); `Some(keys)` salts only those keys and routes the rest through a
    * sentinel pane in the SAME shuffle — the cold side then has exactly the plain path's
    * per-key grouping (one group per key, no replication, no owner filtering). */
  private def evaluatePaned(filtered: Dataset[Ev], patterns: Seq[Pattern],
                            compiled: IndexedSeq[CompiledPattern], paneMicros: Long,
                            hotKeys: Option[Array[String]]): Dataset[CepMatch] = {
    requireSaltable(patterns, paneMicros)
    val window = patterns.map(_.windowMicros).max
    val types = BatchEvaluator.relevantTypes(compiled)
    val panes: Column = paneArray(compiled, window, paneMicros, hotKeys)
    val sorted = filtered
      .toDF()
      .select(BatchEvaluator.EvCols.map(col): _*)
      .withColumn("pane", explode(panes))
      // pane expressions read the etype STRING (negative-type replication); swap it for
      // the int dispatch code only now, in the projection feeding the exchange
      // (see BatchEvaluator.etypeCode — narrower shuffle/sort rows, canonical decode)
      .select(BatchEvaluator.codedCols(types) ++
        Seq(col("pane"), xxhash64(col("key"), col("pane")).as("khash")): _*)
      .repartition(col("key"), col("pane"))
      // hash-led sort: see BatchEvaluator.sortedByKey — prefix-decisive cross-group compares
      .sortWithinPartitions("khash", "key", "pane", "ts", "idx")
    // owner filter: a match is kept only by the pane containing its firstTs, so each
    // match is emitted exactly once despite replication
    CepEvaluate.matches(sorted, compiled, types, KeyRuns.ByPane(paneMicros))
  }
}
