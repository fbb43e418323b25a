package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/**
 * Deduplication operators for training-data pipelines over `documents`.
 *
 * Scale notes (the 100 TB story):
 *  - exact dedup groups on a 128-bit fingerprint, never the full text — the shuffle carries
 *    16 bytes + doc_id per row instead of document bodies;
 *  - n-gram / MinHash / SimHash all follow the same shape: narrow per-doc signature ->
 *    shuffle only (signature, doc_id) pairs -> candidate-pair join -> verify. Candidate
 *    joins are keyed on small fixed-width band/quarter keys; exact-Jaccard verification
 *    attaches each candidate doc's distinct-gram array via narrow doc_id equi-joins and
 *    intersects in-row — document text itself never moves.
 */
object Dedup {

  private def docs(spark: SparkSession, sfDir: String): DataFrame =
    spark.read.parquet(s"$sfDir/documents.parquet")

  /** Exact dedup: keep the smallest doc_id per normalized-content fingerprint. */
  def exact(spark: SparkSession, sfDir: String): DataFrame = {
    val fp = md5(encode(regexp_replace(lower(col("text")), "\\s+", " "), "UTF-8"))
    docs(spark, sfDir)
      .select(col("doc_id"), fp.as("fp"))
      .groupBy(col("fp"))
      .agg(min("doc_id").as("keep_id"), count(lit(1)).as("n_copies"))
  }

  /** Per-doc DISTINCT word-3-gram array: (doc_id, grams array<string>). The base signature
    * for n-gram Jaccard and MinHash. Dedup is per document, so it runs MAP-SIDE via
    * `array_distinct` — the old formulation exploded first and deduplicated with a global
    * `.distinct()`, paying a full-frame shuffle + two hash-aggregate stages for a dedup
    * the row layout already scopes to one document (guide §2.4: remove shuffles outright).
    * Per-row state is bounded by document length — the same bound the words array has. */
  private[ops] def shingleArrays(spark: SparkSession, sfDir: String, n: Int = 3): DataFrame = {
    val words = split(regexp_replace(lower(col("text")), "[^a-z0-9 ]", " "), "\\s+")
    docs(spark, sfDir)
      .select(col("doc_id"), filter(words, w => length(w) > 0).as("ws"))
      .filter(size(col("ws")) >= n) // sequence() would run descending below n words
      .select(col("doc_id"), array_distinct(
        transform(sequence(lit(0), size(col("ws")) - n),
          i => concat_ws(" ", slice(col("ws"), i + lit(1), lit(n))))).as("grams"))
  }

  /** Distinct word-3-gram shingles per doc: (doc_id, gram). Zero shuffles: global
    * (doc_id, gram) distinctness equals per-doc distinctness, which array_distinct
    * establishes map-side. The explode sits in the SAME select as the gram expression
    * (Generate consumes it directly) rather than over a pre-projected array column —
    * materializing the per-doc array row between a Project and the Generate measured
    * ~20x slower on this sandbox's kernel-stall-prone memory system. */
  def shingles(spark: SparkSession, sfDir: String, n: Int = 3): DataFrame = {
    val words = split(regexp_replace(lower(col("text")), "[^a-z0-9 ]", " "), "\\s+")
    docs(spark, sfDir)
      .select(col("doc_id"), filter(words, w => length(w) > 0).as("ws"))
      .filter(size(col("ws")) >= n)
      .select(col("doc_id"), explode(array_distinct(
        transform(sequence(lit(0), size(col("ws")) - n),
          i => concat_ws(" ", slice(col("ws"), i + lit(1), lit(n)))))).as("gram"))
  }

  /** N-gram Jaccard near-dup pairs: shingle-join candidates, exact Jaccard >= minSim.
    * Output carries integer intersection/union (hash-stable across engines).
    *
    * Scale guard (OPT-IN): the candidate self-join is quadratic PER GRAM — one
    * corpus-frequent shingle ("the quick brown" over 100 TB) explodes its join key.
    * Passing `dfMax` excludes grams with document frequency > dfMax from CANDIDATE
    * GENERATION (standard near-dup practice: a gram shared by thousands of docs carries
    * no pair information that rarer grams don't); sizes and the Jaccard denominator still
    * use ALL grams. The cap bounds recall — pairs whose entire overlap sits in
    * corpus-frequent grams are not produced — so it defaults OFF; callers opting in at
    * corpus scale must mirror the cap in any downstream comparison (the driver query
    * passes dfMax=50 and its DuckDB oracle applies the identical cap). */
  def ngramJaccardPairs(spark: SparkSession, sfDir: String, minSim: Double = 0.4,
                        dfMax: Long = Long.MaxValue): DataFrame = {
    // Cache the per-doc ARRAY frame, not the exploded one: same information in one row
    // per doc, reused by the gram-df pass, the pair pass and the size projection below.
    // 100 TB note (storage-memory pressure): this is the whole shingle signature of the
    // corpus; MEMORY_AND_DISK lets Spark spill cold blocks rather than evict-and-recompute
    // the regex pipeline, and the per-doc array layout keeps it strictly smaller than the
    // exploded (doc_id, gram) frame the old code cached. Recompute-vs-spill is the trade:
    // at corpus scale prefer spill (regex shingling is the most expensive map stage here).
    val docsArr = shingleArrays(spark, sfDir).cache()
    if (dfMax == Long.MaxValue) {
      // Uncapped path: the per-gram doc list is unbounded (a corpus-frequent gram would
      // blow a collect_list buffer), so candidate pairs come from the self-equi-join.
      // n_grams per doc needs NO aggregation: it is the cached array's size (the old
      // groupBy(doc_id).count() paid a full shuffle for a per-row fact).
      val sizes = docsArr.select(col("doc_id"), size(col("grams")).cast("long").as("n_grams"))
      val sh = docsArr.select(col("doc_id"), explode(col("grams")).as("gram"))
      sh.as("x").join(sh.as("y"),
          col("x.gram") === col("y.gram") && col("x.doc_id") < col("y.doc_id"))
        .groupBy(col("x.doc_id").as("a_id"), col("y.doc_id").as("b_id"))
        .agg(count(lit(1)).as("n_common"))
        .join(sizes.withColumnRenamed("doc_id", "a_id").withColumnRenamed("n_grams", "a_n"), "a_id")
        .join(sizes.withColumnRenamed("doc_id", "b_id").withColumnRenamed("n_grams", "b_n"), "b_id")
        .withColumn("n_union", col("a_n") + col("b_n") - col("n_common"))
        .filter(col("n_common").cast("double") / col("n_union").cast("double") >= minSim)
        .select(col("a_id"), col("b_id"), col("n_common"), col("n_union"))
    } else {
      // Capped path: df <= dfMax bounds the per-gram doc list, so pairs are generated
      // IN-STAGE from one grouped doc list per gram (sorted ascending -> a_id < b_id)
      // instead of a second self-join shuffle of the shingle frame; the pair stream is
      // then partially aggregated map-side before its one exchange (guide §2.3-2.4).
      // The df pre-pass stays a separate count + semi-join (NOT collect-then-filter):
      // collect_list on an uncapped gram group is exactly the unbounded buffer the old
      // code avoided, and the count aggregate is map-side-partial everywhere.
      // Each doc's gram COUNT rides the grouped (doc_id, n) structs through the pair
      // stream, so the Jaccard denominator needs no size joins at the end — the old two
      // doc-table attach joins (broadcast locally, but a corpus-wide doc table at 100 TB
      // broadcasts nothing and would re-shuffle the pair stream twice) are gone
      // (guide §2.3: shuffle keys and metadata together, §8: carry the proxy's decisions).
      val shN = docsArr.select(col("doc_id"), size(col("grams")).cast("long").as("n"),
        explode(col("grams")).as("gram"))
      val rare = shN.groupBy("gram").agg(count(lit(1)).as("df"))
        .filter(col("df") <= dfMax).select("gram")
      shN.join(rare, "gram")
        .groupBy("gram").agg(sort_array(collect_list(struct(col("doc_id"), col("n")))).as("ds"))
        // pair expansion as TWO codegen'd generators (posexplode the anchor, explode
        // the suffix slice) — a nested transform-into-structs spelling of the same
        // pairs ran ~1.5x slower through the interpreted higher-order-function path
        .select(posexplode(col("ds")).as(Seq("i", "a")), col("ds"))
        .select(col("a"), explode(slice(col("ds"), col("i") + lit(2), size(col("ds")))).as("b"))
        .groupBy(col("a.doc_id").as("a_id"), col("b.doc_id").as("b_id"),
          col("a.n").as("a_n"), col("b.n").as("b_n"))
        .agg(count(lit(1)).as("n_common"))
        .withColumn("n_union", col("a_n") + col("b_n") - col("n_common"))
        .filter(col("n_common").cast("double") / col("n_union").cast("double") >= minSim)
        .select(col("a_id"), col("b_id"), col("n_common"), col("n_union"))
    }
  }

  /** Deterministic 64-bit polynomial hash of a string (FNV-1a); used for MinHash/SimHash
    * signatures. Kept custom (not Spark's `hash()`) so signatures are stable across Spark
    * versions; computed by the native codegen'd expression
    * org.apache.spark.sql.graftfn.Fnv1a64 — a per-row UDF here forced a codegen break plus
    * a row conversion in the hottest stage of every signature pipeline. */
  private[ops] def fnv1a(s: String): Long = org.apache.spark.sql.graftfn.Fnv1a64.hash(s)

  private def fnv1aCol(spark: SparkSession, c: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
    graft.functions.VectorFunctions.register(spark)
    call_function("fnv1a64", c)
  }

  /** MinHash signature WITHOUT materializing per-doc gram lists: one scalar FNV-1a per
    * gram row, then 32 native `min` aggregates over affine lane values computed in
    * Catalyst (Spark long arithmetic wraps exactly like the JVM's, and `min` on LongType
    * is the signed min the lanes need). Map-side partial aggregation keeps per-doc state
    * at 32 longs — a corpus-scale document can no longer blow up an aggregation buffer
    * the way collect_list-then-UDF could. */
  private def minhashSigs(sh: DataFrame): DataFrame = {
    graft.functions.VectorFunctions.register(sh.sparkSession)
    val AS = (1 to 32).map(i => 0x9e3779b97f4a7c15L * i | 1L).toArray
    val BS = (1 to 32).map(i => 0xc2b2ae3d27d4eb4fL * i | 1L).toArray
    // wrap_affine = a*h+b with two's-complement wrap (ANSI mode would throw on the
    // intended overflow); native expression, stays inside whole-stage codegen
    val lanes = AS.indices.map(k =>
      min(call_function("wrap_affine", lit(AS(k)), col("h"), lit(BS(k)))).as(s"m$k"))
    sh.withColumn("h", fnv1aCol(sh.sparkSession, col("gram")))
      .groupBy("doc_id")
      .agg(lanes.head, lanes.tail: _*)
      .select(col("doc_id"), array(AS.indices.map(k => col(s"m$k")): _*).as("sig"))
  }

  /** MinHash + LSH banding: 32 hashes, 8 bands x 4 rows. Docs sharing any band bucket are
    * candidates; candidates verified by exact shingle Jaccard >= minSim. The banded join
    * shuffles only (band, 4-lane band slice, doc_id) — the band key is the EXACT lane
    * values (32 bytes), not a 32-bit rehash: exactness makes the op oracle-replicable
    * (DuckDB reproduces the same FNV-1a/affine lane arithmetic) and removes hash-collision
    * false candidates; the shuffle row stays fixed-width and narrow. */
  def minhashLshPairs(spark: SparkSession, sfDir: String, minSim: Double = 0.4): DataFrame = {
    // Same cache rationale as ngramJaccardPairs: the per-doc array frame feeds the
    // signature pass once and the verify joins twice.
    val docsArr = shingleArrays(spark, sfDir).cache()
    val sh = docsArr.select(col("doc_id"), explode(col("grams")).as("gram"))
    val sigs = minhashSigs(sh)
    // Cache the band frame: the candidate self-join reads it twice, and the build side's
    // BroadcastExchange does not match the probe side's shuffle Exchange, so ReuseExchange
    // never fires — without the cache the ENTIRE signature pipeline (shingle explode,
    // FNV-1a, 32-lane min aggregate, band slicing) executed once per join side. The frame
    // is 8 narrow rows per doc (doc_id, band, 4-long slice) — strictly smaller than the
    // shingle frame already cached above (guide §5: reuse + recompute cost justify it).
    val bands = sigs.select(col("doc_id"), posexplode(
      transform(sequence(lit(0), lit(7)), b => slice(col("sig"), b * lit(4) + lit(1), lit(4)))))
      .toDF("doc_id", "band", "bucket")
      .cache()
    val cands = bands.as("x").join(bands.as("y"),
        col("x.band") === col("y.band") && col("x.bucket") === col("y.bucket") &&
          col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("a_id"), col("y.doc_id").as("b_id")).distinct()
    // Verify candidates with exact Jaccard via per-doc gram ARRAYS: two narrow equi-joins
    // attach each side's distinct-gram array, and n_common = |array_intersect| — computed
    // in-row, no exploded shingle re-shuffle, no pair-count aggregation, no size joins
    // (the old shape paid 2 shingle-frame shuffles + a groupBy + 2 size joins). At scale
    // only docs that appear in some candidate pair ship their arrays (guide §2.3: shuffle
    // keys and metadata, attach heavy payloads once).
    cands
      .join(docsArr.select(col("doc_id").as("a_id"), col("grams").as("ga")), "a_id")
      .join(docsArr.select(col("doc_id").as("b_id"), col("grams").as("gb")), "b_id")
      .select(col("a_id"), col("b_id"),
        size(array_intersect(col("ga"), col("gb"))).cast("long").as("n_common"),
        size(col("ga")).cast("long").as("a_n"), size(col("gb")).cast("long").as("b_n"))
      .filter(col("n_common").cast("double") /
        (col("a_n") + col("b_n") - col("n_common")).cast("double") >= minSim)
      .select(col("a_id"), col("b_id"))
  }

  /** Connected components over near-duplicate pairs — the dedup pipeline's final grouping
    * step (candidates → verify → CLUSTER → keep one per cluster): every doc appearing in a
    * pair gets `cluster_id` = the smallest doc_id in its connected component (the id that
    * [[exact]]'s keep rule would also pick). Pregel-style min-label propagation: each
    * round every node takes the min of its own and its neighbors' labels — one shuffle
    * join + aggregate per round over (id, label) pairs of 16 bytes (text never moves),
    * converging in O(component diameter) rounds; near-dup components are small and dense,
    * so a handful. Convergence is CHECKED, the round cap is only a pathological-chain
    * safety net (a WARNING is logged if it fires with labels still moving — the returned
    * ids are then NOT a full transitive closure).
    *
    * Cost shape: ONE materializing pass per round — the round frame carries both the new
    * label and a changed flag, so summing the flag doubles as the convergence check (a
    * separate old-vs-new count join would double the job count). Each `checkpointEvery`
    * rounds (DEFAULT EVERY ROUND) the frame is CHECKPOINTED, truncating the iterative
    * lineage. Per-round truncation is a measured 3x on the loop, beyond its recovery
    * role: with lineage cut, every round's plan is STRUCTURALLY IDENTICAL (scan + join +
    * aggregate), so Catalyst analysis and whole-stage codegen compile once and every
    * later round reuses them — under cache-only lineage each round's plan grows and
    * recompiles (~0.5-1 s/round of pure planning/codegen at any data size), which
    * dominated the loop. The materialization a checkpoint pays is work the convergence
    * check forces anyway. Reliable checkpoint when the session has a checkpoint dir (set
    * one at production scale — a lost executor then replays from the checkpoint, not
    * from round 0), `localCheckpoint` otherwise (lineage still truncated; executor loss
    * then needs a job retry from scratch).
    *
    * The returned frame is backed by the final round's checkpoint; callers holding it
    * long-term should `.unpersist()` it (or copy it out) when done. */
  def duplicateClusters(pairs: DataFrame, maxRounds: Int = 20, checkpointEvery: Int = 1): DataFrame = {
    val sc = pairs.sparkSession.sparkContext
    // No .distinct() on edges: duplicate edges cannot change a min() aggregate, so the
    // dedup shuffle bought nothing (pairs from minhashLshPairs are unique anyway, and a
    // caller's duplicates only add rows to the per-round join, never wrong labels).
    // Both directions come from ONE explode of each pair row — the old
    // `pairs.union(pairs.swapped)` planned the pairs SUBTREE twice, so the entire
    // upstream pipeline (for the driver query: the minhash candidate + verify chain)
    // executed once per union branch inside the cache materialization (guide §2.4).
    // The cache is pre-partitioned by `y`, the side every round's join probes: the
    // cached layout satisfies the join's distribution requirement, so no round
    // re-shuffles the edge frame.
    val edges = pairs.select(explode(array(
        struct(col("a_id").as("x"), col("b_id").as("y")),
        struct(col("b_id").as("x"), col("a_id").as("y")))).as("e"))
      .select(col("e.x").as("x"), col("e.y").as("y"))
      .repartition(col("y"))
      .cache()
    var cached: DataFrame = edges.select(col("x").as("id")).distinct()
      .withColumn("label", col("id")).cache()
    var labels = cached
    var changed = 1L
    var rounds = 0
    while (changed > 0 && rounds < maxRounds) {
      // One aggregate per round: each node's new label is min(own, neighbors') — spelled
      // as a union of self rows (carrying the old label) and neighbor contributions,
      // grouped once by id. The old spelling (neighbor groupBy + left join back onto
      // labels) paid a second join and a third exchange per round for the same result;
      // here the only per-round exchange is the final groupBy (the labels side of the
      // join arrives hash-partitioned by id from the previous round's checkpoint, the
      // edges side from the pre-partitioned cache). `max(old)` is exact: every group has
      // exactly one self row (ids are distinct), contributions carry null.
      val contrib = edges
        .join(labels.select(col("id").as("y"), col("label").as("nl")), "y")
        .select(col("x").as("id"), col("nl").as("label"), lit(null).cast("long").as("old"))
      val next = labels
        .select(col("id"), col("label"), col("label").as("old"))
        .union(contrib)
        .groupBy("id")
        .agg(min("label").as("label"), max("old").as("old"))
        .select(col("id"), col("label"), (col("label") < col("old")).cast("long").as("chg"))
      rounds += 1
      val step =
        if (rounds % checkpointEvery == 0) {
          // Reliable checkpoint stays EAGER (its write pass is a separate job anyway and
          // the recovery story wants it on disk before the round is declared done). The
          // local path is LAZY: the convergence read below materializes + persists the
          // round frame in ONE job — the old eager localCheckpoint ran a materialization
          // job and then a second job for the sum, doubling every round's job count.
          if (sc.getCheckpointDir.isDefined) next.checkpoint()
          else next.localCheckpoint(eager = false)
        } else next.cache()
      // the round's convergence read; the sum is null when there are no edges
      changed = step.agg(coalesce(sum("chg"), lit(0L))).first().getLong(0)
      cached.unpersist()
      cached = step
      labels = step.select("id", "label")
    }
    if (changed > 0)
      org.slf4j.LoggerFactory.getLogger(getClass).warn(
        s"duplicateClusters: round cap $maxRounds hit with $changed labels still moving — " +
          "cluster ids are NOT fully converged (pathological long-diameter component); raise maxRounds")
    edges.unpersist()
    labels.select(col("id").as("doc_id"), col("label").as("cluster_id"))
  }

  /** SimHash signature via the single-pass native aggregate
    * (org.apache.spark.sql.graftfn.SimhashAgg): 64 bit-set counters + row count in ONE
    * 65-long buffer per doc, majority vote at eval. Same constant-per-doc state bound as
    * the 64-column `sum()` formulation (a corpus-scale doc cannot blow the buffer), but
    * the per-row update is a tight JVM loop instead of 64 expression trees — the
    * 64-column version cost 3.4x local wall-clock. */
  private def simhashSigs(sh: DataFrame): DataFrame = {
    graft.functions.VectorFunctions.register(sh.sparkSession)
    sh.withColumn("h", fnv1aCol(sh.sparkSession, col("gram")))
      .groupBy("doc_id")
      .agg(call_function("simhash_agg", col("h")).as("sig"))
  }

  /** SimHash near-dup pairs: 64-bit signature per doc, pairs within `maxHamming`.
    * Pair generation blocks on the four 16-bit signature quarters (any pair within
    * hamming<=3 shares at least one exact quarter), so no full cross join. */
  def simhashPairs(spark: SparkSession, sfDir: String, maxHamming: Int = 3): DataFrame = {
    val sh = shingles(spark, sfDir)
    val sigs = simhashSigs(sh)
    val quarters = array((0 until 4).map(q => struct(
      lit(q).as("q"),
      shiftrightunsigned(col("sig"), q * 16).bitwiseAND(lit(0xffffL)).as("quarter"))): _*)
    // Cached for the same reason as minhashLshPairs' band frame: the self-join's broadcast
    // build side cannot reuse the probe side's shuffle exchange, so without the cache the
    // full signature pipeline (shingle explode, FNV-1a, simhash_agg) ran once per side.
    // 4 rows per doc of 4 fixed-width fields.
    val blocks = sigs.select(col("doc_id"), col("sig"), explode(quarters).as("qq"))
      .select(col("doc_id"), col("sig"), col("qq.q").as("q"), col("qq.quarter").as("quarter"))
      .cache()
    blocks.as("x").join(blocks.as("y"),
        col("x.q") === col("y.q") && col("x.quarter") === col("y.quarter") &&
          col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("a_id"), col("y.doc_id").as("b_id"),
        bit_count(col("x.sig").bitwiseXOR(col("y.sig"))).cast("long").as("hamming"))
      // hamming is a function of the pair, so filtering BEFORE the dedup keeps the output
      // identical while the distinct's exchange carries only the (rare) qualifying pairs
      // instead of every block collision (guide §2.3: shuffle fewer bytes)
      .filter(col("hamming") <= maxHamming)
      .distinct()
  }
}
