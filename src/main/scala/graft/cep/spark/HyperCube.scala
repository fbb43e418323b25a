package graft.cep.spark

import org.apache.spark.sql.Dataset
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftfn.CepEvaluate
import graft.cep._

/**
 * HyperCube data-parallel execution for patterns WITHOUT a usable partition key
 * (/root/reference/parallel/data_parallel/HyperCubeParallelExecutionAlgorithm.py:54-113)
 * — the execution story the key-grouped paths cannot cover: a cross-conversation pattern
 * would otherwise collapse onto a single task.
 *
 * Each (event type, attribute) pair is assigned one dimension of a task cube whose shape
 * is the most-equal factorization of the unit budget (`calcCubicShares`, reference
 * `:80-103`). An event of a mapped type is replicated to the UNION of the cube faces
 * fixing each of its attribute hashes (reference `_classifier`, `:54-78`); events of
 * unmapped types broadcast to every cell. Any candidate match therefore co-locates in at
 * least one cell; a match is kept only by the MINIMUM cell of the intersection of its
 * members' cell sets (reference `skip_item`, `:105-113`), so each match is emitted
 * exactly once.
 *
 * Like the reference, a pattern may not bind the same event type twice (two same-type
 * members with different attribute hashes would never co-locate).
 */
object HyperCube {

  /** Most-equal cube factorization: start from floor(units^(1/dims)) per dim and grow
    * greedily while the product stays within budget (reference `_calc_cubic_shares`). */
  def calcCubicShares(units: Int, dims: Int): Array[Int] = {
    require(units >= 1 && dims >= 1)
    val shares = Array.fill(dims)(math.max(1, math.floor(math.pow(units, 1.0 / dims)).toInt))
    var changed = true
    while (changed) {
      changed = false
      var i = 0
      while (i < dims) {
        val used = shares.product
        if (used / shares(i) * (shares(i) + 1) <= units) { shares(i) += 1; changed = true }
        i += 1
      }
    }
    shares
  }

  /** Cube geometry: `dims(i)` = (event type, attribute extractor) of dimension i. */
  private final case class Cube(shape: Array[Int], dims: Array[(String, Ev => Long)])
    extends Serializable {
    val size: Int = shape.product
    /** stride of each dimension in the linearized cell index */
    val strides: Array[Int] = {
      val s = new Array[Int](shape.length)
      var acc = 1
      var i = shape.length - 1
      while (i >= 0) { s(i) = acc; acc *= shape(i); i -= 1 }
      s
    }
    private val dimsByType: Map[String, Array[Int]] =
      dims.indices.groupBy(i => dims(i)._1).map { case (t, is) => t -> is.toArray }
    private val typeIndex: Map[String, Int] = dimsByType.keys.toArray.sorted.zipWithIndex.toMap

    @transient private lazy val allCells: Array[Int] = (0 until size).toArray
    /** (type, coordinate-vector) -> sorted cell array. The domain is tiny and closed —
      * at most |types| * product(shape) <= |types| * units distinct entries — while the
      * same lookup runs once per EVENT in the replication flatMap and once per match
      * MEMBER in the owner filter; recomputing the face union there dominated the whole
      * query (round-3 driver artifact: 4.5 s where ~1 s is the real work). Keys are exact
      * mixed-radix encodings (typeIdx, then each mapped dim's coordinate), so no
      * collisions; one cache instance lives per deserialized Cube (per task). */
    @transient private lazy val cellCache =
      new java.util.concurrent.ConcurrentHashMap[java.lang.Long, Array[Int]]()

    /** Cells of the face fixing dimension `d` at coordinate `c`. */
    private def face(d: Int, c: Int): Iterator[Int] =
      (0 until size).iterator.filter(u => (u / strides(d)) % shape(d) == c)

    /** Cells an event routes to (union of its attribute faces; all cells if unmapped) —
      * sorted ascending, shared via [[cellCache]]; callers must not mutate. */
    def cells(e: Ev): Array[Int] = dimsByType.get(e.etype) match {
      case None => allCells
      case Some(ds) =>
        // typeIndex * (size+1) + mixed-radix coords: coords < product(shapes) <= size,
        // so keys from different types can never collide
        var key: Long = 0L
        var i = 0
        while (i < ds.length) {
          val d = ds(i)
          key = key * shape(d) + math.floorMod(dims(d)._2(e), shape(d).toLong)
          i += 1
        }
        key += typeIndex(e.etype).toLong * (size + 1L)
        var arr = cellCache.get(key)
        if (arr == null) {
          arr = ds.iterator.flatMap { d =>
            val c = (math.floorMod(dims(d)._2(e), shape(d).toLong)).toInt
            face(d, c)
          }.toArray.distinct.sorted
          cellCache.put(key, arr)
        }
        arr
    }

    /** Minimum of the intersection of the members' cell sets (all arrays sorted) — the
      * owner cell of a match (reference skip_item). -1 if the intersection is empty
      * (cannot happen for a real match: its members co-located in the current cell). */
    def minCommonCell(cellSets: Array[Array[Int]]): Int = {
      val first = cellSets(0)
      var i = 0
      while (i < first.length) {
        val v = first(i)
        var j = 1
        var inAll = true
        while (inAll && j < cellSets.length) {
          if (java.util.Arrays.binarySearch(cellSets(j), v) < 0) inAll = false
          j += 1
        }
        if (inAll) return v
        i += 1
      }
      -1
    }
  }

  /**
   * Evaluate key-less patterns over the whole stream. `attributes` maps an event type to
   * the numeric attribute extractors that become cube dimensions (the reference's
   * `attributes_dict`); `units` defaults to the session's parallelism.
   */
  def evaluate(events: Dataset[Ev], patterns: Seq[Pattern],
               attributes: Map[String, Seq[Ev => Long]],
               units: Int = 0): Dataset[CepMatch] = {
    require(attributes.nonEmpty, "attributes_dict is empty")
    patterns.foreach { p =>
      val prims = primitiveTypes(p.structure)
      val types = prims.map(_._1)
      require(types.distinct.lengthCompare(types.length) == 0,
        s"HyperCube does not support multiple bindings of one event type, got $types")
      // a Kleene subset binds many events of one type with different attribute hashes —
      // they would never co-locate; such types must broadcast
      val kcTypes = prims.collect { case (t, _, true) => t }
      require(kcTypes.forall(t => !attributes.contains(t)),
        s"Kleene-bound types must stay unmapped (broadcast), got mapped: ${kcTypes.filter(attributes.contains)}")
      // a negative routed by attribute reaches only its own faces, so the owner cell of
      // a match may never see the invalidating negative -> silent false positives;
      // negative types must stay unmapped (broadcast to every cell)
      val negTypes = prims.collect { case (t, true, _) => t }
      require(negTypes.forall(t => !attributes.contains(t)),
        s"negated types must stay unmapped (broadcast), got mapped: ${negTypes.filter(attributes.contains)}")
    }
    val nUnits = if (units > 0) units else events.sparkSession.sparkContext.defaultParallelism
    val dims: Array[(String, Ev => Long)] =
      attributes.toArray.sortBy(_._1).flatMap { case (t, fs) => fs.map(f => (t, f)) }
    val cube = Cube(calcCubicShares(nUnits, dims.length), dims)
    val compiled = patterns.flatMap(Compiler.compile).toIndexedSeq
    val types = BatchEvaluator.relevantTypes(compiled)
    // owner rule: a match is kept only by the minimum cell of its members' cell-set
    // intersection (reference skip_item); cell sets come from the cube's per-task cache,
    // so the filter costs a few sorted-array probes per match
    val ownerCell = (m: CepMatch) =>
      cube.minCommonCell(m.binds.iterator.flatMap(_.evs).map(cube.cells).toArray)
    // Cell routing needs the user-supplied attribute extractors (arbitrary closures), so
    // it is a UDF over the event columns, exploded into one row per cell; the SHUFFLE and
    // per-cell evaluation share BatchEvaluator/Rip's row layout and operator.
    val cellsOf = udf((key: String, idx: Long, etype: String, ts: Long, num: Double,
                       s1: String, s2: String, prob: Double) =>
      cube.cells(Ev(key, idx, etype, ts, num, s1, s2, prob)))
    val sorted = events
      .filter(col("etype").isin(types.toSeq: _*))
      .toDF()
      .select(BatchEvaluator.codedCols(types) :+
        explode(cellsOf(BatchEvaluator.EvCols.map(col): _*)).as("unit"): _*)
      .repartition(col("unit"))
      .sortWithinPartitions("unit", "ts", "idx")
    CepEvaluate.matches(sorted, compiled, types, KeyRuns.ByCell(ownerCell))
  }

  /** Event type of each primitive in `s`, with whether it sits under a NOT and under a
    * Kleene closure. */
  private def primitiveTypes(s: PStruct, neg: Boolean = false,
                             kc: Boolean = false): List[(String, Boolean, Boolean)] = s match {
    case Prim(et, _)      => List((et, neg, kc))
    case PSeq(as)         => as.flatMap(primitiveTypes(_, neg, kc))
    case PAnd(as)         => as.flatMap(primitiveTypes(_, neg, kc))
    case POr(as)          => as.flatMap(primitiveTypes(_, neg, kc))
    case PKleene(a, _, _) => primitiveTypes(a, neg, kc = true)
    case PNeg(a)          => primitiveTypes(a, neg = true, kc)
  }
}
