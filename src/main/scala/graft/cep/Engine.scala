package graft.cep

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer

/**
 * Per-key incremental CEP evaluator over one or more compiled patterns.
 *
 * Semantics mirror the reference's tree-based evaluation
 * (/root/reference/tree/evaluation/TreeBasedEvaluationMechanism.py:68-106): each event is
 * played on the leaves listening to its type; partial matches propagate up through join
 * nodes that probe the sibling buffer; negation nodes invert the flow; Kleene nodes emit
 * every buffered subset containing the newest child match. Events MUST be fed in
 * (ts, idx) order — the Spark operators guarantee this by sorting each key group (batch)
 * or each watermark-complete prefix (streaming).
 *
 * Deliberately pure Scala with no Spark dependency: the same engine instance backs the
 * batch evaluators (one engine per sorted key run, `graft.cep.spark.KeyRuns` driven by
 * the `CepEvaluate` Catalyst operator), the streaming evaluator (flatMapGroupsWithState,
 * via snapshot/restore), and unit tests.
 */
final class MatchEngine(patterns: IndexedSeq[CompiledPattern], shedCap: Int = 0,
                        sortedStorage: Boolean = false) extends Serializable {

  private val out = ArrayBuffer.empty[CepMatch]
  private val rts = patterns.map(new PatternRuntime(_, out, shedCap, sortedStorage))

  /** Shared leaf dispatch — the multi-pattern ShareLeaves merger analogue
    * (/root/reference/plan/multi/ShareLeavesTreePlanMerger.py:5-14,
    * /root/reference/tree/MultiPatternTree.py:22-35): one type lookup routes the event
    * straight to the listening (pattern, leaf) pairs, and leaves of different patterns
    * whose condition lists are equal share ONE predicate evaluation per event. Event
    * objects are stored once (by reference) in every buffer; the Bind wrappers stay
    * per-pattern because binds carry pattern-local slots. Play order is preserved:
    * pattern registration order, then final-tree leaf order within a pattern.
    * The table depends only on the pattern set, so it is built once per task closure and
    * cached on the patterns' statics (an engine is constructed PER KEY — millions of
    * times per run; rebuilding hash maps there measurably costs). */
  private val tables = MatchEngine.tablesFor(patterns)

  /** Subtree sharing — the SubTreeSharingTreePlanMerger analogue
    * (/root/reference/plan/multi/SubTreeSharingTreePlanMerger.py:5-13): equivalent
    * subtrees across patterns (same shape, slots, names, placed conditions, window,
    * confidence) buffer their partial matches ONCE. The lowest-registered pattern hosts
    * the buffers; followers alias them (sibling probes see the shared PMs directly) and
    * receive upward propagation through a mirror hook when the host stores a PM. Active
    * only on the policy-free MATCH_ANY surface with default storage — consumption
    * policies observe node identity/play order, shedding mutates buffers, and sorted
    * storage would key the shared buffer by the host's probe plan. */
  private val sharingActive =
    !sortedStorage && shedCap == 0 && !tables.sharing.isEmpty
  private val tmpl = if (sharingActive) tables.sharedDispatch else tables.dispatch
  if (sharingActive) {
    val sh = tables.sharing
    var ri = 0
    while (ri < rts.length) {
      sh.aliases(ri).foreach { case (ownId, hostRt, hostId) =>
        rts(ri).aliasBuf(ownId, rts(hostRt).bufAt(hostId))
      }
      if (sh.mirrorArr(ri) != null) rts(ri).setMirrors(sh.mirrorArr(ri), rts)
      ri += 1
    }
  }
  private val verdict = new Array[Boolean](tmpl.nGroups)
  private val verdictEpoch = new Array[Long](tmpl.nGroups)
  private var epoch = 0L

  /** Feed one event (in (ts, idx) order); returns matches completed by this event. */
  def feed(e: Ev): Seq[CepMatch] = { dispatch(e); drain() }

  /** Allocation-free feed: completed matches go straight to `f` from the internal buffer
    * (no per-event Seq materialization — the hot path for batch/salted runs emitting
    * millions of matches). */
  def feedEach(e: Ev)(f: CepMatch => Unit): Unit = {
    dispatch(e)
    if (out.nonEmpty) {
      var i = 0
      while (i < out.length) { f(out(i)); i += 1 }
      out.clear()
    }
  }

  private def dispatch(e: Ev): Unit = {
    tmpl.byType.get(e.etype).foreach { entries =>
      epoch += 1
      var last = -1
      var i = 0
      while (i < entries.length) {
        val en = entries(i)
        val rt = rts(en.rtIdx)
        if (en.rtIdx != last) { rt.beginEvent(e); last = en.rtIdx }
        val g = en.group
        if (verdictEpoch(g) != epoch) { verdictEpoch(g) = epoch; verdict(g) = en.pred(e) }
        rt.playLeaf(en.leaf, e, verdict(g))
        i += 1
      }
    }
  }

  /** Event-time advance: release pending unbounded-negation matches whose window has
    * passed (firstTs < ts - window), mirroring the reference's expiration-driven flush
    * (/root/reference/tree/nodes/NegationNode.py:69-87). */
  def advance(ts: Long): Seq[CepMatch] = { rts.foreach(_.advance(ts)); drain() }

  /** End-of-stream: flush all pending matches (/root/reference/tree/Tree.py:224-238). */
  def finish(): Seq[CepMatch] = { rts.foreach(_.finish()); drain() }

  private def drain(): Seq[CepMatch] = {
    if (out.isEmpty) Nil
    else { val r = out.toVector; out.clear(); r }
  }

  def snapshot(): EngineState = EngineState(rts.map(_.snapshot()))
  def restore(s: EngineState): Unit = rts.lazyZip(s.runtimes).foreach(_.restore(_))

  /** Drop state that can never influence future output given the watermark: buffered
    * partial matches older than (watermark - window) can no longer combine with anything
    * (any future event has ts >= watermark and the window bound is inclusive). */
  def pruneExpired(watermark: Long): Unit = rts.foreach(_.prune(watermark))

  /** True when the engine holds no state at all — the per-key state-store entry can be
    * removed; a later event recreates it with identical semantics. */
  def isQuiescent: Boolean = rts.forall(_.quiescent)

  /** True when parked unbounded-negation matches await a watermark-driven release — the
    * only condition needing a timer wakeup without new data. */
  def hasPending: Boolean = rts.exists(_.hasPending)
}

object MatchEngine {
  /** One dispatch row: runtime index (into the engine's rts), the leaf to play, the
    * shared predicate, and the predicate-sharing group id. */
  final class DEntry(val rtIdx: Int, val leaf: LeafSpec, val pred: Ev => Boolean, val group: Int)
  final class Dispatch(val byType: Map[String, Array[DEntry]], val nGroups: Int)

  /** Subtree-sharing wiring (built once per pattern set, applied per engine):
    *  - `aliases(rt)`  : follower node id -> (host rt, host node id) whose buffer it aliases
    *  - `mirrorArr(rt)`: per-node followers to notify when the HOST stores a PM there
    *                     (null array entry = no followers; null outer = rt hosts nothing)
    *  - `deadLeaves(rt)`: leaf ids inside follower regions — removed from dispatch
    *                     (the host's equivalent leaf plays for everyone). */
  final class Sharing(
      val aliases: IndexedSeq[List[(Int, Int, Int)]],
      val mirrorArr: IndexedSeq[Array[List[(Int, Int)]]],
      val deadLeaves: IndexedSeq[Set[Int]]) {
    val isEmpty: Boolean = aliases.forall(_.isEmpty)
  }

  final class Tables(val dispatch: Dispatch, val sharing: Sharing, val sharedDispatch: Dispatch)

  private val emptySharing = new Sharing(Vector.empty, Vector.empty, Vector.empty)
  private val emptyTables =
    new Tables(new Dispatch(Map.empty, 0), emptySharing, new Dispatch(Map.empty, 0))

  private def buildDispatch(patterns: IndexedSeq[CompiledPattern],
                            dead: IndexedSeq[Set[Int]]): Dispatch = {
    val groupOf = mutable.HashMap.empty[(String, List[Cond]), Int]
    val byType = mutable.LinkedHashMap.empty[String, ArrayBuffer[DEntry]]
    patterns.zipWithIndex.foreach { case (cp, ri) =>
      cp.leavesByType.foreach { case (et, leaves) =>
        leaves.foreach { leaf =>
          if (dead.isEmpty || !dead(ri).contains(leaf.id)) {
            val key = (et, cp.nodeConds.getOrElse(leaf.id, Nil))
            val g = groupOf.getOrElseUpdate(key, groupOf.size)
            byType.getOrElseUpdate(et, ArrayBuffer.empty) +=
              new DEntry(ri, leaf, cp.statics.leafPred(leaf.id), g)
          }
        }
      }
    }
    new Dispatch(byType.view.mapValues(_.toArray).toMap, groupOf.size)
  }

  private def subSpecs(s: Spec): List[Spec] = s match {
    case l: LeafSpec => List(l)
    case b: BinSpec  => b :: subSpecs(b.left) ::: subSpecs(b.right)
    case k: KCSpec   => k :: subSpecs(k.child)
    case n: NegSpec  => n :: subSpecs(n.pos) ::: subSpecs(n.neg)
  }

  private def hasNeg(s: Spec): Boolean = s match {
    case _: NegSpec  => true
    case b: BinSpec  => hasNeg(b.left) || hasNeg(b.right)
    case k: KCSpec   => hasNeg(k.child)
    case _: LeafSpec => false
  }

  /** Structural shape INCLUDING slots and names: equal shapes mean the shared PM objects'
    * Bind vectors are directly interpretable by every participant (slots drive SEQ order
    * checks and condition evaluators; names surface in flattened output columns). */
  private def shape(s: Spec): String = s match {
    case l: LeafSpec => s"L(${l.slot},${l.name},${l.etype})"
    case b: BinSpec  => s"B(${b.isSeq},${shape(b.left)},${shape(b.right)})"
    case k: KCSpec   => s"K(${k.minSize},${k.maxSize},${shape(k.child)})"
    case n: NegSpec  => s"N(${n.isSeq},${n.unbounded},${shape(n.pos)},${shape(n.neg)})"
  }

  /** Find equivalent subtrees across patterns, largest first, and assign host/followers.
    * Equivalence = shape (with slots+names) + the condition lists placed on every node of
    * the subtree in DFS order (Cond equality is case-class equality — lambda fields
    * compare by reference, so sharing triggers for conditions built from the same objects;
    * structurally-equal-but-distinct lambdas conservatively do not share) + window +
    * confidence. Only policy-free patterns participate; NegSpec subtrees and pattern
    * roots are excluded (negation parks pending matches per pattern; roots emit, never
    * buffer). */
  private def buildSharing(patterns: IndexedSeq[CompiledPattern]): Sharing = {
    val nPat = patterns.length
    if (nPat < 2) return emptySharing
    val eligible = patterns.map(cp => cp.singleAt.isEmpty && cp.freezeMap.isEmpty)
    final case class Member(rt: Int, node: Spec, size: Int)
    val groups = mutable.LinkedHashMap.empty[Any, ArrayBuffer[Member]]
    for (ri <- patterns.indices if eligible(ri)) {
      val cp = patterns(ri)
      cp.nodes.foreach { node =>
        if (cp.parentOf(node.id) >= 0 && !hasNeg(node)) {
          val dfs = subSpecs(node)
          val key = (shape(node),
            dfs.map(n => cp.nodeConds.getOrElse(n.id, Nil)),
            dfs.map(n => cp.kcNodeConds.getOrElse(n.id, Nil)),
            cp.windowMicros, cp.confidence)
          groups.getOrElseUpdate(key, ArrayBuffer.empty) += Member(ri, node, dfs.length)
        }
      }
    }
    val dead = Array.fill(nPat)(mutable.Set.empty[Int])       // follower regions (inclusive)
    val hostLocked = Array.fill(nPat)(mutable.Set.empty[Int]) // host regions (must stay live)
    val aliases = Array.fill(nPat)(List.empty[(Int, Int, Int)])
    val mirrors = Array.fill(nPat)(mutable.Map.empty[Int, List[(Int, Int)]])
    // Largest subtrees first (maximal sharing); deterministic tie-break by host position.
    val ordered = groups.valuesIterator.filter(_.length >= 2).toSeq
      .sortBy(ms => (-ms.head.size, ms.head.rt, ms.head.node.id))
    ordered.foreach { ms =>
      val live = ms.filter(m => !dead(m.rt).contains(m.node.id))
      if (live.length >= 2) {
        val host = live.minBy(m => (m.rt, m.node.id))
        live.foreach { f =>
          if (f != host && !hostLocked(f.rt).contains(f.node.id)) {
            aliases(f.rt) = (f.node.id, host.rt, host.node.id) :: aliases(f.rt)
            dead(f.rt) ++= subSpecs(f.node).map(_.id)
            mirrors(host.rt).updateWith(host.node.id) {
              case Some(l) => Some(l :+ ((f.rt, f.node.id)))
              case None    => Some(List((f.rt, f.node.id)))
            }
          }
        }
        if (mirrors(host.rt).contains(host.node.id))
          hostLocked(host.rt) ++= subSpecs(host.node).map(_.id)
      }
    }
    if (aliases.forall(_.isEmpty)) return emptySharing
    val mirrorArr: IndexedSeq[Array[List[(Int, Int)]]] = patterns.indices.map { ri =>
      if (mirrors(ri).isEmpty) null
      else {
        val arr = new Array[List[(Int, Int)]](patterns(ri).nodes.length)
        mirrors(ri).foreach { case (nid, fs) => arr(nid) = fs }
        arr
      }
    }
    new Sharing(aliases.toIndexedSeq, mirrorArr,
      dead.map(_.toSet).toIndexedSeq)
  }

  /** Dispatch + sharing tables cached on the first pattern's statics, keyed by the
    * pattern-set instance: every per-key engine built from the same task closure reuses
    * them. The cache lives exactly as long as the closure's patterns, so no leak. */
  private[cep] def tablesFor(patterns: IndexedSeq[CompiledPattern]): Tables = {
    if (patterns.isEmpty) return emptyTables
    val host = patterns.head.statics
    host.dispatchCache match {
      case (k: AnyRef, t: Tables) if k eq patterns => t
      case _ =>
        val sharing = buildSharing(patterns)
        val dispatch = buildDispatch(patterns, Vector.empty)
        val sharedDispatch =
          if (sharing.isEmpty) dispatch else buildDispatch(patterns, sharing.deadLeaves)
        val t = new Tables(dispatch, sharing, sharedDispatch)
        host.dispatchCache = (patterns, t)
        t
    }
  }
}

/**
 * Per-CompiledPattern runtime statics: slot-resolved condition evaluators. Built lazily
 * once per deserialized CompiledPattern (i.e. once per executor task closure), shared by
 * every per-key PatternRuntime — constructing these per key group dominated setup cost on
 * corpora with millions of small conversations.
 */
final class PatternStatics(cp: CompiledPattern) extends Serializable {
  import cp._

  /** (patternSetRef, MatchEngine.Dispatch) cached by MatchEngine.dispatchFor; benign
    * race (rebuild-and-replace) under concurrent first use. */
  @volatile private[cep] var dispatchCache: AnyRef = _

  /** Candidate bind slots per name: the leaf slot, plus the KC bind slot when the name is
    * under a Kleene closure (above the KC node the bind carries the aggregated slot). */
  private val slotsOfName: Map[String, Array[Int]] = {
    val base = nameBySlot.map(_.swap).view.mapValues(s => Array(s)).toMap
    kcNamesBySlot.foldLeft(base) { case (m, (bs, names)) =>
      names.foldLeft(m)((mm, nm) =>
        mm.updated(nm, (mm.getOrElse(nm, Array.empty[Int]) :+ bs).distinct))
    }
  }

  private def findBind(bs: Vector[Bind], slots: Array[Int]): Bind = {
    var i = 0
    while (i < bs.length) {
      val s = bs(i).slot
      var j = 0
      while (j < slots.length) { if (slots(j) == s) return bs(i); j += 1 }
      i += 1
    }
    null
  }

  /** Binding map for CSimple conditions (name -> bound events; KC bind slots map all child
    * names to the aggregated list). */
  def buildBinding(binds: Vector[Bind]): Map[String, List[Ev]] = {
    val m = Map.newBuilder[String, List[Ev]]
    binds.foreach { b =>
      kcNamesBySlot.get(b.slot) match {
        case Some(ns) => ns.foreach(nm => m += nm -> b.evs)
        case None     => m += b.name -> b.evs
      }
    }
    m.result()
  }

  /** Compile a placed condition into a direct evaluator over slot-sorted binds.
    * Semantics identical to Cond.eval over the binding map (missing name => false for
    * atoms, via the composite's forall/exists). */
  private def compileCond(c: Cond): Vector[Bind] => Boolean = c match {
    case CTrue => _ => true
    case CAnd(cs) => val fs = cs.map(compileCond).toArray; bs => fs.forall(_(bs))
    case COr(cs)  => val fs = cs.map(compileCond).toArray; bs => fs.exists(_(bs))
    case CUnary(nm, f) =>
      val ss = slotsOfName(nm)
      bs => { val b = findBind(bs, ss); b != null && f(b.evs.head) }
    case CBinary(x, y, f) =>
      val sx = slotsOfName(x); val sy = slotsOfName(y)
      bs => {
        val bx = findBind(bs, sx); val by = findBind(bs, sy)
        bx != null && by != null && f(bx.evs.head, by.evs.head)
      }
    case r: CRel =>
      val sx = slotsOfName(r.a); val sy = slotsOfName(r.b)
      bs => {
        val bx = findBind(bs, sx); val by = findBind(bs, sy)
        bx != null && by != null && r.fn(bx.evs.head, by.evs.head)
      }
    case k: CKCIndex =>
      val ss = slotsOfName(k.name)
      bs => { val b = findBind(bs, ss); b != null && k.evalList(b.evs) }
    case k: CKCValue =>
      val ss = slotsOfName(k.name)
      bs => { val b = findBind(bs, ss); b != null && k.evalList(b.evs) }
    case k: CKCFn =>
      val ss = slotsOfName(k.name)
      bs => { val b = findBind(bs, ss); b != null && k.fn(b.evs) }
    case cs: CSimple => bs => cs.eval(buildBinding(bs))
  }

  val condsByNode: Array[Array[Vector[Bind] => Boolean]] =
    Array.tabulate(nodes.length)(id => nodeConds.getOrElse(id, Nil).map(compileCond).toArray)

  // ---- pair-form condition evaluators (allocation-free candidate validation) -----------
  // Identical verdicts to condsByNode over mergeBinds(a, b), evaluated over the two
  // slot-sorted halves WITHOUT materializing the merge: the merged vector's first bind
  // matching a slot set is the min-slot match of the two sides (ties to the a side —
  // mergeBinds takes a(i) when a(i).slot <= b(j).slot). The join/negation loops validate
  // every candidate pair; merging only the survivors removes a Vector allocation per
  // candidate from the hottest engine path.

  private def findBind2(a: Vector[Bind], b: Vector[Bind], slots: Array[Int]): Bind = {
    val ba = findBind(a, slots)
    val bb = findBind(b, slots)
    if (ba == null) bb
    else if (bb == null) ba
    else if (ba.slot <= bb.slot) ba
    else bb
  }

  /** Binding map over both halves (CSimple only — the rare n-ary lambda surface). */
  def buildBindingPair(a: Vector[Bind], b: Vector[Bind]): Map[String, List[Ev]] = {
    val m = Map.newBuilder[String, List[Ev]]
    def add(bs: Vector[Bind]): Unit = bs.foreach { bd =>
      kcNamesBySlot.get(bd.slot) match {
        case Some(ns) => ns.foreach(nm => m += nm -> bd.evs)
        case None     => m += bd.name -> bd.evs
      }
    }
    add(a); add(b)
    m.result()
  }

  private def compileCondPair(c: Cond): (Vector[Bind], Vector[Bind]) => Boolean = c match {
    case CTrue => (_, _) => true
    case CAnd(cs) => val fs = cs.map(compileCondPair).toArray; (a, b) => fs.forall(_(a, b))
    case COr(cs)  => val fs = cs.map(compileCondPair).toArray; (a, b) => fs.exists(_(a, b))
    case CUnary(nm, f) =>
      val ss = slotsOfName(nm)
      (a, b) => { val bd = findBind2(a, b, ss); bd != null && f(bd.evs.head) }
    case CBinary(x, y, f) =>
      val sx = slotsOfName(x); val sy = slotsOfName(y)
      (a, b) => {
        val bx = findBind2(a, b, sx); val by = findBind2(a, b, sy)
        bx != null && by != null && f(bx.evs.head, by.evs.head)
      }
    case r: CRel =>
      val sx = slotsOfName(r.a); val sy = slotsOfName(r.b)
      (a, b) => {
        val bx = findBind2(a, b, sx); val by = findBind2(a, b, sy)
        bx != null && by != null && r.fn(bx.evs.head, by.evs.head)
      }
    case k: CKCIndex =>
      val ss = slotsOfName(k.name)
      (a, b) => { val bd = findBind2(a, b, ss); bd != null && k.evalList(bd.evs) }
    case k: CKCValue =>
      val ss = slotsOfName(k.name)
      (a, b) => { val bd = findBind2(a, b, ss); bd != null && k.evalList(bd.evs) }
    case k: CKCFn =>
      val ss = slotsOfName(k.name)
      (a, b) => { val bd = findBind2(a, b, ss); bd != null && k.fn(bd.evs) }
    case cs: CSimple => (a, b) => cs.eval(buildBindingPair(a, b))
  }

  val condsByNodePair: Array[Array[(Vector[Bind], Vector[Bind]) => Boolean]] =
    Array.tabulate(nodes.length)(id => nodeConds.getOrElse(id, Nil).map(compileCondPair).toArray)

  private def compileKcCond(c: Cond): List[Ev] => Boolean = c match {
    case k: CKCIndex => k.evalList
    case k: CKCValue => k.evalList
    case k: CKCFn    => k.fn
    case other       => evs => other.eval(kcNamesBySlot.valuesIterator
      .flatten.map(_ -> evs).toMap) // unreachable: only KC conds are placed on KC nodes
  }

  val kcCondsByNode: Array[Array[List[Ev] => Boolean]] =
    Array.tabulate(nodes.length)(id => kcNodeConds.getOrElse(id, Nil).map(compileKcCond).toArray)

  /** Leaf predicates compiled to direct Ev functions (single-event by placement,
    * /root/reference/tree/nodes/LeafNode.py:66-80). Evaluated ONCE per event per shared
    * leaf group by MatchEngine — the ShareLeaves merger analogue
    * (/root/reference/plan/multi/ShareLeavesTreePlanMerger.py:5-14). */
  private def compileLeafCond(c: Cond, leafName: String): Ev => Boolean = c match {
    case CTrue        => _ => true
    case CUnary(_, f) => f
    case CAnd(cs)     => val fs = cs.map(compileLeafCond(_, leafName)).toArray; e => fs.forall(_(e))
    case COr(cs)      => val fs = cs.map(compileLeafCond(_, leafName)).toArray; e => fs.exists(_(e))
    case other        => e => other.eval(Map(leafName -> List(e)))
  }

  val leafPred: Array[Ev => Boolean] = Array.tabulate(nodes.length) { id =>
    nodes(id) match {
      case l: LeafSpec =>
        val fs = nodeConds.getOrElse(id, Nil).map(compileLeafCond(_, l.name)).toArray
        if (fs.isEmpty)(_: Ev) => true
        else (e: Ev) => {
          var i = 0
          var ok = true
          while (ok && i < fs.length) { ok = fs(i)(e); i += 1 }
          ok
        }
      case _ => null
    }
  }

  // ---- sorted-storage access path (opt-in; mirrors the reference's
  // SortedPatternMatchStorage + BinaryNode key selection,
  // /root/reference/tree/PatternMatchStorage.py:144-283,
  // /root/reference/tree/nodes/BinaryNode.py:168-256) -------------------------------------

  /** Extract the relop key of one side's partial match: the `get` of the event bound at
    * `slot` (every PM buffered at a node binds all of that subtree's slots). */
  private def bindKey(slot: Int, get: Ev => Double): PM => Double = pm => {
    val bs = pm.binds
    var i = 0
    var r = 0.0
    var found = false
    while (i < bs.length && !found) {
      if (bs(i).slot == slot) { r = get(bs(i).evs.head); found = true }
      i += 1
    }
    r // unreachable miss: the probe plan only targets slots the side always binds
  }

  /** Per-BinSpec sorted-probe plan: op(leftKey(l), rightKey(r)) must hold for any
    * combinable pair. Derived from the first placed typed relop whose names are plain
    * (non-Kleene) leaves on opposite sides. */
  final class ProbePlan(val leftKey: PM => Double, val rightKey: PM => Double, val op: RelOp)
    extends Serializable

  val probePlans: Array[ProbePlan] = {
    val kcNames: Set[String] = kcNamesBySlot.valuesIterator.flatten.toSet
    val slotOfName: Map[String, Int] = nameBySlot.map(_.swap)
    val arr = new Array[ProbePlan](nodes.length)
    nodes.foreach {
      case b0: BinSpec =>
        nodeConds.getOrElse(b0.id, Nil).collectFirst {
          case r: CRel if !kcNames(r.a) && !kcNames(r.b) && r.a != r.b => r
        }.foreach { r =>
          val sa = slotOfName(r.a); val sb = slotOfName(r.b)
          val leftSlots = b0.left.slots.toSet
          if (leftSlots(sa) && b0.right.slots.contains(sb))
            arr(b0.id) = new ProbePlan(bindKey(sa, r.getA), bindKey(sb, r.getB), r.op)
          else if (leftSlots(sb) && b0.right.slots.contains(sa))
            arr(b0.id) = new ProbePlan(bindKey(sb, r.getB), bindKey(sa, r.getA), RelOp.swap(r.op))
        }
      case _ => ()
    }
    arr
  }

  /** Sort-key extractor for buffers kept key-sorted (null = arrival order). Set on the two
    * children of every BinSpec that has a probe plan. */
  val sortKeyOf: Array[PM => Double] = {
    val arr = new Array[PM => Double](nodes.length)
    nodes.foreach {
      case b0: BinSpec if probePlans(b0.id) != null =>
        arr(b0.left.id) = probePlans(b0.id).leftKey
        arr(b0.right.id) = probePlans(b0.id).rightKey
      case _ => ()
    }
    arr
  }
}

/** Serializable state snapshot for streaming checkpoint/restore. */
final case class EngineState(runtimes: Seq[RuntimeState]) extends Serializable
final case class RuntimeState(
    bufs: Seq[Seq[PM]],          // by node id
    pending: Seq[PM],
    filtered: Seq[(Int, Seq[FilteredEv])],
    freezers: Seq[(String, Ev)]) extends Serializable
final case class FilteredEv(idx: Long, minTs: Long) extends Serializable

/** Runtime evaluation state for one compiled pattern over one key.
  * `shedCap` > 0 enables load shedding (/root/reference/tree/PatternMatchStorage.py:97-129,
  * SURVEY.md §2.10): when a node buffer exceeds the cap, only the top-cap partial matches
  * by utility (longer chains first, then more recent) are kept — bounded state at the cost
  * of recall; NEVER enabled on the parity surface. */
final class PatternRuntime(val cp: CompiledPattern, out: ArrayBuffer[CepMatch],
                           shedCap: Int = 0, sortedStorage: Boolean = false) extends Serializable {
  import cp._

  private val n = nodes.length
  private val bufs: Array[ArrayBuffer[PM]] = Array.fill(n)(ArrayBuffer.empty[PM])

  // ---- subtree sharing (wired by MatchEngine; see MatchEngine.Sharing) -----------------
  /** Node ids whose buffer is an alias of another runtime's buffer: probed/expired here,
    * but owned (inserted + serialized) by the host runtime. */
  private var aliased: Array[Boolean] = null
  /** Per-node follower lists on the HOST side: (runtime, follower node id) to notify when
    * a PM is stored at the node. */
  private var mirrors: Array[List[(Int, Int)]] = null
  private var mirrorRts: IndexedSeq[PatternRuntime] = null
  private[cep] def bufAt(id: Int): ArrayBuffer[PM] = bufs(id)
  private[cep] def aliasBuf(id: Int, b: ArrayBuffer[PM]): Unit = {
    if (aliased == null) aliased = new Array[Boolean](n)
    bufs(id) = b
    aliased(id) = true
  }
  private[cep] def setMirrors(m: Array[List[(Int, Int)]], rts: IndexedSeq[PatternRuntime]): Unit = {
    mirrors = m; mirrorRts = rts
  }
  /** Host stored a PM in a buffer this runtime aliases at `id`: continue propagation
    * upward HERE (the PM's binds are directly interpretable — sharing requires identical
    * slots/names). `hostCurIdx` carries the feeding event's serial so Kleene aggregate
    * identities stay exact even when all of this runtime's leaves for the type are dead. */
  private[cep] def onShared(id: Int, pm: PM, hostCurIdx: Long): Unit = {
    curIdx = hostCurIdx
    val par = parentOf(id)
    if (par >= 0) handleNew(par, id, pm)
  }
  // compiled once per CompiledPattern instance (lazy), NOT per key group — a run over
  // millions of keys constructs one PatternRuntime per key
  private val statics = cp.statics
  import statics.{condsByNode, condsByNodePair, kcCondsByNode, probePlans, sortKeyOf}
  /** Sorted-storage probes active: opt-in, and only when no state mutates per emission
    * (single/next policies consume events in emission order, shedding reorders buffers —
    * probe order must then stay arrival order for parity with the unsorted path). */
  private val useSorted =
    sortedStorage && singleAt.isEmpty && freezeMap.isEmpty && shedCap == 0
  /** Amortized-expiry tick per key-sorted node (arrival order is lost there, so expiry is
    * a periodic full sweep — the reference's clean_up_interval,
    * /root/reference/misc/DefaultConfig.py:35). */
  private val expireTick = new Array[Int](n)
  private val pending = ArrayBuffer.empty[PM] // parked at firstUnboundedId
  /** nodeId -> already-reported events under single/next policy, with minTs for expiry
    * (/root/reference/tree/nodes/Node.py:133-160). */
  private val filtered: mutable.Map[Int, mutable.LinkedHashMap[Long, Long]] =
    mutable.Map.empty
  private var freezers: List[(String, Ev)] = Nil

  // ---- event intake ------------------------------------------------------------------

  /** Serial of the event currently being fed; aggregate identities derive from it
    * (see Bind.aggId). */
  private var curIdx: Long = -1L

  def feed(e: Ev): Unit =
    cp.leavesByType.get(e.etype).foreach { leaves =>
      beginEvent(e)
      leaves.foreach(leaf => playLeaf(leaf, e, statics.leafPred(leaf.id)(e)))
    }

  /** Per-event preamble, run once per event the pattern listens to (before any leaf). */
  def beginEvent(e: Ev): Unit = {
    curIdx = e.idx
    if (freezeMap.nonEmpty)
      freezers = freezers.filter { case (_, f) => e.ts - f.ts <= windowMicros }
    // Fail fast on a probabilistic event hitting a pattern with no confidence threshold,
    // mirroring the reference's exception in Node.__can_add_partial_match
    // (/root/reference/tree/nodes/Node.py:133-146) — silently treating such events as
    // certain would return plausible-looking but meaningless output.
    if (e.prob >= 0 && confidence < 0)
      throw new IllegalArgumentException(
        s"probabilistic event (prob=${e.prob}) fed to pattern $patternId without a confidence threshold")
  }

  /** Play one leaf (final-tree order preserved by the caller); `condPassed` is the leaf
    * predicate verdict — evaluated once per shared leaf group by MatchEngine. */
  def playLeaf(leaf: LeafSpec, e: Ev, condPassed: Boolean): Unit = {
    if (!frozen(leaf.name)) {
      expire(leaf.id, e.ts)
      if (condPassed)
        propagate(leaf.id, PM(Vector(Bind(leaf.slot, leaf.name, List(e))), e.prob), skipPark = false)
      if (freezeMap.contains(leaf.name)) freezers ::= (leaf.name, e)
    }
  }

  def advance(ts: Long): Unit = release(ts - windowMicros)
  def finish(): Unit = release(Long.MaxValue)

  def hasPending: Boolean = pending.nonEmpty

  def prune(watermark: Long): Unit = {
    val hw = watermark - windowMicros
    var id = 0
    // full scan (expire()'s head-only guard can miss out-of-order firstTs entries)
    while (id < n) { bufs(id).filterInPlace(_.firstTs >= hw); id += 1 }
    filtered.values.foreach(_.filterInPlace { case (_, ts) => ts >= hw })
    freezers = freezers.filter { case (_, f) => watermark - f.ts <= windowMicros }
  }

  def quiescent: Boolean =
    pending.isEmpty && bufs.forall(_.isEmpty) &&
      filtered.values.forall(_.isEmpty) && freezers.isEmpty

  private def release(beforeTs: Long): Unit = {
    if (firstUnboundedId < 0 || pending.isEmpty) return
    val (toFlush, keep) = pending.sortBy(_.firstTs).partition(_.firstTs < beforeTs)
    pending.clear(); pending ++= keep
    toFlush.foreach(pm => propagate(firstUnboundedId, pm, skipPark = true))
  }

  private def frozen(leafName: String): Boolean =
    freezers.exists { case (fname, _) => freezeMap.get(fname).exists(_.contains(leafName)) }

  // ---- propagation -------------------------------------------------------------------

  /** Register pm at node `id` (store + notify parent / emit at root), mirroring
    * Node._add_partial_match (/root/reference/tree/nodes/Node.py:120-131) with the
    * confidence / single-policy gate (/root/reference/tree/nodes/Node.py:133-160). */
  private def propagate(id: Int, pm: PM, skipPark: Boolean): Unit = {
    if (confidence >= 0 && pm.prob >= 0 && pm.prob < confidence) return
    if (!passSingle(id, pm)) return
    if (!skipPark && id == firstUnboundedId) { pending += pm; return }
    val par = parentOf(id)
    if (par < 0) {
      // full matches are emitted, never buffered: the root buffer has no prober and would
      // otherwise grow without bound inside streaming state
      emit(pm)
    } else {
      val key = if (useSorted) sortKeyOf(id) else null
      if (key == null) bufs(id) += pm else insertSorted(bufs(id), pm, key)
      if (shedCap > 0 && bufs(id).length > shedCap) shed(id)
      handleNew(par, id, pm)
      if (mirrors != null) {
        val fs = mirrors(id)
        if (fs != null) fs.foreach { case (rt, fid) => mirrorRts(rt).onShared(fid, pm, curIdx) }
      }
    }
  }

  private def emit(pm: PM): Unit = {
    out += CepMatch(
      key = pm.binds.head.evs.head.key,
      patternId = patternId,
      firstTs = pm.firstTs,
      lastTs = pm.lastTs,
      binds = pm.binds,
      prob = pm.prob)
    if (freezeMap.nonEmpty) {
      val ids = pm.binds.iterator.flatMap(_.evs).map(_.idx).toSet
      freezers = freezers.filterNot { case (_, f) => ids.contains(f.idx) }
    }
  }

  private def passSingle(id: Int, pm: PM): Boolean = {
    val types = singleAt.getOrElse(id, null)
    if (types == null || types.isEmpty) return true
    val seen = filtered.getOrElseUpdate(id, mutable.LinkedHashMap.empty)
    // expire old filtered events lazily by window
    val hw = pm.lastTs - windowMicros
    seen.filterInPlace { case (_, ts) => ts >= hw }
    val fresh = ArrayBuffer.empty[Ev]
    var ok = true
    pm.binds.foreach(_.evs.foreach { ev =>
      if (types.contains(ev.etype)) {
        if (seen.contains(ev.idx)) ok = false else fresh += ev
      }
    })
    if (ok) fresh.foreach(ev => seen.update(ev.idx, ev.ts))
    ok
  }

  private def handleNew(parId: Int, fromId: Int, pm: PM): Unit = nodes(parId) match {
    case b: BinSpec =>
      val otherId = if (fromId == b.left.id) b.right.id else b.left.id
      expire(otherId, pm.lastTs)
      expire(parId, pm.lastTs)
      val plan = if (useSorted) probePlans(parId) else null
      val buf = bufs(otherId)
      // O(1) window prescreen on the cached PM bounds, then the allocation-free pair
      // validation; the merged bind vector is built ONLY for surviving pairs (the old
      // loop paid a merge allocation per candidate just to reject it).
      def tryCombine(opm: PM): Unit = {
        val span = math.max(pm.lastTs, opm.lastTs) - math.min(pm.firstTs, opm.firstTs)
        if (span <= windowMicros && validPair(parId, b.isSeq, pm.binds, opm.binds))
          propagate(parId, PM(mergeBinds(pm.binds, opm.binds), Joint.prob(pm.prob, opm.prob)),
            skipPark = false)
      }
      if (plan == null) {
        if (mirrors == null && aliased == null) {
          // Recursive propagation from tryCombine inserts/expires only at ANCESTOR nodes
          // (parId and up), never at this child buffer, so with no cross-pattern sharing
          // wired the buffer is stable for the loop — no defensive snapshot copy. With
          // sharing, a follower runtime may mutate an aliased buffer mid-loop: keep the
          // snapshot there.
          val n0 = buf.length
          var ci = 0
          while (ci < n0) { tryCombine(buf(ci)); ci += 1 }
        } else buf.toArray.foreach(tryCombine)
      } else {
        // Sorted-storage probe: iterate the key-range(s) in place (sorted storage
        // disables sharing, and the ancestor-only-insert argument above holds, so the
        // probed buffer cannot shift mid-loop — the old slice copies are gone).
        val v = if (fromId == b.left.id) plan.leftKey(pm) else plan.rightKey(pm)
        val keyO = if (fromId == b.left.id) plan.rightKey else plan.leftKey
        val eff = if (fromId == b.left.id) plan.op else RelOp.swap(plan.op)
        val len = buf.length
        var f1 = 0; var u1 = 0; var f2 = 0; var u2 = 0
        eff match {
          case RelOp.EQ => f1 = bound(buf, keyO, v, upper = false); u1 = bound(buf, keyO, v, upper = true)
          case RelOp.LT => f1 = bound(buf, keyO, v, upper = true); u1 = len
          case RelOp.LE => f1 = bound(buf, keyO, v, upper = false); u1 = len
          case RelOp.GT => u1 = bound(buf, keyO, v, upper = false)
          case RelOp.GE => u1 = bound(buf, keyO, v, upper = true)
          case RelOp.NE =>
            u1 = bound(buf, keyO, v, upper = false)
            f2 = bound(buf, keyO, v, upper = true); u2 = len
        }
        var ci = f1
        while (ci < u1) { tryCombine(buf(ci)); ci += 1 }
        ci = f2
        while (ci < u2) { tryCombine(buf(ci)); ci += 1 }
      }
    case k: KCSpec =>
      expire(k.child.id, pm.lastTs)
      val buffer = bufs(k.child.id)
      // the newest child match is the last buffered one; enumerate subsets of the rest
      // (/root/reference/tree/nodes/KleeneClosureNode.py:58-80)
      val prefix = buffer.view.slice(0, buffer.length - 1).toArray
      val maxPrefix = (if (k.maxSize > 0) k.maxSize else buffer.length) - 1
      subsets(prefix, maxPrefix).foreach { sub =>
        val members = sub :+ pm
        if (members.length >= k.minSize) {
          val evs = members.iterator.flatMap(_.binds.iterator.flatMap(_.evs)).toList
          val prob = members.foldLeft(-1.0)((p, m) => Joint.prob(p, m.prob))
          // aggregate identity = next-event serial at creation time (see Bind.aggId)
          val binds = Vector(Bind(k.bindSlot, nameBySlot(k.bindSlot), evs, aggId = curIdx + 1))
          if (evs.last.ts - evs.head.ts <= windowMicros &&
            kcCondsByNode(k.id).forall(_(evs)) &&
            evalConds(k.id, binds))
            propagate(k.id, PM(binds, prob), skipPark = false)
        }
      }
    case ng: NegSpec =>
      if (fromId == ng.pos.id) {
        expire(ng.neg.id, pm.lastTs)
        var prob = pm.prob
        var invalidated = false
        val negBuf = bufs(ng.neg.id)
        var i = 0
        while (i < negBuf.length && !invalidated) {
          val npm = negBuf(i)
          // O(1) window prescreen, then the allocation-free pair validation — the
          // negative check never needs the merged vector at all (nothing propagates),
          // so the old merge allocation per in-window negative is simply gone
          if (math.max(pm.lastTs, npm.lastTs) - math.min(pm.firstTs, npm.firstTs) <= windowMicros
              && validPair(parId, ng.isSeq, pm.binds, npm.binds)) {
            if (npm.prob >= 0) prob = Joint.prob(prob, 1 - npm.prob)
            else invalidated = true
          }
          i += 1
        }
        if (!invalidated) propagate(parId, PM(pm.binds, prob), skipPark = false)
      } else {
        // a new negative arrived; retroactively invalidate pending matches
        // (/root/reference/tree/nodes/NegationNode.py:137-168)
        if (ng.unbounded && firstUnboundedId >= 0 && pending.nonEmpty) {
          pending.filterInPlace(p => !validPair(parId, ng.isSeq, p.binds, pm.binds))
        }
      }
    case _: LeafSpec => () // leaves have no children; unreachable
  }

  // ---- validation --------------------------------------------------------------------

  /** Window (inclusive) + duplicate-event rejection + SEQ slot-order check + node
    * conditions (/root/reference/tree/nodes/Node.py:187-193,
    * /root/reference/tree/nodes/InternalNode.py:22-35, /root/reference/tree/nodes/SeqNode.py:30-33),
    * evaluated over the two slot-sorted halves of a candidate pair WITHOUT materializing
    * their merge — verdict-identical to running the old merged-vector checks on
    * mergeBinds(a, b), allocation-free on the reject path (the overwhelming majority).
    * The SEQ walk visits the virtual merge with two pointers; identity clashes are
    * checked CROSS-side only: each side is either a single fresh bind or a stored PM
    * that already passed this validation at its own creation, so within-side clashes
    * cannot exist. Identity model unchanged: a plain bind's identity is its event
    * serial, an aggregate's its aggId — aggregate members are deliberately NOT compared
    * (/root/reference/tree/nodes/InternalNode.py:28-30, Bind.aggId scaladoc). */
  private def validPair(nodeId: Int, isSeq: Boolean, a: Vector[Bind], b: Vector[Bind]): Boolean = {
    var minTs = Long.MaxValue
    var maxTs = Long.MinValue
    var i = 0
    while (i < a.length) {
      val bd = a(i)
      if (bd.minTs < minTs) minTs = bd.minTs
      if (bd.maxTs > maxTs) maxTs = bd.maxTs
      i += 1
    }
    i = 0
    while (i < b.length) {
      val bd = b(i)
      if (bd.minTs < minTs) minTs = bd.minTs
      if (bd.maxTs > maxTs) maxTs = bd.maxTs
      i += 1
    }
    if (maxTs - minTs > windowMicros) return false
    if (isSeq) {
      // adjacent-pair monotonicity over the virtual merge (a(i) first on slot ties,
      // matching mergeBinds)
      var ia = 0
      var ib = 0
      var prevMin = Long.MinValue
      var prevMax = Long.MinValue
      while (ia < a.length || ib < b.length) {
        val takeA = ib >= b.length || (ia < a.length && a(ia).slot <= b(ib).slot)
        val cur = if (takeA) { val c = a(ia); ia += 1; c } else { val c = b(ib); ib += 1; c }
        if (prevMin > cur.minTs) return false
        if (prevMax > cur.maxTs) return false
        prevMin = cur.minTs
        prevMax = cur.maxTs
      }
    }
    // cross-side duplicate-identity rejection (bind lists are tiny: nested scans beat
    // HashSet allocation per candidate pair)
    def bindsClash(x: Bind, y: Bind): Boolean = {
      if (x.aggId >= 0 && y.aggId >= 0) x.aggId == y.aggId
      else if (x.aggId >= 0) y.evs.exists(_.idx == x.aggId)
      else if (y.aggId >= 0) x.evs.exists(_.idx == y.aggId)
      else {
        var es = x.evs
        while (es.nonEmpty) {
          val id = es.head.idx
          var os = y.evs
          while (os.nonEmpty) {
            if (os.head.idx == id) return true
            os = os.tail
          }
          es = es.tail
        }
        false
      }
    }
    i = 0
    while (i < a.length) {
      var j = 0
      while (j < b.length) {
        if (bindsClash(a(i), b(j))) return false
        j += 1
      }
      i += 1
    }
    val fs = condsByNodePair(nodeId)
    i = 0
    while (i < fs.length) {
      if (!fs(i)(a, b)) return false
      i += 1
    }
    true
  }

  private def evalConds(nodeId: Int, binds: Vector[Bind]): Boolean = {
    val fs = condsByNode(nodeId)
    var i = 0
    while (i < fs.length) { if (!fs(i)(binds)) return false; i += 1 }
    true
  }

  /** Merge two slot-sorted bind vectors (the reference's merge_according_to,
    * /root/reference/misc/Utils.py:120-157). */
  private def mergeBinds(a: Vector[Bind], b: Vector[Bind]): Vector[Bind] = {
    val res = Vector.newBuilder[Bind]
    var i = 0; var j = 0
    while (i < a.length && j < b.length) {
      if (a(i).slot <= b(j).slot) { res += a(i); i += 1 } else { res += b(j); j += 1 }
    }
    while (i < a.length) { res += a(i); i += 1 }
    while (j < b.length) { res += b(j); j += 1 }
    res.result()
  }

  /** Subsets of `arr` (preserving order) with size <= maxSize. Enumerated by size like the
    * reference's powerset_generator (/root/reference/misc/Utils.py:234-244); enumeration
    * order does not affect the output set. */
  private def subsets(arr: Array[PM], maxSize: Int): Iterator[List[PM]] = {
    if (maxSize <= 0 || arr.isEmpty) return Iterator.single(Nil)
    val bound = math.min(maxSize, arr.length)
    (0 to bound).iterator.flatMap(k => combinations(arr, k))
  }

  private def combinations(arr: Array[PM], k: Int): Iterator[List[PM]] = {
    if (k == 0) return Iterator.single(Nil)
    new Iterator[List[PM]] {
      private val idx = Array.tabulate(k)(identity)
      private var done = k > arr.length
      def hasNext: Boolean = !done
      def next(): List[PM] = {
        val res = idx.iterator.map(arr).toList
        // advance
        var i = k - 1
        while (i >= 0 && idx(i) == arr.length - k + i) i -= 1
        if (i < 0) done = true
        else {
          idx(i) += 1
          var j = i + 1
          while (j < k) { idx(j) = idx(j - 1) + 1; j += 1 }
        }
        res
      }
    }
  }

  /** Load shedding: keep the top-shedCap partial matches by utility — chain length
    * (longer = closer to completion) then recency, a simplified version of the reference's
    * utility score (/root/reference/base/PatternMatch.py:45-84). */
  private def shed(id: Int): Unit = {
    val kept = bufs(id).sortBy(pm => (-pm.binds.length, -pm.lastTs)).take(shedCap)
    bufs(id).clear()
    bufs(id) ++= kept.sortBy(_.firstTs) // restore arrival-ish order for probe determinism
  }

  /** Drop expired partial matches (first_ts < last_ts - window),
    * /root/reference/tree/PatternMatchStorage.py:70-89. Arrival-ordered buffers use an
    * exact head guard; key-sorted buffers lose firstTs order, so expiry there is an
    * amortized full sweep (semantics unaffected: expired PMs always fail the window
    * check — expiry is pure GC). */
  private def expire(id: Int, lastTs: Long): Unit = {
    val b = bufs(id)
    if (b.isEmpty) return
    if (useSorted && sortKeyOf(id) != null) {
      expireTick(id) += 1
      if (expireTick(id) >= 10) {
        expireTick(id) = 0
        b.filterInPlace(_.firstTs >= lastTs - windowMicros)
      }
    } else if (b.head.firstTs < lastTs - windowMicros)
      b.filterInPlace(_.firstTs >= lastTs - windowMicros)
  }

  // ---- sorted-storage probes (opt-in; /root/reference/tree/PatternMatchStorage.py:144-283,
  // binary search /root/reference/misc/Utils.py:247-294) --------------------------------

  /** Stable insert keeping `b` ascending by `key` (ties appended after the equal run, so
    * equal-key entries stay in arrival order). ArrayBuffer insert is O(n) memmove — same
    * complexity as the reference's list.insert; the probe-side saving is what pays. */
  private def insertSorted(b: ArrayBuffer[PM], pm: PM, key: PM => Double): Unit = {
    val v = key(pm)
    var lo = 0
    var hi = b.length
    while (lo < hi) {
      val mid = (lo + hi) >>> 1
      if (java.lang.Double.compare(key(b(mid)), v) <= 0) lo = mid + 1 else hi = mid
    }
    b.insert(lo, pm)
  }

  /** First index with key >= v (lower bound) or key > v (upper bound). */
  private def bound(b: ArrayBuffer[PM], key: PM => Double, v: Double, upper: Boolean): Int = {
    var lo = 0
    var hi = b.length
    while (lo < hi) {
      val mid = (lo + hi) >>> 1
      val c = java.lang.Double.compare(key(b(mid)), v)
      if (c < 0 || (upper && c == 0)) lo = mid + 1 else hi = mid
    }
    lo
  }

  // ---- state snapshot ----------------------------------------------------------------

  def snapshot(): RuntimeState = RuntimeState(
    // aliased buffers are serialized by their HOST runtime; writing them here would both
    // duplicate state and clobber the host's restore (the alias shares the instance)
    bufs = bufs.zipWithIndex.map { case (b, i) =>
      if (aliased != null && aliased(i)) Vector.empty else b.toVector
    }.toVector,
    pending = pending.toVector,
    filtered = filtered.iterator.map { case (id, m) =>
      id -> m.iterator.map { case (idx, ts) => FilteredEv(idx, ts) }.toVector
    }.toVector,
    freezers = freezers)

  def restore(s: RuntimeState): Unit = {
    var i = 0
    s.bufs.foreach { b =>
      if (aliased == null || !aliased(i)) { bufs(i).clear(); bufs(i) ++= b }
      i += 1
    }
    pending.clear(); pending ++= s.pending
    filtered.clear()
    s.filtered.foreach { case (id, evs) =>
      val m = mutable.LinkedHashMap.empty[Long, Long]
      evs.foreach(f => m.update(f.idx, f.minTs))
      filtered.update(id, m)
    }
    freezers = s.freezers.toList
  }
}
