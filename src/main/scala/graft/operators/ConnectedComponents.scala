package graft.operators

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, IntegerType, LongType, StructField, StructType}

import scala.jdk.CollectionConverters._

/** Connected components over an undirected edge list — the consumer every
  * near-dup candidate generator (k02/k15/k19, MinHashDedup, SimHashDedup)
  * feeds: candidate PAIRS become duplicate CLUSTERS, and a pipeline keeps
  * one representative per cluster. Label = smallest reachable vertex id
  * (the conventional canonical representative).
  *
  * Plan: iterative min-label propagation. Each round every vertex takes
  * the min of its own label and its neighbors' labels — one equi-join of
  * the symmetrized edges against the labels plus one min-aggregate, both
  * hash-partitioned on vertex id, so a round is two shuffles of
  * |edges| + |vertices| rows and NO driver-side data (the driver sees one
  * convergence counter per round). Rounds needed = graph diameter in
  * label-hops; duplicate clusters are near-cliques, so 2-3 rounds
  * converge. Each round pins its labels ([[Materialize]]; lineage stays
  * one round deep), and a graph too deep for the round budget FAILS
  * loudly rather than returning unconverged labels. Every round pin is
  * released when the call returns or fails; the result is one pinned
  * |V|-row frame, released with [[Materialize.release]] once consumed.
  *
  * [public: label propagation and the large-star/small-star alternation —
  * Kiveris et al., "Connected Components in MapReduce and Beyond",
  * SoCC'14. [[assign]] is the propagation variant, right for low-diameter
  * dup graphs; [[assignStar]] is the star-contraction variant for
  * adversarial diameters.]
  */
object ConnectedComponents {

  /** Label every vertex with its component's minimum vertex id.
    * Returns (`vertexCol`, `component`). Vertices absent from `edges`
    * keep their own id (singleton clusters). */
  def assign(vertices: DataFrame, edges: DataFrame, vertexCol: String,
             srcCol: String, dstCol: String,
             maxIters: Int = 20): DataFrame = Materialize.scoped { s =>
    // persist the DIRECTED edges before symmetrizing: every round joins
    // against them, and the edge producer is typically the expensive part
    // (a near-dup join). Persisting the union instead would run the
    // producer once PER UNION BRANCH during materialization (alias
    // renumbering defeats exchange reuse across the two branches);
    // persisting the base runs it exactly once and the symmetric view is
    // two cheap projections of the cache. Measured 18.6 s → 5 s for k23
    // at sf0.1.
    val base = s.cache(edges.select(col(srcCol).as("__s"), col(dstCol).as("__d")))
    val sym = base
      .select(col("__s").as("__v"), col("__d").as("__n"))
      .unionByName(base.select(col("__d").as("__v"), col("__s").as("__n")))
    var pinned = s.pin(vertices.select(col(vertexCol).as("__v"),
                                       col(vertexCol).as("__label")),
                       eager = false) // lazy: round 1's action materializes it
    var labels = pinned
    var iters = 0
    var converged = false
    while (!converged && iters < maxIters) {
      // neighbor labels flow along edges; min over {own, neighbors'}. The
      // old label rides along so convergence is read off the SAME
      // materialized frame — one action per round, not a second
      // compare-join job. A checkpoint pin (not persist) TRUNCATES the
      // lineage: the labels subtree is referenced twice per round, so
      // without truncation the analyzer walks a tree that doubles every
      // round.
      val next = s.pin(sym
        .join(labels.select(col("__v").as("__n2"), col("__label")),
              col("__n") === col("__n2"))
        .select(col("__v"), col("__label"), lit(null).cast("boolean").as("__own"))
        .unionByName(labels.withColumn("__own", lit(true)))
        .groupBy("__v")
        .agg(min("__label").as("__label"),
             min(when(col("__own"), col("__label"))).as("__old")),
        eager = false) // lazy: the changed-count below stores it (the
                       // pin itself runs the round's shuffle stages)
      val changed = next.filter(col("__label") =!= col("__old")).count()
      s.release(pinned) // previous round's checkpoint: next is materialized
      pinned = next
      labels = next.select("__v", "__label")
      converged = changed == 0
      iters += 1
    }
    // un-converged labels are silently WRONG (a component would report a
    // non-minimal representative) — fail loudly instead, the same
    // philosophy as GroupEmit's cap assertion. Graphs deeper than the
    // round budget belong on [[assignStar]] (O(log² n) rounds).
    require(converged,
      s"label propagation did not converge in $maxIters rounds " +
        "(graph diameter exceeds the budget): raise maxIters or use assignStar")
    s.release(base)
    // materialize the caller-facing projection; the scope then frees the
    // loop's final checkpoint: the caller's sort/write reads the |V|
    // cached rows, never re-runs the iteration chain, and the only storage
    // residue is this one small frame
    s.keep(s.pin(labels
      .select(col("__v").as(vertexCol), col("__label").as("component"))))
  }

  /** Diagnostic trace of the LAST [[assignContracted]]/[[assignStar]] run
    * on this thread: edge counts entering/produced by each contract pass,
    * the star-finisher round count (−1 = finisher never ran) and the
    * residual edges the driver finished with union-find (−1 = none).
    * Written unconditionally (a few longs per run — free); read by the
    * heavy-band regression spec, which pins the fixture's convergence
    * TRAJECTORY (pair cardinality, pass counts, star rounds) instead of
    * wall-clock — the r12 brief's CI-stable form of "did CC regress". */
  final case class Trace(passEdges: Vector[Long], starRounds: Int, localEdges: Long)
  private[graft] val lastTrace = new ThreadLocal[Trace] {
    override def initialValue: Trace = Trace(Vector.empty, -1, -1L)
  }

  /** Residual edge count at or below which [[assignContracted]] stops
    * contracting and the driver finishes the components itself: 2^17
    * edges of two longs is 2 MiB collected, one job, where each further
    * distributed pass costs several jobs of launch overhead on a graph
    * that small. The large-star/small-star authors finish the same way
    * once the graph fits in memory (Kiveris et al., SoCC'14). */
  private val localFinishEdges: Long = 1L << 17

  /** Edge-count gate below which a contraction pass BROADCASTS its label
    * frame into the relabel joins (labels ≤ 2·edges rows ≈ 32 MB of
    * (long, long) at the gate — bounded, known BEFORE the pass runs, and
    * deliberately above Spark's 10 MB auto threshold, which can never
    * fire here anyway: checkpointed LogicalRDDs carry no size stats).
    * Beyond the gate the joins stay plain shuffles — the 100 TB posture. */
  val broadcastEdgeGate: Long = 1000000L

  /** Connected components by iterated seed-and-contract — the fast path
    * for duplicate graphs, and the shape that wins at any scale where
    * components are dense (near-cliques). Each pass:
    *
    *   1. seed: label(v) = min(Γ(v) ∪ {v}) — ONE groupBy over the
    *      symmetrized edges, no join (cheaper than a propagation round;
    *      an r12 A/B replaced the groupBy with an unordered window that
    *      fuses the relabel — it measured WORSE, 2.4 → 2.7–3.1 s: the
    *      window sorts/shuffles all 2·|E| rows where the seed agg
    *      map-combines to ~|V|; the groupBy stays);
    *   2. contract: relabel both endpoints of every edge through the seed
    *      labels and drop loops/dups. label(v) is always in v's component,
    *      so contraction preserves component structure exactly; on a
    *      near-clique corpus the 354k-edge sf0.1 dup graph collapses to
    *      827 inter-star edges in pass 1, which the driver finish below
    *      then takes (32 in pass 2 and zero in pass 3 without it). The two
    *      relabel joins BROADCAST the label frame below
    *      [[broadcastEdgeGate]] (zero added exchanges; the gate is the
    *      pass's own known edge count) and shuffle beyond it.
    *      Each pass still launches several jobs: under AQE a lazy pin
    *      runs its plan's shuffle stages when it is taken, and the
    *      contracted-edge count is one more.
    *
    * Once the residual edge count is at most `localFinishEdges` (checked
    * before every pass, the first included) the loop stops and the
    * driver collects the residual edges and runs union-find on them —
    * one bounded collect instead of the tail passes, whose few edges
    * cost as many jobs as the first. Integral ids only; other id types
    * and `forceStar` keep the distributed finisher. A pass removes every
    * vertex that has a smaller neighbor, so dense components collapse
    * immediately, but an adversarial n-chain only shortens by a constant
    * — after `maxContract` passes any surviving edges above the cap go to
    * the [[assignStar]] finisher (O(log² n) on any shape) rather than
    * looping O(diameter) times. Final labels compose the per-pass
    * mappings back down (one small join per pass).
    *
    * A component's global minimum M satisfies label(M) = M in every pass,
    * so it survives contraction as itself and the final labels are
    * identical to [[assign]]'s — pinned in ApiSpec on chain/clique/random
    * graphs and by k23's DuckDB oracle. Measured at sf0.1 (warm, edges
    * persisted): assign 5.0 s, assignStar 3.3 s, this ~2 s. */
  def assignContracted(vertices: DataFrame, edges: DataFrame, vertexCol: String,
                       srcCol: String, dstCol: String,
                       maxContract: Int = 4, maxIters: Int = 30,
                       forceStar: Boolean = false): DataFrame =
    assignContractedCapped(vertices, edges, vertexCol, srcCol, dstCol,
                           maxContract, maxIters, forceStar, localFinishEdges)

  /** [[assignContracted]] with the local-finish cap as a parameter; 0 never
    * finishes on the driver, so small test graphs still run the
    * distributed contraction and finisher. */
  private[graft] def assignContractedCapped(
      vertices: DataFrame, edges: DataFrame, vertexCol: String,
      srcCol: String, dstCol: String, maxContract: Int, maxIters: Int,
      forceStar: Boolean, localCap: Long): DataFrame = Materialize.scoped { s =>
    // LAZY pins throughout the loop: each truncates the logical
    // plan IMMEDIATELY (each pass references its predecessor several
    // times — with persist() alone the plan tree quintuples per pass and
    // plan stringification OOMs). Mapping frames stay pinned until the
    // composed result is materialized below; the scope frees every loop
    // pin on exit.
    var e = s.pin(edges.select(col(srcCol).as("__a"), col(dstCol).as("__b"))
      .filter(col("__a") =!= col("__b")), eager = false)
    val idType = e.schema("__a").dataType
    val integralIds = (idType == LongType || idType == IntegerType) &&
      e.schema("__b").dataType == idType
    var nEdges = e.count()
    val nEdges0 = nEdges // gate basis for the final |V|-sized compose join
    lastTrace.set(Trace(Vector(nEdges0), -1, -1L))
    def finishLocally = !forceStar && integralIds && nEdges <= localCap
    var mappings = List.empty[DataFrame] // deepest level first; (__v, __l)
    var exits = List.empty[Long] // edge count EXITING each pass (same order)
    var pass = 0
    while (nEdges > 0 && !finishLocally && pass < maxContract) {
      val sym = e.select(col("__a").as("__v"), col("__b").as("__n"))
        .unionByName(e.select(col("__b").as("__v"), col("__a").as("__n")))
      val l = s.pin(sym.groupBy("__v")
        .agg(least(min(col("__n")), first(col("__v"))).as("__l")), eager = false)
      // relabel-join strategy, decided by the KNOWN pass size: the label
      // frame holds ≤ 2·nEdges rows, so below the gate it broadcasts
      // (the relabel joins then add ZERO exchanges — the edge side never
      // re-shuffles; measured at sf0.1: the 354k-edge pass's two
      // exchange+sort legs disappear). l is a checkpointed LogicalRDD
      // with no size stats, so neither the static planner nor AQE can
      // make this call — the explicit gate encodes what AQE would do
      // with stats. Beyond the gate (real-cluster scale), plain shuffle
      // joins: a broadcast there would be the OOM the GraftSession notes
      // warn about.
      val lSized = if (nEdges <= broadcastEdgeGate) broadcast(l) else l
      val e2 = s.pin(e
        .join(lSized.select(col("__v").as("__s2"), col("__l").as("__la")),
              col("__a") === col("__s2"))
        .join(lSized.select(col("__v").as("__d2"), col("__l").as("__lb")),
              col("__b") === col("__d2"))
        .select(col("__la").as("__a"), col("__lb").as("__b"))
        .filter(col("__a") =!= col("__b"))
        .distinct(), eager = false)
      e = e2
      nEdges = e2.count()
      mappings ::= l
      exits ::= nEdges
      pass += 1
      lastTrace.set(lastTrace.get.copy(
        passEdges = lastTrace.get.passEdges :+ nEdges))
    }
    // finisher only if contraction didn't drain the graph (adversarial
    // diameters). forceStar (the assignStarSeeded path) runs it
    // unconditionally so the star algebra executes even on a drained
    // remainder (then a no-op). The finisher returns the RAW star roots
    // (v → component min) off the fixpoint edges — component minima have
    // no out-edge and are simply ABSENT, which the compose fold's
    // coalesce already resolves to "own label", so no vertex-completion
    // join, no endpoint-distinct, and no extra materialization job are
    // paid here (they were three jobs of pure overhead — r12 brief).
    // A remainder within the local cap gets the same raw-roots shape from
    // the driver's union-find.
    val roots: Option[DataFrame] =
      if (nEdges == 0 && !forceStar) None
      else if (finishLocally) {
        lastTrace.set(lastTrace.get.copy(localEdges = nEdges))
        Some(unionFindRoots(e, idType))
      } else {
        val fix = starFixpoint(s, e, maxIters, knownDistinctCount = Some(nEdges))
        Some(fix.groupBy("__a").agg(min("__b").as("__c"))
          .select(col("__a").as("__v"), col("__c")))
      }
    // compose top-down: component(level-i vertex) = component(label_i(v)),
    // vertices absent from the level above are their own roots. The
    // composed side c is always the SMALLER side (≤ 2× the edges exiting
    // that pass — tracked, so the bound is known, not estimated): below
    // the same gate as the relabel joins it broadcasts, making the whole
    // compose chain exchange-free; beyond it, shuffle joins (100 TB
    // posture, same argument as the relabel gate).
    val composed = mappings.zip(exits).foldLeft(roots) { case (cur, (m, nExit)) =>
      Some(cur match {
        case None => m.select(col("__v"), col("__l").as("__c"))
        case Some(c) =>
          val cc = c.select(col("__v").as("__u"), col("__c"))
          val cSized = if (nExit <= broadcastEdgeGate) broadcast(cc) else cc
          m.join(cSized, col("__l") === col("__u"), "left")
            .select(col("__v"), coalesce(col("__c"), col("__l")).as("__c"))
      })
    }
    composed match {
      case None => // edge-free graph: every vertex is a singleton
        vertices.select(col(vertexCol), col(vertexCol).as("component"))
      case Some(c) =>
        // materialize the composed labels; the scope then releases every
        // loop pin: the only storage residue is the |V|-row result.
        // c holds ≤ 2·nEdges0 rows (every vertex that ever touched an
        // edge) — broadcast below the gate so the |V|-row side never
        // re-shuffles for this join either.
        val cSized = if (nEdges0 <= broadcastEdgeGate) broadcast(c) else c
        s.keep(s.pin(vertices.select(col(vertexCol).as("__v0"))
          .join(cSized, col("__v0") === col("__v"), "left")
          .select(col("__v0").as(vertexCol),
                  coalesce(col("__c"), col("__v0")).as("component"))))
    }
  }

  /** Union-find on the driver over a small (__a, __b) edge frame of
    * integral ids: union by smaller root with path compression, so every
    * root is its component's minimum. Returns (__v, __c) = (vertex,
    * component min) for every NON-root vertex as a local frame of
    * `idType` — the star finisher's raw-roots shape. */
  private def unionFindRoots(e: DataFrame, idType: DataType): DataFrame = {
    val rows = e.select(col("__a").cast(LongType), col("__b").cast(LongType)).collect()
    val ids = rows.flatMap(r => Array(r.getLong(0), r.getLong(1))).distinct.sorted
    val parent = Array.range(0, ids.length) // index order = id order
    def find(i: Int): Int = {
      var r = i
      while (parent(r) != r) r = parent(r)
      var j = i
      while (parent(j) != r) { val up = parent(j); parent(j) = r; j = up }
      r
    }
    def at(id: Long): Int = java.util.Arrays.binarySearch(ids, id)
    rows.foreach { r =>
      val (x, y) = (find(at(r.getLong(0))), find(at(r.getLong(1))))
      if (x < y) parent(y) = x else if (y < x) parent(x) = y
    }
    def id(i: Int): Any = if (idType == IntegerType) ids(i).toInt else ids(i)
    val out = ids.indices.iterator.map(i => i -> find(i)).collect {
      case (i, r) if r != i => Row(id(i), id(r))
    }.toSeq
    e.sparkSession.createDataFrame(out.asJava,
      StructType(Seq(StructField("__v", idType), StructField("__c", idType))))
  }

  /** [[assignStar]] seeded with TWO seed-and-contract passes: the
    * near-clique mass (the overwhelming majority of a dup graph)
    * collapses in the seed passes — each one groupBy plus two relabel
    * joins — and the O(log² n) star alternation then runs only on the
    * inter-star remainder (sf0.1 dup fixture: 354k edges → 827 after
    * pass 1 → 32 after pass 2), instead of paying per-round
    * collect_set/explode over the full edge multiset. Two passes, not
    * one, because each star ROUND costs three exchanges while a contract
    * pass costs two and shrinks the remainder quadratically on dup
    * graphs — the star budget is the expensive finisher, so it should
    * see the smallest remainder two cheap passes can produce. Labels are
    * identical to [[assign]]/[[assignStar]] (composition argument in
    * [[assignContracted]]; equality pinned in ApiSpec). The star finisher
    * runs unconditionally, so the star algebra is exercised end-to-end
    * even when the seed passes drain the graph. */
  def assignStarSeeded(vertices: DataFrame, edges: DataFrame, vertexCol: String,
                       srcCol: String, dstCol: String,
                       maxIters: Int = 30): DataFrame =
    assignContracted(vertices, edges, vertexCol, srcCol, dstCol,
                     maxContract = 2, maxIters = maxIters, forceStar = true)

  /** Connected components by alternating large-star / small-star
    * contraction [public: Kiveris et al., "Connected Components in
    * MapReduce and Beyond", SoCC'14] — the ADVERSARIAL-DIAMETER path.
    * [[assign]] converges in O(diameter) rounds, which is right for
    * near-clique duplicate graphs (2-4 rounds) but degrades on long
    * chains (a 10⁶-hop path needs 10⁶ rounds); star contraction halves
    * the tree height every alternation, converging in O(log² n) rounds on
    * ANY graph shape. Per round both operations are one groupBy over the
    * edge multiset:
    *   large-star: per node u, every neighbor v > u re-links to
    *     min(Γ(u) ∪ {u});
    *   small-star: per node u, every neighbor v ≤ u (and u itself)
    *     re-links to that same min.
    * The edge set monotonically contracts toward (v, root) stars; at the
    * fixpoint each node's minimum neighbor IS its component's minimum.
    * Equivalence with [[assign]] is pinned in ApiSpec on chain, clique,
    * and random graphs. Numeric vertex ids required (the star orders ids;
    * [[assign]] only needs orderable ids). */
  def assignStar(vertices: DataFrame, edges: DataFrame, vertexCol: String,
                 srcCol: String, dstCol: String,
                 maxIters: Int = 30): DataFrame = Materialize.scoped { s =>
    // fixpoint edges are stars (v → component min); roots keep themselves.
    // Materialize the labels; the scope frees the fixpoint edge pin — the
    // only storage residue is the |V|-row result.
    val e = starFixpoint(s,
      edges.select(col(srcCol).as("__a"), col(dstCol).as("__b")),
      maxIters, knownDistinctCount = None)
    s.keep(s.pin(vertices.select(col(vertexCol).as("__v"))
      .join(e.groupBy("__a").agg(min("__b").as("__r")),
            col("__v") === col("__a"), "left")
      .select(col("__v").as(vertexCol),
              coalesce(col("__r"), col("__v")).as("component"))))
  }

  /** The large-star/small-star alternation run to its fixpoint over an
    * (__a, __b) edge frame; returns the fixpoint edges pinned in `s`.
    * `knownDistinctCount` = Some(n) promises the input is already
    * loop-free, distinct, and pinned in `s` with n edges (the
    * contract-loop pass outputs) — the initial distinct + sig job is then
    * skipped entirely and round 1 compares against a sentinel that can
    * never match a real signature. Fails loudly if the round budget is
    * exhausted before the fixpoint (the [[assign]] philosophy: silent
    * unconverged stars would be silently wrong roots). */
  private def starFixpoint(s: Materialize.Scope, edges: DataFrame, maxIters: Int,
                           knownDistinctCount: Option[Long]): DataFrame = {
    def symmetric(e: DataFrame): DataFrame =
      e.select(col("__a").as("__u"), col("__b").as("__n"))
        .unionByName(e.select(col("__b").as("__u"), col("__a").as("__n")))
    // large-star: every neighbor v > u re-links to min(Γ(u) ∪ {u}).
    // NO intra-round distinct (r12 brief: fewer exchanges per round) —
    // duplicate rows are harmless to the min/collect_set algebra
    // downstream (smallStar's groupBys absorb them) and cannot compound:
    // smallStar's round-boundary distinct re-canonicalizes the multiset
    // before the next round and before sig() hashes it.
    def largeStar(e: DataFrame): DataFrame =
      symmetric(e)
        .groupBy("__u")
        .agg(min("__n").as("__mn"), collect_set("__n").as("__ns"))
        .select(least(col("__mn"), col("__u")).as("__m"), col("__u"),
                explode(col("__ns")).as("__n"))
        .filter(col("__n") > col("__u"))
        .select(col("__n").as("__a"), col("__m").as("__b"))
        .filter(col("__a") =!= col("__b"))
    // small-star: u and its strictly-smaller neighbors all link to their min
    def smallStar(e: DataFrame): DataFrame = {
      val g = symmetric(e)
        .filter(col("__n") < col("__u"))
        .groupBy("__u")
        .agg(min("__n").as("__m"), collect_set("__n").as("__ns"))
      g.select(col("__u").as("__a"), col("__m").as("__b"))
        .unionByName(
          g.select(col("__m"), explode(col("__ns")).as("__n"))
            .filter(col("__n") =!= col("__m"))
            .select(col("__n").as("__a"), col("__m").as("__b")))
        .distinct()
    }
    // convergence = unchanged edge multiset, read as (count, hash-sum) —
    // one cheap aggregate; maxIters backstops the (negligible) collision
    def sig(e: DataFrame): (Long, String) = {
      // decimal-routed hash sum: a long sum overflows under ANSI mode
      val r = e.agg(count(lit(1)).as("c"),
                    coalesce(sum(xxhash64(col("__a"), col("__b"))
                                   .cast("decimal(38,0)")),
                             lit(0).cast("decimal(38,0)")).as("h"))
        .collect().head
      (r.getLong(0), r.getDecimal(1).toString)
    }
    // a checkpoint pin per round: large/small-star each reference their
    // input twice, so untruncated lineage would double every round (the
    // same argument as assign's loop)
    var e = knownDistinctCount match {
      case Some(_) => edges // the contract loop's last pin, same scope
      case None =>
        // standalone entry (public assignStar): start a FRESH trace so a
        // prior assignContracted run's pass counts can't leak into this
        // run's record (the Trace contract: the LAST run, never a blend)
        lastTrace.set(Trace(Vector.empty, -1, -1L))
        s.pin(edges.filter(col("__a") =!= col("__b")).distinct(),
              eager = false) // lazy: sig() materializes it
    }
    var prevSig = knownDistinctCount match {
      case Some(n) => (n, "") // sentinel hash: never equals a real sig
      case None => sig(e)
    }
    var iters = 0
    var converged = prevSig._1 == 0
    while (!converged && iters < maxIters) {
      val next = s.pin(smallStar(largeStar(e)), eager = false)
      val sg = sig(next) // stores the checkpoint (the pin ran the shuffles)
      s.release(e) // previous round's checkpoint: next is materialized
      e = next
      converged = sg == prevSig
      prevSig = sg
      iters += 1
    }
    require(converged,
      s"star contraction did not converge in $maxIters rounds: raise maxIters")
    lastTrace.set(lastTrace.get.copy(starRounds = iters))
    e
  }
}
