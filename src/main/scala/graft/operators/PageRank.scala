package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Integer-exact PageRank over a directed edge list — the iterative
  * WEIGHTED-MASS fixed point, the sibling class ConnectedComponents does
  * not cover (CC propagates a min-label through a lattice and converges
  * by order alone; PageRank propagates divisible MASS whose arithmetic
  * must be reproduced bit-for-bit by an independent engine, so the whole
  * recurrence is pinned to scaled-integer floor arithmetic — the §2
  * determinism discipline applied to an iterative operator for the first
  * time).
  *
  * Recurrence (all `Long`, both engines truncate integer division toward
  * zero — verified SURVEY §2 rule): with `S` the mass scale, `N` the node
  * count, `init = S div N`, `base = ((100-damp) * init) div 100`,
  *
  *   r0(v)    = init
  *   r_{t+1}(u) = base + (damp * Σ_{v→u} (r_t(v) div outdeg(v))) div 100
  *
  * i.e. classic damped PageRank (Page et al. 1999, "The PageRank
  * Citation Ranking") with every division floored. Floor-truncation
  * dust (≤ outdeg(v)−1 per contribution) stays below 1e-9 of a rank at
  * the default S=1e12, so ORDERING matches the real-valued iteration
  * except across genuinely-tied ranks; what the scaled-integer form buys
  * is a bit-exact cross-engine oracle over an unrolled SQL chain with no
  * float summation anywhere.
  *
  * Plan per iteration: one equi-join of the (src,dst,outdeg) edge table
  * against the current ranks on src, then one sum-aggregate on dst — the
  * Pregel message-passing shape on DataFrames (Malewicz et al.
  * SIGMOD'10). Below [[broadcastNodeGate]] the |V|-row rank side is
  * broadcast and a round costs ONE shuffle (the dst aggregation); above
  * it the rank join shuffles too (two shuffles of |E|+|V| rows per
  * round), with no driver-side data in either regime.
  * Rounds are a FIXED count (the declared semantics — this is not a
  * convergence loop), so lineage stays `iters` joins deep; each round
  * pins its ranks ([[Materialize]]) to keep per-job plans one round deep.
  * At 100 TB the edge table is the scan cost and the rank table is |V|
  * rows — the standard link-analysis shape for web-graph quality signals
  * in pretraining pipelines (CommonCrawl harmonic-centrality/PageRank
  * seed filtering).
  *
  * Overflow: Σ contributions ≤ total mass ≈ S, so `damp * Σ ≤ 100·S`
  * needs S ≤ Long.Max/100 ≈ 9.2e16 — the default 1e12 leaves 4 orders of
  * headroom. Past ~1e5 concurrent graphs or a bigger S, route the sum
  * through decimal(38,0) (the d-block discipline).
  */
object PageRank {

  /** Below this node count the per-round rank/sum frames are broadcast
    * (|V| × 16 bytes ⇒ 16 MB at the gate — the ConnectedComponents
    * relabel-gate discipline; above it both joins fall back to hash). */
  val broadcastNodeGate: Long = 1000000L

  /** Rank every node of the directed graph `edges`. Returns
    * (`node` long, `r` long) — r is the PageRank mass scaled by `scale`.
    *
    * CONTRACT: every node must have at least one out-edge (no dangling
    * mass — a symmetrized graph satisfies this by construction). A
    * dangling node would silently leak its mass out of the total each
    * round, so the operator FAILS LOUDLY instead (the Guards posture;
    * the check is a count-only aggregate, never data on the driver).
    *
    * EAGER construction (the k70 class): calling this runs Spark jobs —
    * the edge-table checkpoint, the dangling/size counts, and one small
    * job per iteration. Plan-only callers pay the full evaluation. The
    * result is one pinned |V|-row frame: release it with
    * [[Materialize.release]] once consumed.
    */
  def ranks(edges: DataFrame, srcCol: String, dstCol: String,
            iters: Int = 3, scale: Long = 1000000000000L,
            damp: Int = 85,
            broadcastGate: Long = broadcastNodeGate): DataFrame = Materialize.scoped { s =>
    require(iters >= 1, s"PageRank: iters must be >= 1, got $iters")
    require(damp >= 0 && damp <= 100, s"PageRank: damp must be in [0,100]")
    require(scale > 0 && scale <= Long.MaxValue / 100,
      s"PageRank: scale $scale would overflow damp*sum in Long")

    // one materialization of the (src, dst, outdeg) table: every round
    // joins against it, and the caller's edge producer (often a join +
    // distinct) must not rerun per round or per union branch
    val e0 = edges.select(col(srcCol).cast("long").as("src"),
                          col(dstCol).cast("long").as("dst"))
    val deg = e0.groupBy("src").agg(count(lit(1)).as("outdeg"))
    val edgesD = s.pin(e0.join(deg, "src"))

    // node set == deg's key set once danglingness is excluded; checkpoint
    // FIRST so the dangling guard below probes this |V|-row frame instead
    // of recomputing the degree aggregate from the raw edges
    val nodes = s.pin(edgesD.select(col("src").as("node")).distinct())
    val dangling = edgesD.select(col("dst").as("node")).distinct()
      .join(nodes, Seq("node"), "left_anti").count()
    require(dangling == 0L,
      s"PageRank: $dangling dangling node(s) (dst with no out-edge) would " +
        "leak mass each round; symmetrize the graph or add self-loops")
    val n = nodes.count() // 1-row scalar class (Guards posture)
    require(n > 0, "PageRank: empty graph")
    val init = scale / n
    require(init > 0,
      s"PageRank: scale $scale div $n nodes floors to 0 mass per node; " +
        "raise scale above the node count")
    val base = ((100L - damp) * init) / 100L

    // the ConnectedComponents relabel gate: the rank table is |V| rows of
    // 16 bytes — broadcastable long after |E| stops fitting anywhere, so
    // below the gate each round's rank join goes map-side (one shuffle per
    // round, the dst aggregation, instead of two); above it, hash join
    // (the 100 TB regime — both regimes share the same plan text)
    val small = n <= broadcastGate

    var ranks = nodes.withColumn("r", lit(init))
    for (_ <- 1 to iters) ranks = s.pin(round(edgesD, nodes, ranks, base, damp, small))
    // final ranks are a self-contained checkpoint: the scope releases
    // everything upstream (intermediate rounds, the edge table, the nodes)
    s.keep(ranks)
  }

  /** One recurrence round as a LAZY frame — the loop body, exposed so the
    * plan-pin suite can see the per-round physical shape the eager loop
    * hides behind its checkpoints: the |E|⋈|V| rank join (broadcast-hinted
    * under the gate) feeding the dst sum-aggregate, then the damped update
    * over the node set. */
  private[graft] def round(edgesD: DataFrame, nodes: DataFrame,
                           ranks: DataFrame, base: Long, damp: Int,
                           small: Boolean): DataFrame = {
    def hint(df: DataFrame): DataFrame = if (small) broadcast(df) else df
    val sums = edgesD.join(hint(ranks), edgesD("src") === ranks("node"))
      .select(col("dst").as("node"), expr("r div outdeg").as("c"))
      .groupBy("node").agg(sum("c").as("m"))
    nodes.join(hint(sums), Seq("node"), "left")
      .select(col("node"),
        (lit(base) + expr(s"($damp * coalesce(m, 0L)) div 100")).as("r"))
  }
}
