package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.api.Similarity

/** HNSW-style graph ANN [public: Malkov & Yashunin 2016, "Efficient and
  * robust approximate nearest neighbor search using Hierarchical Navigable
  * Small World graphs"] — the fourth and last classic ANN index family:
  * IVF partitions ([[Ivf]]), LSH hashes ([[Ann]]), PQ/OPQ compresses
  * (Similarity.int8 / Ivf codebooks); HNSW builds a layered PROXIMITY
  * GRAPH and answers queries by greedy graph traversal. The class test
  * that admitted it past the ANN dry-tail: neither the structure (an
  * adjacency table — membership in nothing) nor the query algorithm (a
  * data-dependent sequential descent, not a bucket restriction) is shared
  * with any sibling; the nearest in-house shape is PageRank's per-round
  * frontier join, but that is a global fixed point, not per-query
  * navigation. What it covers that the others cannot: boundary recall —
  * IVF loses neighbors that sit across a cell boundary and LSH pays bands
  * for them, while graph edges follow the actual neighborhood topology.
  *
  * Spark-first re-expression (NOT the paper's sequential insert loop,
  * which is driver-hostile — one beam search per inserted point):
  *
  *  - **Levels** are assigned by seeded hash, not RNG: `level(v)` = the
  *    largest `l` with `xxhash64(id, seed) mod m^l = 0`, so
  *    P(level ≥ l) ≈ m^-l — the paper's geometric law, integer-exact and
  *    reproducible (the §2 determinism discipline). Map-only.
  *  - **Layer l's node set** is {v : level(v) ≥ l} (the paper's nesting).
  *    Edges per layer: LSH-banded candidate pairs ([[Ann.withBuckets]] —
  *    bucketed, never all-pairs: the repo-wide candidate-generation rule)
  *    → per-node top-4m shortlist → the paper's NEIGHBOR-DIVERSITY
  *    heuristic as a deterministic per-node fold (see [[buildLayer]] —
  *    load-bearing: without it a near-duplicate clique absorbs every
  *    edge and the graph shatters, measured at recall 0.15 on the r23
  *    probe's planted corpus) → pad to `m` → union reverse edges →
  *    re-cap at `2m` on the (cos DESC, id ASC) total order. The
  *    reverse-union is the paper's bidirectional linking; every
  *    selection step is a pure function of the candidate SET, unlike
  *    the paper's insertion-order-dependent incremental build.
  *    Candidate quality is graded, not assumed: HnswSpec gates mean
  *    recall@10 ≥ 0.9 against the brute force on the fixture.
  *  - **Search** is BATCHED: all queries traverse simultaneously, one
  *    frontier frame. Upper layers run `descentHops` greedy hops each
  *    (frontier ⋈ adjacency ⋈ unit-corpus → per-query argmax as one
  *    `max(struct)` hash agg — no window, no sort); layer 0 runs
  *    `layer0Rounds` beam rounds keeping the `ef` best per query
  *    (sorted-struct slice agg — per-key state ≤ ef·(2m+1) structs BY
  *    CONSTRUCTION, inside the Guards fold budget without a probe).
  *    Fixed hop/round counts are the declared semantics (the k71/k75
  *    unrolled-recurrence posture, not a convergence loop); every round
  *    is pinned ([[Materialize]]; lineage would otherwise double per hop —
  *    the frontier appears twice in each step's plan).
  *
  * 100 TB shape: levels are map-only; layer sizes shrink geometrically
  * (m^-l), so build cost is the layer-0 pass — LSH bucketing (map) + the
  * banded self-join (hash-partitioned by bucket) + two per-src windows
  * over candidate pairs, never all-pairs; the adjacency persists
  * partitioned by (layer, src) so search prunes to one layer's
  * partitions. A search frontier is |Q|·ef rows — broadcast against the
  * adjacency for online |Q|, hash-joined for offline batch |Q| (both
  * equi-joins on src; the optimizer picks by size, same plan text). The
  * entry point is one 1-row lookup. No driver-side data anywhere except
  * the 1-row entry collect (the k-means posture).
  *
  * EAGER construction (the k70 class): [[build]] runs the level pass, the
  * per-layer edge jobs and the entry lookup; the index holds pinned
  * frames — call [[HnswIndex.free]] when done. Build-time and per-round
  * search pins are released when the call returns or fails.
  */
object Hnsw {

  /** A built index: `adjacency` (layer, src, dst, cos), `levels`
    * (node, level), `unit` (node, u — unit-normalized vectors, the
    * search-time scoring side), the deterministic entry point (max level,
    * ties lowest id). All three frames are pinned checkpoints. */
  final case class HnswIndex(adjacency: DataFrame, levels: DataFrame,
                             unit: DataFrame, entryId: Long, topLayer: Int) {
    def free(): Unit = Seq(adjacency, levels, unit).foreach(Materialize.release)
  }

  /** Seeded-hash geometric level: largest l ≤ maxLevel with
    * hash mod m^l = 0. Exposed for the level-law spec. */
  private[graft] def levelCol(idCol: String, m: Int, maxLevel: Int,
                              seed: Long): org.apache.spark.sql.Column = {
    val h = abs(xxhash64(col(idCol), lit(seed)))
    (1 to maxLevel).foldLeft(lit(0)) { (acc, l) =>
      val ml = math.pow(m.toDouble, l.toDouble).toLong
      when(pmod(h, lit(ml)) === 0, lit(l)).otherwise(acc)
    }
  }

  /** Build the layered graph over `embeddings` (idCol: long, vecCol:
    * float/double array). `m` = out-degree budget per layer (adjacency
    * capped at 2m after reverse-union); `bands`/`bandBits` parameterize
    * the LSH candidate generation; `dim` must match the vector width. */
  def build(embeddings: DataFrame, idCol: String, vecCol: String,
            dim: Int, m: Int = 8, maxLevel: Int = 3,
            bands: Int = 6, bandBits: Int = 2,
            seed: Long = 42L): HnswIndex = Materialize.scoped { s =>
    require(m >= 2, s"Hnsw: m must be >= 2, got $m")
    require(maxLevel >= 1, s"Hnsw: maxLevel must be >= 1, got $maxLevel")
    require(math.pow(m.toDouble, maxLevel.toDouble) <= Long.MaxValue.toDouble,
      "Hnsw: m^maxLevel overflows Long")

    // NULL ids would break the total-order tie-breaks (the GreedyCover
    // r17-ADVICE discipline); reject loudly up front
    val base = embeddings.select(col(idCol).cast("long").as("node"),
                                 col(vecCol).as("__v"))
    val unit = s.pin(base
      .select(col("node"), Similarity.normalize(col("__v")).as("u"),
              levelCol("node", m, maxLevel, seed).as("level")))
    require(unit.filter(col("node").isNull).isEmpty,
      s"Hnsw: NULL $idCol rows present — the deterministic tie-breaks " +
        "need a total order over non-null ids")
    require(!unit.isEmpty, "Hnsw: empty corpus")

    val top = unit.agg(max("level")).collect().head.getInt(0) // 1-row scalar
    val layers = (0 to top).map { l =>
      s.pin(buildLayer(unit.filter(col("level") >= l), l, m, dim, bands, bandBits, seed))
    }
    val adjacency = s.pin(layers.reduce(_.unionAll(_)))
    layers.foreach(s.release)

    // deterministic entry: max level, lowest id — TakeOrdered, 1-row
    val e = unit.orderBy(desc("level"), asc("node")).limit(1).collect().head
    val levels = s.pin(unit.select("node", "level"))
    val units = s.pin(unit.select("node", "u"))
    // the two skinny index pins above are materialized (eager), so the
    // scope releases the fat build-time frame — without that, every
    // build pins a third copy of the corpus for the session's lifetime
    HnswIndex(s.keep(adjacency), s.keep(levels), s.keep(units), e.getLong(0), top)
  }

  /** One layer's capped adjacency (layer, src, dst, cos), the frame
    * [[build]] pins: LSH-banded candidates → per-src top-4m shortlist →
    * the paper's NEIGHBOR-DIVERSITY selection (Malkov & Yashunin §4, SELECT-NEIGHBORS-
    * HEURISTIC) as a deterministic fold → pad back to m → ∪ reverse →
    * cap 2m.
    *
    * The diversity rule — keep candidate e iff e is closer to the node
    * than to every already-kept neighbor (cos(e,q) > cos(e,s) ∀ kept s) —
    * is LOAD-BEARING, not an optimization: the r23 ScaleProbe's planted
    * replica-clique corpus measured pure top-m selection at recall 0.15
    * (every edge stays inside a node's own near-duplicate clique and the
    * graph shatters into components — the exact hazard the paper's
    * heuristic addresses), vs ≥ 0.9 gated with the heuristic on. Slots
    * the rule leaves open are padded with the nearest pruned candidates
    * (the paper's keepPrunedConnections), so out-degree stays m. The
    * whole selection is a per-src SQL fold over the SORTED (cos DESC,
    * dst ASC) shortlist — deterministic given the candidate set, unlike
    * the paper's insertion-order-dependent build; per-key state is ≤ 4m
    * structs of (scalar, id, unit vector) by construction. */
  private def buildLayer(nodes: DataFrame, layer: Int, m: Int, dim: Int,
                         bands: Int, bandBits: Int, seed: Long): DataFrame = {
    // Ann.withBuckets expects (vec_id, embedding); unit vectors are fine —
    // hyperplane sign is norm-invariant
    val bucketed = Ann.withBuckets(
      nodes.select(col("node").as("vec_id"), col("u").as("embedding")),
      dim, bands, bandBits, seed)
      .select(col("vec_id"), col("embedding"), col("band"), col("bucket"))
    val a = bucketed.select(col("vec_id").as("src"), col("embedding").as("ua"),
                            col("band"), col("bucket"))
    val b = bucketed.select(col("vec_id").as("dst"), col("embedding").as("ub"),
                            col("band").as("band2"), col("bucket").as("bucket2"))
    val pairs = a.join(b, col("band") === col("band2") &&
                          col("bucket") === col("bucket2") &&
                          col("src") =!= col("dst"))
      .select(col("src"), col("dst"),
              Similarity.dot(col("ua"), col("ub")).as("cos"))
      .groupBy("src", "dst").agg(max("cos").as("cos")) // dedup multi-band
    val w = Window.partitionBy("src").orderBy(desc("cos"), asc("dst"))
    // shortlist BEFORE re-attaching vectors: the candidate shuffle stays
    // (src, dst, cos)-lean; only 4m survivors per src pay the 64-double u
    val shortlist = pairs
      .withColumn("__rn", row_number().over(w)).filter(col("__rn") <= 4 * m)
      .drop("__rn")
      .join(nodes.select(col("node").as("dst"), col("u")), "dst")
      .groupBy("src")
      .agg(array_sort(collect_list(
        struct((-col("cos")).as("nc"), col("dst"), col("cos"), col("u"))))
        .as("cs"))
    // diversity fold (slice(cs,1,0) = the correctly-typed empty array),
    // then pad with the nearest pruned candidates up to m
    val kept = shortlist.withColumn("kept", expr(
      s"""aggregate(cs, slice(cs, 1, 0), (acc, e) ->
         |  case when size(acc) < $m and forall(acc, s ->
         |         e.cos > aggregate(zip_with(e.u, s.u, (x, y) -> x * y),
         |                           cast(0 as double), (p, v) -> p + v))
         |       then concat(acc, array(e)) else acc end)""".stripMargin))
      .withColumn("sel", expr(
        s"""concat(kept, slice(filter(cs, c ->
           |  NOT exists(kept, k -> k.dst = c.dst)), 1, $m - size(kept)))"""
          .stripMargin))
    val directed = kept
      .select(col("src"), explode(col("sel")).as("e"))
      .select(col("src"), col("e.dst").as("dst"), col("e.cos").as("cos"))
    directed
      .unionAll(directed.select(col("dst").as("src"), col("src").as("dst"),
                                col("cos")))
      .groupBy("src", "dst").agg(max("cos").as("cos")) // dedup mutual edges
      .withColumn("__rn", row_number().over(w)).filter(col("__rn") <= 2 * m)
      .select(lit(layer).as("layer"), col("src"), col("dst"), col("cos"))
  }

  /** Batched top-k search. `queries`: (qidCol: long, qvecCol: array).
    * Returns (qid, rank int 1..k, vec_id, cos double) — rank by
    * (cos DESC, vec_id ASC), the repo total order. `excludeSelf` drops a
    * result row whose vec_id equals the qid (self stays DURING navigation
    * — it is the best possible anchor — and is excluded only from the
    * returned top-k). EAGER (checkpoint per hop/round). */
  def search(index: HnswIndex, queries: DataFrame, qidCol: String,
             qvecCol: String, k: Int = 10, ef: Int = 32,
             descentHops: Int = 3, layer0Rounds: Int = 4,
             excludeSelf: Boolean = false): DataFrame = Materialize.scoped { s =>
    require(k >= 1 && ef >= k, s"Hnsw: need 1 <= k <= ef, got k=$k ef=$ef")

    val q = s.pin(queries.select(col(qidCol).cast("long").as("qid"),
                                 Similarity.normalize(col(qvecCol)).as("qu")))

    // seed frontier: every query anchored at the entry point
    val entryU = index.unit.filter(col("node") === index.entryId)
      .select(col("u").as("eu"))
    var frontier = s.pin(q.crossJoin(broadcast(entryU))
      .select(col("qid"), lit(index.entryId).as("node"),
              Similarity.dot(col("qu"), col("eu")).as("cos")))

    // upper layers: greedy descent, one argmax per query per hop
    for (layer <- index.topLayer to 1 by -1; _ <- 1 to descentHops) {
      val adj = index.adjacency.filter(col("layer") === layer)
        .select(col("src"), col("dst"))
      val expanded = frontier.select(col("qid"), col("node"))
        .join(adj, col("node") === col("src"))
        .select(col("qid"), col("dst").as("node"))
        .join(index.unit, "node")
        .join(q, "qid")
        .select(col("qid"), col("node"),
                Similarity.dot(col("qu"), col("u")).as("cos"))
      frontier = s.pin(frontier.unionAll(expanded)
        .groupBy("qid")
        .agg(max(struct(col("cos"), (-col("node")).as("negn"),
                        col("node"))).as("__b"))
        .select(col("qid"), col("__b.node").as("node"), col("__b.cos").as("cos")))
    }

    // layer 0: beam of ef, fixed rounds (declared semantics)
    val adj0 = index.adjacency.filter(col("layer") === 0)
      .select(col("src"), col("dst"))
    var cand = frontier
    for (_ <- 1 to layer0Rounds) {
      val expanded = cand.select(col("qid"), col("node"))
        .join(adj0, col("node") === col("src"))
        .select(col("qid"), col("dst").as("node"))
        .join(index.unit, "node")
        .join(q, "qid")
        .select(col("qid"), col("node"),
                Similarity.dot(col("qu"), col("u")).as("cos"))
      cand = s.pin(cand.unionAll(expanded)
        .groupBy("qid", "node").agg(max("cos").as("cos")) // dedup revisits
        .groupBy("qid")
        .agg(slice(array_sort(collect_list(
          struct((-col("cos")).as("nc"), col("node"), col("cos")))),
          1, ef).as("__beam"))
        .select(col("qid"), explode(col("__beam")).as("__c"))
        .select(col("qid"), col("__c.node").as("node"), col("__c.cos").as("cos")))
    }

    val filtered = if (excludeSelf) cand.filter(col("node") =!= col("qid"))
                   else cand
    s.keep(s.pin(filtered
      .groupBy("qid")
      .agg(slice(array_sort(collect_list(
        struct((-col("cos")).as("nc"), col("node"), col("cos")))),
        1, k).as("__top"))
      .select(col("qid"), posexplode(col("__top")).as(Seq("__p", "__c")))
      .select(col("qid"), (col("__p") + 1).cast("int").as("rank"),
              col("__c.node").as("vec_id"), col("__c.cos").as("cos"))))
  }
}
