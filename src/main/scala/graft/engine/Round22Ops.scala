package graft.engine

import org.apache.spark.sql.functions._

import graft.operators.{GreedyCover, Materialize, PageRank}

/** Round-17 second batch (builder-internal r22): three operator CLASSES
  * the surface did not cover —
  *
  *   - k73: iterative weighted-mass fixed point (integer-exact PageRank).
  *     ConnectedComponents (k23/k25) is the only other iterative operator
  *     and it propagates a min-label through a lattice — convergence by
  *     order, no arithmetic to reproduce. PageRank propagates divisible
  *     MASS, so the §2 determinism discipline (scaled-integer floor
  *     arithmetic, both engines truncate `div` toward zero) gets applied
  *     to a multi-round recurrence for the first time, and the oracle
  *     unrolls the same recurrence as a static CTE chain.
  *
  *   - k74: sequential submodular selection (greedy max-coverage).
  *     Every other declared query is ONE declarative plan; greedy's
  *     round-t argmax depends on rounds 1..t-1, so the operator runs k
  *     driver rounds (the k-means/IVF posture — 1-row argmax collects,
  *     all data distributed) and the oracle unrolls the k rounds as
  *     chained CTEs with NOT-EXISTS anti-joins.
  *
  *   - k75: alternating marginal balancing (iterative proportional
  *     fitting / raking). Unlike k73/k74 this one IS one declarative
  *     plan — the sweeps live on the domain-sized grid, so the fixed
  *     4-sweep recurrence unrolls as window stages (the k71 two-rounds
  *     posture applied to a 2-D alternating fixed point).
  *
  *   - i13/i14: join-view incremental maintenance — the BILINEAR delta
  *     rule for inner joins (cross terms the additive i09/i10 class
  *     never needs) and its outer-join completion (null-padded rows
  *     RETRACTED when a left row gains its first match, via i10's
  *     signed states). Both compose through the api.Mv monoid and both
  *     oracles recompute from scratch, so the hash matches are the
  *     cross-engine delta-composition ≡ recompute proofs.
  */
object Round22Ops {

  private val S = "1000000000000" // rank mass scale (1e12) as SQL literal

  /** k73 — PageRank over the customer↔supplier bipartite graph [public:
    * Page et al. 1999 "The PageRank Citation Ranking"; the Pregel
    * message-passing shape on DataFrames, Malewicz et al. SIGMOD'10 —
    * link-analysis quality signals are how CommonCrawl-scale pipelines
    * seed-filter domains]: distinct (customer, supplier) trade pairs from
    * orders⋈lineitem become a symmetrized edge list (cust node = 2k,
    * supp node = 2k+1 — collision-free by parity), and 3 damped rounds
    * (d=0.85) of the scaled-integer recurrence rank the nodes; the face
    * is the top-20 by rank with a total tie-break order.
    *
    * Determinism: every quantity is a Long — init = S div N,
    * base = (15·init) div 100, r' = base + (85·Σ(r div outdeg)) div 100 —
    * and both engines truncate integer division identically (§2 rule),
    * so the unrolled-CTE oracle matches bit-for-bit with no float
    * summation anywhere. Suppliers aggregate ~15× more mass than
    * customers (10 suppliers serve 150+ customers at sf0.001), so the
    * top-20 is all suppliers plus the best-connected customers — real
    * signal, not a uniform fixture artifact.
    *
    * Scale shape: per round one equi-join |E|⋈|V| on src + one sum-agg
    * on dst (two shuffles per round, the Pregel step); the edge table is
    * checkpointed ONCE (the caller's orders⋈lineitem distinct never
    * reruns), rounds are a fixed count, and nothing data-sized touches
    * the driver. The face's top-20 is a TakeOrdered, not a global sort.
    *
    * EAGER construction (the k70 class): calling fn runs the whole
    * 3-round iteration; the returned frame is a self-contained 20-row
    * checkpoint and every upstream checkpoint is freed before return. */
  val k73: Q = Q(
    "k73_pagerank_bipartite",
    s"""WITH pairs AS (
       |  SELECT DISTINCT o_custkey * 2 AS cn, l_suppkey * 2 + 1 AS sn
       |  FROM orders JOIN lineitem ON l_orderkey = o_orderkey
       |  WHERE o_custkey IS NOT NULL AND l_suppkey IS NOT NULL),
       |edges AS (SELECT cn AS src, sn AS dst FROM pairs
       |          UNION ALL SELECT sn AS src, cn AS dst FROM pairs),
       |deg AS (SELECT src, CAST(COUNT(*) AS BIGINT) AS outdeg
       |        FROM edges GROUP BY src),
       |nn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM deg),
       |pr AS (SELECT $S // n AS init, (15 * ($S // n)) // 100 AS base FROM nn),
       |r0 AS (SELECT src AS node, init AS r FROM deg CROSS JOIN pr),
       |s1 AS (SELECT e.dst AS node, CAST(SUM(r.r // d.outdeg) AS BIGINT) AS m
       |       FROM edges e JOIN r0 r ON r.node = e.src JOIN deg d ON d.src = e.src
       |       GROUP BY e.dst),
       |r1 AS (SELECT r0.node, base + (85 * COALESCE(s1.m, 0)) // 100 AS r
       |       FROM r0 CROSS JOIN pr LEFT JOIN s1 ON s1.node = r0.node),
       |s2 AS (SELECT e.dst AS node, CAST(SUM(r.r // d.outdeg) AS BIGINT) AS m
       |       FROM edges e JOIN r1 r ON r.node = e.src JOIN deg d ON d.src = e.src
       |       GROUP BY e.dst),
       |r2 AS (SELECT r1.node, base + (85 * COALESCE(s2.m, 0)) // 100 AS r
       |       FROM r1 CROSS JOIN pr LEFT JOIN s2 ON s2.node = r1.node),
       |s3 AS (SELECT e.dst AS node, CAST(SUM(r.r // d.outdeg) AS BIGINT) AS m
       |       FROM edges e JOIN r2 r ON r.node = e.src JOIN deg d ON d.src = e.src
       |       GROUP BY e.dst),
       |r3 AS (SELECT r2.node, base + (85 * COALESCE(s3.m, 0)) // 100 AS r
       |       FROM r2 CROSS JOIN pr LEFT JOIN s3 ON s3.node = r2.node)
       |SELECT CASE WHEN node % 2 = 0 THEN 'cust' ELSE 'supp' END AS node_kind,
       |  node // 2 AS entity_key, r AS rank_scaled
       |FROM r3
       |ORDER BY rank_scaled DESC NULLS LAST, node_kind ASC NULLS LAST,
       |  entity_key ASC NULLS LAST
       |LIMIT 20""".stripMargin,
    (s, dir) => Materialize.scoped { m =>
      // one materialization: the symmetrizing union would otherwise run
      // the join+distinct once per branch (alias renumbering defeats
      // exchange reuse — the ConnectedComponents lesson)
      val pairs = m.pin(Tables.orders(s, dir)
        .filter(col("o_custkey").isNotNull)
        .join(Tables.lineitem(s, dir).filter(col("l_suppkey").isNotNull),
              col("l_orderkey") === col("o_orderkey"))
        .select((col("o_custkey") * 2).as("cn"),
                (col("l_suppkey") * 2 + 1).as("sn"))
        .distinct())
      val edges = pairs.select(col("cn").as("src"), col("sn").as("dst"))
        .unionAll(pairs.select(col("sn").as("src"), col("cn").as("dst")))
      val ranks = PageRank.ranks(edges, "src", "dst", iters = 3)
      // a 20-row self-contained result: every pin above it can go
      try m.keep(m.pin(ranks.select(
            when(col("node") % 2 === 0, lit("cust")).otherwise(lit("supp"))
              .as("node_kind"),
            expr("node div 2").as("entity_key"),
            col("r").as("rank_scaled"))
          .orderBy(desc_nulls_last("rank_scaled"), asc_nulls_last("node_kind"),
                   asc_nulls_last("entity_key"))
          .limit(20)))
      finally Materialize.release(ranks)
    })

  /** k74 — greedy max-coverage document selection [public: the
    * (1−1/e) greedy of Nemhauser–Wolsey–Fisher 1978; CELF lazy
    * evaluation, Leskovec et al. KDD'07; GreeDi distributed two-round,
    * Mirzasoleiman et al. NIPS'13 — coverage-based subset selection is
    * the "pick the k docs that together cover the most distinct
    * n-grams" step of data-efficient pretraining]: 5 greedy rounds over
    * the documents' distinct 3-word shingles (k08's shingling dialect),
    * each round counting every document's NOT-YET-COVERED shingles and
    * taking the (gain DESC, doc_id ASC) argmax.
    *
    * The oracle unrolls the 5 rounds as chained CTEs: pᵢ = anti-join
    * gains vs the covered set cᵢ₋₁ (NOT EXISTS), sᵢ = 1-row argmax,
    * cᵢ = cᵢ₋₁ ∪ the winner's shingles. A selected doc's rows all fall
    * to the anti-join afterward (its shingles ⊆ covered), so it can
    * never re-win — no explicit exclusion list needed on either side.
    *
    * Scale shape: per round ONE hash anti-join on the shingle column +
    * one count-agg + a TakeOrdered(1); the covered set is a distributed
    * checkpointed frame, never driver-resident; only the 1-row argmax is
    * collected (the k-means posture). EAGER construction (k70 class). */
  val k74: Q = Q(
    "k74_greedy_coverage",
    """WITH toks AS (SELECT doc_id, STRING_SPLIT(text, ' ') AS t
      |              FROM documents WHERE LEN(STRING_SPLIT(text, ' ')) >= 3),
      |g AS (SELECT DISTINCT doc_id, shingle FROM (
      |        SELECT doc_id, UNNEST(list_transform(generate_series(1, len(t) - 2),
      |          i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS shingle
      |        FROM toks)),
      |p1 AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS gain
      |       FROM g GROUP BY doc_id),
      |s1 AS (SELECT doc_id, gain FROM p1 ORDER BY gain DESC NULLS LAST, doc_id ASC NULLS LAST LIMIT 1),
      |c1 AS (SELECT DISTINCT shingle FROM g
      |       WHERE doc_id IN (SELECT doc_id FROM s1)),
      |p2 AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS gain FROM g
      |       WHERE NOT EXISTS (SELECT 1 FROM c1 WHERE c1.shingle = g.shingle)
      |       GROUP BY doc_id),
      |s2 AS (SELECT doc_id, gain FROM p2 ORDER BY gain DESC NULLS LAST, doc_id ASC NULLS LAST LIMIT 1),
      |c2 AS (SELECT shingle FROM c1 UNION
      |       SELECT shingle FROM g WHERE doc_id IN (SELECT doc_id FROM s2)),
      |p3 AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS gain FROM g
      |       WHERE NOT EXISTS (SELECT 1 FROM c2 WHERE c2.shingle = g.shingle)
      |       GROUP BY doc_id),
      |s3 AS (SELECT doc_id, gain FROM p3 ORDER BY gain DESC NULLS LAST, doc_id ASC NULLS LAST LIMIT 1),
      |c3 AS (SELECT shingle FROM c2 UNION
      |       SELECT shingle FROM g WHERE doc_id IN (SELECT doc_id FROM s3)),
      |p4 AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS gain FROM g
      |       WHERE NOT EXISTS (SELECT 1 FROM c3 WHERE c3.shingle = g.shingle)
      |       GROUP BY doc_id),
      |s4 AS (SELECT doc_id, gain FROM p4 ORDER BY gain DESC NULLS LAST, doc_id ASC NULLS LAST LIMIT 1),
      |c4 AS (SELECT shingle FROM c3 UNION
      |       SELECT shingle FROM g WHERE doc_id IN (SELECT doc_id FROM s4)),
      |p5 AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS gain FROM g
      |       WHERE NOT EXISTS (SELECT 1 FROM c4 WHERE c4.shingle = g.shingle)
      |       GROUP BY doc_id),
      |s5 AS (SELECT doc_id, gain FROM p5 ORDER BY gain DESC NULLS LAST, doc_id ASC NULLS LAST LIMIT 1)
      |SELECT * FROM (
      |  SELECT CAST(1 AS INTEGER) AS sel_rank, doc_id, gain FROM s1
      |  UNION ALL SELECT 2, doc_id, gain FROM s2
      |  UNION ALL SELECT 3, doc_id, gain FROM s3
      |  UNION ALL SELECT 4, doc_id, gain FROM s4
      |  UNION ALL SELECT 5, doc_id, gain FROM s5)
      |ORDER BY sel_rank ASC NULLS LAST""".stripMargin,
    (s, dir) => {
      val grams = Tables.documents(s, dir)
        .select(col("doc_id"), split(col("text"), " ").as("t"))
        .filter(size(col("t")) >= 3)
        .select(col("doc_id"), explode(expr(
          "transform(sequence(1, size(t) - 2), g -> concat_ws(' ', " +
            "element_at(t, g), element_at(t, g + 1), element_at(t, g + 2)))"))
          .as("shingle"))
      GreedyCover.select(grams, "doc_id", "shingle", k = 5)
        .orderBy(asc_nulls_last("sel_rank"))
    })

  /** k75 — iterative proportional fitting (raking) of the source×lang
    * mixture [public: Deming & Stephan 1940 "On a Least Squares Adjustment
    * of a Sampled Frequency Table"; raking is the standard survey
    * post-stratification reweighting, and balancing a pretraining corpus's
    * source×language grid to target marginals is its mixture-tier use —
    * k51 MEASURES the mixture, k71 REWEIGHTS domains against a reference,
    * this BALANCES the 2-D grid to uniform marginals]: the per-cell doc
    * counts become scaled-integer mass m₀ = (c·S) div G, then four
    * alternating marginal sweeps (src, lang, src, lang) apply
    * m' = (m · T) div marginSum — the k73 floor-div determinism discipline
    * on the classic alternating-scaling fixed point. `weight_ppm` is the
    * raking weight a pipeline would apply per cell (m₄·10⁶ div m₀).
    *
    * Declared semantics are the FIXED 4-sweep unrolled recurrence (like
    * k71's two declared rounds), not convergence; the grid support is the
    * observed cells (standard IPF-on-support — absent pairs stay absent).
    * Overflow headroom: m ≤ S = 1e9 and T ≤ S, so m·T ≤ 1e18 < Long.Max;
    * m₀ > 0 needs G ≤ S (documented domain — at 1e9+ docs raise S and
    * route the products through decimal(38,0), the d-block discipline);
    * the domain is ENFORCED in-plan (r17 ADVICE): an `assert_true(m0 > 0)`
    * rides inside the weight_ppm divisor, so an out-of-range corpus fails
    * loudly on the Spark side exactly where DuckDB's `//` raises, instead
    * of Spark silently NULLing where DuckDB errors.
    *
    * Scale shape: ONE map-side-partial count aggregate over the corpus is
    * the only data-sized work; everything after lives on the domain-sized
    * grid (≤ sources × langs rows) — a 1-row marginal-count broadcast (the
    * k51/k68 whitelisted class) and four window sums over the grid. At
    * 100 TB this is the cheapest possible balancing shape: the sweeps cost
    * nothing more at any corpus size. */
  val k75: Q = Q(
    "k75_ipf_mixture_balance",
    """WITH grid AS (
      |  SELECT source, lang, CAST(COUNT(*) AS BIGINT) AS c
      |  FROM documents GROUP BY source, lang),
      |nm AS (SELECT CAST(COUNT(DISTINCT source) AS BIGINT) AS nsrc,
      |              CAST(COUNT(DISTINCT lang) AS BIGINT) AS nlang
      |       FROM grid),
      |base AS (SELECT source, lang,
      |    CAST((c * 1000000000) // SUM(c) OVER () AS BIGINT) AS m,
      |    1000000000 // nsrc AS tsrc, 1000000000 // nlang AS tlang
      |  FROM grid CROSS JOIN nm),
      |s1 AS (SELECT source, lang,
      |    CAST((m * tsrc) // SUM(m) OVER (PARTITION BY source) AS BIGINT) AS m,
      |    tsrc, tlang, m AS m0 FROM base),
      |s2 AS (SELECT source, lang,
      |    CAST((m * tlang) // SUM(m) OVER (PARTITION BY lang) AS BIGINT) AS m,
      |    tsrc, tlang, m0 FROM s1),
      |s3 AS (SELECT source, lang,
      |    CAST((m * tsrc) // SUM(m) OVER (PARTITION BY source) AS BIGINT) AS m,
      |    tsrc, tlang, m0 FROM s2),
      |s4 AS (SELECT source, lang,
      |    CAST((m * tlang) // SUM(m) OVER (PARTITION BY lang) AS BIGINT) AS m,
      |    m0 FROM s3)
      |SELECT source, lang, m AS balanced_mass,
      |  CAST((m * 1000000) // m0 AS BIGINT) AS weight_ppm
      |FROM s4
      |ORDER BY source ASC NULLS LAST, lang ASC NULLS LAST""".stripMargin,
    (s, dir) => {
      val grid = Tables.documents(s, dir)
        .groupBy("source", "lang").agg(count(lit(1)).cast("long").as("c"))
      val nm = grid.agg(countDistinct(col("source")).cast("long").as("nsrc"),
                        countDistinct(col("lang")).cast("long").as("nlang"))
      val base = grid.crossJoin(broadcast(nm))
        .withColumn("m", expr("(c * 1000000000) div (sum(c) over ())"))
        .withColumn("tsrc", expr("1000000000 div nsrc"))
        .withColumn("tlang", expr("1000000000 div nlang"))
        .withColumn("m0", col("m"))
      base
        .withColumn("m", expr(srcSweep))
        .withColumn("m", expr(langSweep))
        .withColumn("m", expr(srcSweep))
        .withColumn("m", expr(langSweep))
        .select(col("source"), col("lang"), col("m").as("balanced_mass"),
                // in-plan domain guard (the r17 ADVICE item + Guards
                // discipline): outside the documented G <= S domain a cell's
                // m0 floors to 0, where Spark's div yields NULL but DuckDB's
                // // raises — the engines would fail DIFFERENTLY. assert_true
                // rides inside the divisor (NULL when legal, loud error
                // otherwise) so both engines now fail loudly on the same
                // corpus; in-domain it adds one comparison per grid cell and
                // the value is bit-unchanged.
                expr(weightPpmGuarded).as("weight_ppm"))
        .orderBy(asc_nulls_last("source"), asc_nulls_last("lang"))
    })

  /** i13 — JOIN-view incremental maintenance: the bilinear delta rule
    * [public: the classic incremental view maintenance result for joins —
    * Blakeley/Larson/Tompa SIGMOD'86; the same rule DBSP/differential
    * dataflow generalize]: for V = A ⋈ B and insert deltas ΔA, ΔB,
    *
    *   ΔV = ΔA⋈B_old ∪ A_old⋈ΔB ∪ ΔA⋈ΔB
    *
    * — the cross terms the ADDITIVE maintenance class (i09/i10, where
    * f(A∪Δ) = f(A) + f(Δ)) never needs; a join is BILINEAR, so this is a
    * genuinely different maintenance algebra with a different 100 TB
    * shape. The face composes ΔV's aggregate state with the stored view's
    * state via the same `Mv.merge` monoid (i09's machinery reused), and
    * the oracle recomputes the post-delta view FROM SCRATCH — the hash
    * match is the cross-engine proof that delta-composition ≡ recompute.
    *
    * Deltas are watermark splits on INDEPENDENT attributes (order date /
    * ship date), so all three delta terms are genuinely non-empty (a
    * same-attribute cut would zero the cross terms through the join-key
    * equality); the complements are NULL-safe (a NULL date lands in the
    * OLD side on both engines — no row can vanish from the partition).
    *
    * Scale shape: the stored-view state is persisted in real use (the i09
    * posture — computing it here is the oracle-comparable stand-in); the
    * live cost is the three delta joins, and each BROADCASTS its
    * delta side — at 100 TB the deltas are the small batch against the
    * big stored base, which is exactly the broadcast-runtime-filter
    * shape; ΔA⋈ΔB is batch-local. State merge shuffles |keys| rows. */
  val i13: Q = Q(
    "i13_mv_join_delta",
    s"""SELECT o_orderpriority, COUNT(*) AS n,
       |  ${Determinism.dsumSql("l_extendedprice")} AS sum_value,
       |  ${Determinism.davgSql("l_extendedprice")} AS avg_value
       |FROM orders JOIN lineitem ON l_orderkey = o_orderkey
       |GROUP BY 1
       |ORDER BY o_orderpriority ASC NULLS LAST""".stripMargin,
    (s, dir) => {
      import graft.api.Mv
      val keys = Seq("o_orderpriority")
      val o = Tables.orders(s, dir)
        .select("o_orderkey", "o_orderpriority", "o_orderdate")
      val l = Tables.lineitem(s, dir)
        .select("l_orderkey", "l_extendedprice", "l_shipdate")
      // NULL-safe complements: isNew is exactly true/false, never NULL
      val aIsNew = coalesce(col("o_orderdate") >= lit("1999-01-01"), lit(false))
      val bIsNew = coalesce(col("l_shipdate") >= lit("1999-07-01"), lit(false))
      val (aOld, aNew) = (o.filter(!aIsNew), o.filter(aIsNew))
      val (bOld, bNew) = (l.filter(!bIsNew), l.filter(bIsNew))
      def j(a: org.apache.spark.sql.DataFrame, b: org.apache.spark.sql.DataFrame) =
        a.join(b, col("l_orderkey") === col("o_orderkey"))
      // stored view's state (persisted in real use — the i09 posture)
      val vOld = Mv.aggState(j(aOld, bOld), keys, "l_extendedprice")
      // the bilinear delta: three joins, each broadcasting its delta side
      val dv = j(broadcast(aNew), bOld)
        .unionByName(j(aOld, broadcast(bNew)))
        .unionByName(j(broadcast(aNew), broadcast(bNew)))
      val merged = Mv.merge(keys, vOld, Mv.aggState(dv, keys, "l_extendedprice"))
      Mv.finalizeState(merged, keys).orderBy(asc_nulls_last("o_orderpriority"))
    })

  /** i14 — OUTER-join view maintenance: the null-padding transition
    * algebra [public: outer-join IVM, Larson & Zhou ICDE'07; Griffin &
    * Libkin SIGMOD'95 for the signed-delta formalism] — the class i13's
    * inner-join rule cannot express: for V = A ⟕ B, inserting ΔB can
    * RETRACT stored rows (a left row padded with NULLs in V_old gains its
    * first match, so the padded row must leave the view). The composition
    * is i13's bilinear terms PLUS i10's signed retraction, through the
    * same Mv monoid:
    *
    *   V_new = V_old  +  ΔA ⟕ B_new  +  A_old ⋈ ΔB
    *                  −  (A_old ▷ B_old ⋉ ΔB) as NULL-padded rows
    *
    * (▷ = anti join, ⋉ = semi join: exactly the left rows whose FIRST
    * match arrived in ΔB). The oracle recomputes the LEFT JOIN from
    * scratch — the hash match proves the padded-row transitions were
    * handled exactly; the spec additionally pins that dropping the
    * retraction term breaks equality and that the term BITES on the
    * fixture at every SF (cut tuned: 4/55/576 customers at
    * sf0.001/0.01/0.1 have their first order past 1997-01-01).
    *
    * Scale shape: the retraction term is an anti+semi join chain on the
    * join key — both sides key-partitioned, the ΔB semi side
    * broadcastable; everything else is i13's shape (broadcast-delta
    * joins against the stored base, |keys|-row state merge). */
  val i14: Q = Q(
    "i14_mv_outer_join_delta",
    s"""SELECT c_mktsegment, COUNT(*) AS n,
       |  ${Determinism.dsumSql("o_totalprice")} AS sum_value,
       |  ${Determinism.davgSql("o_totalprice")} AS avg_value
       |FROM customer LEFT JOIN orders ON o_custkey = c_custkey
       |GROUP BY 1
       |ORDER BY c_mktsegment ASC NULLS LAST""".stripMargin,
    (s, dir) => {
      import graft.api.Mv
      val keys = Seq("c_mktsegment")
      val a = Tables.customer(s, dir).select("c_custkey", "c_mktsegment")
      val b = Tables.orders(s, dir)
        .select("o_custkey", "o_totalprice", "o_orderdate")
      val merged = outerJoinDeltaState(a, b,
        aIsNew = coalesce(col("c_custkey") % 10 >= 8, lit(false)),
        bIsNew = coalesce(col("o_orderdate") >= lit("1997-01-01"), lit(false)),
        on = col("o_custkey") === col("c_custkey"),
        keys = keys, valueCol = "o_totalprice")
      Mv.finalizeState(merged, keys).orderBy(asc_nulls_last("c_mktsegment"))
    })

  /** i14's composition as a reusable mechanism (also driven directly by
    * the law spec on a hand graph): the merged MV state for
    * V_new = A_new ⟕ B_new, built from the STORED state of A_old ⟕ B_old
    * plus the three delta terms. `includeRetraction = false` exists ONLY
    * as the spec's negative control — it drops the padded-row retraction
    * term, which must break recompute equality. */
  private[graft] def outerJoinDeltaState(
      a: org.apache.spark.sql.DataFrame, b: org.apache.spark.sql.DataFrame,
      aIsNew: org.apache.spark.sql.Column, bIsNew: org.apache.spark.sql.Column,
      on: org.apache.spark.sql.Column, keys: Seq[String], valueCol: String,
      includeRetraction: Boolean = true): org.apache.spark.sql.DataFrame = {
    import graft.api.Mv
    val (aOld, aDelta) = (a.filter(!aIsNew), a.filter(aIsNew))
    val (bOld, bDelta) = (b.filter(!bIsNew), b.filter(bIsNew))
    // stored view's state (persisted in real use — the i09/i13 posture)
    val vOld = Mv.aggState(aOld.join(bOld, on, "left"), keys, valueCol)
    // ΔA ⟕ B_full: a left-outer join can only build its RIGHT side, so
    // the delta side cannot be broadcast here — at scale this is the
    // shuffle join of the small ΔA against the big stored B, correctly
    val t1 = Mv.aggState(aDelta.join(b, on, "left"), keys, valueCol)
    val t2 = Mv.aggState(aOld.join(broadcast(bDelta), on), keys, valueCol)
    // the padded rows to retract: old left rows whose FIRST match is in ΔB
    val firstMatched = aOld
      .join(bOld, on, "left_anti")
      .join(broadcast(bDelta), on, "left_semi")
      .withColumn(valueCol, lit(null).cast("double"))
    val t3 = Mv.aggStateSigned(firstMatched, keys, valueCol, lit(-1))
    val states = Seq(vOld, t1, t2) ++ (if (includeRetraction) Seq(t3) else Nil)
    Mv.merge(keys, states: _*)
  }

  /** One raking sweep each (exposed for the law spec): scale every
    * marginal group's mass to its target, flooring per cell — after a
    * sweep each group's marginal lands in [T − cells, T] exactly. */
  /** k75's guarded raking weight (exposed for the guard spec): in-domain
    * (m0 > 0) the assert is NULL, coalesce adds 0 and the value is
    * bit-identical to the bare `(m * 1000000) div m0`; out-of-domain it
    * raises loudly where DuckDB's `//` raises division-by-zero. */
  private[graft] val weightPpmGuarded =
    "(m * 1000000) div (m0 + coalesce(assert_true(m0 > 0, " +
      "'k75: cell mass m0 floored to 0 - corpus outside the documented " +
      "G <= S domain; raise S (decimal route) before raking'), " +
      "cast(0 as bigint)))"

  private[graft] val srcSweep =
    "(m * tsrc) div (sum(m) over (partition by source))"
  private[graft] val langSweep =
    "(m * tlang) div (sum(m) over (partition by lang))"

  def ops: Vector[Q] = Vector(k73, k74, k75, i13, i14)
}
