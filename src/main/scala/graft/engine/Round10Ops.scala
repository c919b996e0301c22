package graft.engine

import org.apache.spark.sql.functions._

/** Round-10 extension block: the last members of the statistical-test
  * family (pooled Student's t, one-way ANOVA F, ROC AUC), and the
  * string-distance scalar family (edit distance, bit Hamming).
  *
  * All four ride the round-9 exactness recipe (SURVEY What's-hard item 1):
  * exact int64 power sums / grid counts accumulated by map-combined hash
  * aggs, then ONE fixed IEEE closed-form tree (+ − × ÷ sqrt, no pow, no
  * transcendental) whose expression STRINGS are shared textually between
  * dialects — bit-exact cross-engine, zero ROUND anywhere.
  *
  * Scale posture (SURVEY §4):
  *  - d40/d41 are one conditional map-combined hash agg to a single row
  *    (six / nine int64 cells) + closed forms on that row — fixed state at
  *    any input scale, no shuffle beyond the agg's.
  *  - d42's rank sweep lives on the cents VALUE GRID (value ≤ $560.21 ⇒
  *    ≤ 56,022 distinct cells at ANY input scale — domain-bounded like
  *    d28's timing grid, NOT data-sized). The one unpartitioned cumulative
  *    window therefore sorts ≤ 56k rows regardless of scale (the e14
  *    bounded-grid posture); the data-sized work is all in the map-combined
  *    grid agg. For rank statistics on genuinely unbounded domains, the
  *    2-pass [[graft.operators.DistributedRank]] replaces the window —
  *    same integers out, pinned in DistributedRankSpec.
  *  - h33 is pure map-side scalar work over codegen'd builtins.
  */
object Round10Ops {

  // ---------------------------------------------------------------- d40

  /** Shared pooled-t closed-form fragments (d40) — identical text in both
    * dialects guarantees identical IEEE trees (the d32 recipe). */
  private val vpE =
    "((CAST(q1 AS DOUBLE) - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE) / CAST(n1 AS DOUBLE)) + (CAST(q2 AS DOUBLE) - CAST(s2 AS DOUBLE) * CAST(s2 AS DOUBLE) / CAST(n2 AS DOUBLE))) / (CAST(n1 AS DOUBLE) + CAST(n2 AS DOUBLE) - 2.0)"
  private val tpE =
    "(CAST(s1 AS DOUBLE) / CAST(n1 AS DOUBLE) - CAST(s2 AS DOUBLE) / CAST(n2 AS DOUBLE)) / SQRT(vp * (1.0 / CAST(n1 AS DOUBLE) + 1.0 / CAST(n2 AS DOUBLE)))"

  /** d40 — pooled-variance Student's t-test comparing purchase vs click
    * value distributions (ClickHouse `studentTTest` analog [public: CH
    * statistical-function docs]) — the equal-variance counterpart of d36's
    * Welch test, completing the CH two-sample t family. Same exact power
    * sums (count, Σcents, Σcents² per side — int64-exact to ~10^9 rows,
    * d36's documented headroom), then the pooled variance and the t
    * statistic are one fixed IEEE tree each, shared textually between
    * dialects; dof = n1 + n2 − 2 is pure int64. One conditional
    * map-combined hash agg, single-row output. */
  val d40: Q = Q.fromSql(
    "d40_student_ttest",
    s"""WITH s AS (
      |  SELECT
      |    CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS n1,
      |    CAST(SUM(CASE WHEN event_type = 'purchase' THEN c ELSE 0 END) AS BIGINT) AS s1,
      |    CAST(SUM(CASE WHEN event_type = 'purchase' THEN c * c ELSE 0 END) AS BIGINT) AS q1,
      |    CAST(SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS n2,
      |    CAST(SUM(CASE WHEN event_type = 'click' THEN c ELSE 0 END) AS BIGINT) AS s2,
      |    CAST(SUM(CASE WHEN event_type = 'click' THEN c * c ELSE 0 END) AS BIGINT) AS q2
      |  FROM (SELECT event_type,
      |          CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS c
      |        FROM events WHERE event_type IN ('purchase', 'click'))),
      |v AS (SELECT *, $vpE AS vp FROM s)
      |SELECT n1 AS n_purchase, n2 AS n_click, n1 + n2 - 2 AS dof,
      |  vp AS pooled_var, $tpE AS t_stat
      |FROM v""".stripMargin)

  // ---------------------------------------------------------------- d41

  /** Shared one-way-ANOVA closed-form fragments (d41). The known 3-flag
    * domain (A, N, R — the d33 pivot discipline) fixes the group sums as
    * COLUMNS, so the between/within sums of squares are generated
    * left-to-right expressions — no float aggregate anywhere. */
  private val ssbE =
    "(sa * sa / na + sn * sn / nn + sr * sr / nr) - (sa + sn + sr) * (sa + sn + sr) / (na + nn + nr)"
  private val sswE =
    "(qa - sa * sa / na) + (qn - sn * sn / nn) + (qr - sr * sr / nr)"
  private val fE = "(ssb / 2.0) / (ssw / (na + nn + nr - 3.0))"

  /** d41 — one-way ANOVA F statistic across the three return-flag groups
    * on quantity (ClickHouse `analysisOfVariance` analog [public: CH
    * statistical-function docs]). Per-group count / Σq / Σq² accumulate as
    * exact int64 (quantity ≤ 50 ⇒ Σq² ≤ 2500·n) in ONE conditional
    * map-combined hash agg — then SSB, SSW, and F = (SSB/(k−1))/(SSW/(N−k))
    * are fixed IEEE trees over the 9 bit-identical doubles, with k = 3
    * constant-folded into the text. Single-row output; the closed forms
    * never see data-sized input. */
  val d41: Q = Q.fromSql(
    "d41_anova_f",
    s"""WITH t AS (
      |  SELECT
      |    CAST(SUM(CASE WHEN l_returnflag = 'A' THEN 1 ELSE 0 END) AS DOUBLE) AS na,
      |    CAST(SUM(CASE WHEN l_returnflag = 'A' THEN q ELSE 0 END) AS DOUBLE) AS sa,
      |    CAST(SUM(CASE WHEN l_returnflag = 'A' THEN q * q ELSE 0 END) AS DOUBLE) AS qa,
      |    CAST(SUM(CASE WHEN l_returnflag = 'N' THEN 1 ELSE 0 END) AS DOUBLE) AS nn,
      |    CAST(SUM(CASE WHEN l_returnflag = 'N' THEN q ELSE 0 END) AS DOUBLE) AS sn,
      |    CAST(SUM(CASE WHEN l_returnflag = 'N' THEN q * q ELSE 0 END) AS DOUBLE) AS qn,
      |    CAST(SUM(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END) AS DOUBLE) AS nr,
      |    CAST(SUM(CASE WHEN l_returnflag = 'R' THEN q ELSE 0 END) AS DOUBLE) AS sr,
      |    CAST(SUM(CASE WHEN l_returnflag = 'R' THEN q * q ELSE 0 END) AS DOUBLE) AS qr
      |  FROM (SELECT l_returnflag, CAST(l_quantity AS BIGINT) AS q FROM lineitem)),
      |x AS (SELECT *, $ssbE AS ssb, $sswE AS ssw FROM t)
      |SELECT CAST(na + nn + nr AS BIGINT) AS n_rows, 2 AS df_between,
      |  CAST(na + nn + nr AS BIGINT) - 3 AS df_within,
      |  ssb AS ss_between, ssw AS ss_within, $fE AS f_stat
      |FROM x""".stripMargin)

  // ---------------------------------------------------------------- d42

  /** d42 — ROC AUC of value as a purchase-vs-click classifier score
    * (ClickHouse `arrayAUC` analog [public: CH array-function docs; the
    * rank-sum identity AUC = (R⁺ − n⁺(n⁺+1)/2)/(n⁺n⁻) with midrank ties =
    * the trapezoidal rule]). The d35 doubled-midrank machinery gives the
    * tie-correct AUC exactly: u2_pos is the doubled U statistic (exact
    * int64), AUC = u2/(2·n⁺·n⁻) and Gini = (u2 − n⁺n⁻)/(n⁺n⁻) are single
    * float divisions of bit-identical ints. The sweep runs on the cents
    * value grid — DOMAIN-bounded at ≤ 56,022 cells whatever the input
    * scale, so the unpartitioned cumulative window is constant-size work
    * (object scaladoc; unbounded-domain scores route through
    * [[graft.operators.DistributedRank]] instead). */
  val d42: Q = Q.fromSql(
    "d42_roc_auc",
    """WITH g AS (
      |  SELECT CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS c,
      |    CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS np,
      |    CAST(SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS nn
      |  FROM events WHERE event_type IN ('purchase', 'click') GROUP BY 1),
      |c AS (
      |  SELECT c, np, nn, np + nn AS ct,
      |    CAST(COALESCE(SUM(np + nn) OVER (ORDER BY c ASC
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS cumlt
      |  FROM g),
      |a AS (
      |  SELECT CAST(SUM(np) AS BIGINT) AS npos, CAST(SUM(nn) AS BIGINT) AS nneg,
      |    CAST(SUM(np * (2 * cumlt + ct + 1)) AS BIGINT) AS drp
      |  FROM c),
      |u AS (SELECT npos, nneg, drp - npos * (npos + 1) AS u2 FROM a)
      |SELECT npos AS n_pos, nneg AS n_neg, u2 AS u2_pos,
      |  CAST(u2 AS DOUBLE) / CAST(2 * npos * nneg AS DOUBLE) AS roc_auc,
      |  CAST(u2 - npos * nneg AS DOUBLE) / CAST(npos * nneg AS DOUBLE) AS gini
      |FROM u""".stripMargin)

  // ---------------------------------------------------------------- h33

  /** h33 — string/bit distance scalar family over part (ClickHouse
    * `editDistance` / `bitHammingDistance` analogs [public: CH
    * string-search and bit-function docs]): Levenshtein edit distance
    * between the part name and its type (both engines implement the
    * classic unit-cost dynamic program — `levenshtein` in Spark and
    * DuckDB), and the bit Hamming distance between the Knuth hashes of
    * two integer attributes — popcount of the XOR, the SimHash-distance
    * primitive (k18/k19's nearness measure as a standalone scalar). All
    * integer: hashes use the 31-bit-masked Knuth multiply (the a04
    * overflow discipline), XOR is spelled `^` in Spark and `xor()` in
    * DuckDB (same bits), popcount is `bit_count` in both. Pure map-side
    * codegen'd scalars — no shuffle but the output sort. */
  val h33: Q = Q(
    "h33_string_distance",
    """SELECT p_partkey,
      |  CAST(levenshtein(p_name, p_type) AS INT) AS edit_dist,
      |  CAST(levenshtein(p_brand, p_type) AS INT) AS edit_dist_brand,
      |  CAST(bit_count(xor(((p_partkey % 2147483648) * 2654435761) % 4294967296,
      |                     ((CAST(p_size AS BIGINT) % 2147483648) * 2654435761) % 4294967296))
      |       AS INT) AS hamming_bits
      |FROM part ORDER BY p_partkey ASC NULLS LAST""".stripMargin,
    (s, dir) => {
      def knuth(c: org.apache.spark.sql.Column) =
        ((c % lit(2147483648L)) * lit(2654435761L)) % lit(4294967296L)
      Tables.part(s, dir)
        .select(col("p_partkey"),
                levenshtein(col("p_name"), col("p_type")).cast("int")
                  .as("edit_dist"),
                levenshtein(col("p_brand"), col("p_type")).cast("int")
                  .as("edit_dist_brand"),
                bit_count(knuth(col("p_partkey"))
                            .bitwiseXOR(knuth(col("p_size").cast("long"))))
                  .cast("int").as("hamming_bits"))
        .orderBy(asc_nulls_last("p_partkey"))
    })

  // ---------------------------------------------------------------- c20

  /** c20 — TPC-H Q5 shape: local-supplier revenue per nation inside one
    * region and order-date year [public: TPC-H spec §2.4.5] — the classic
    * 6-table star composition (the widest declared join, two tables past
    * c17/c18): lineitem→orders drives the fact-side hash joins, while
    * region⋈nation⋈supplier collapses to a BROADCAST side that carries the
    * region filter AND the c_nationkey = s_nationkey "local supplier"
    * condition into one join. Revenue through the decimal route
    * (merge-order-proof); ORDER BY the exact decimal-backed revenue with
    * an n_name tiebreak for a total order. */
  val c20: Q = Q(
    "c20_join_q5_region",
    s"""SELECT n_name, ${Determinism.dsumSql("l_extendedprice * (1 - l_discount)")} AS revenue
       |FROM customer, orders, lineitem, supplier, nation, region
       |WHERE c_custkey = o_custkey AND l_orderkey = o_orderkey
       |  AND l_suppkey = s_suppkey AND c_nationkey = s_nationkey
       |  AND s_nationkey = n_nationkey AND n_regionkey = r_regionkey
       |  AND r_name = 'ASIA'
       |  AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
       |  AND o_orderdate <  TIMESTAMP '1997-01-01 00:00:00'
       |GROUP BY n_name
       |ORDER BY revenue DESC NULLS LAST, n_name ASC NULLS LAST""".stripMargin,
    (s, dir) => {
      val lo = lit("1996-01-01").cast("timestamp")
      val hi = lit("1997-01-01").cast("timestamp")
      val localSup = Tables.supplier(s, dir)
        .join(Tables.nation(s, dir), col("s_nationkey") === col("n_nationkey"))
        .join(Tables.region(s, dir).filter(col("r_name") === "ASIA"),
              col("n_regionkey") === col("r_regionkey"))
        .select("s_suppkey", "s_nationkey", "n_name")
      Tables.lineitem(s, dir)
        .join(Tables.orders(s, dir)
                .filter(col("o_orderdate") >= lo && col("o_orderdate") < hi),
              col("l_orderkey") === col("o_orderkey"))
        .join(Tables.customer(s, dir), col("o_custkey") === col("c_custkey"))
        .join(broadcast(localSup),
              col("l_suppkey") === col("s_suppkey") &&
                col("c_nationkey") === col("s_nationkey"))
        .groupBy("n_name")
        .agg(Determinism.dsum(col("l_extendedprice") * (lit(1) - col("l_discount")))
               .as("revenue"))
        .orderBy(desc_nulls_last("revenue"), asc_nulls_last("n_name"))
    })

  // ---------------------------------------------------------------- d43

  /** Shared z closed form (d43): known population variances enter as
    * CONSTANTS in the text (CH passes them as aggregate parameters), so
    * the tree has two exact int64→double means and four literal ops. */
  private val zE =
    "(CAST(s1 AS DOUBLE) / CAST(n1 AS DOUBLE) - CAST(s2 AS DOUBLE) / CAST(n2 AS DOUBLE)) / SQRT(25000000.0 / CAST(n1 AS DOUBLE) + 23000000.0 / CAST(n2 AS DOUBLE))"

  /** d43 — two-sample mean z-test with known population variances
    * (ClickHouse `meanZTest` analog [public: CH statistical-function
    * docs]; parameters pop_var_x = 2.5e7, pop_var_y = 2.3e7 cents² — the
    * fixture arms' round-number population variances, entering the shared
    * expression text as literals exactly as CH takes them as aggregate
    * parameters). Completes the two-sample location-test family next to
    * d36 (Welch) and d40 (pooled t): only counts and Σcents are needed —
    * the lightest member, two int64 cells per side, one IEEE tree. One
    * conditional map-combined hash agg, single-row output. */
  val d43: Q = Q.fromSql(
    "d43_mean_ztest",
    s"""WITH s AS (
      |  SELECT
      |    CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS n1,
      |    CAST(SUM(CASE WHEN event_type = 'purchase' THEN c ELSE 0 END) AS BIGINT) AS s1,
      |    CAST(SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS n2,
      |    CAST(SUM(CASE WHEN event_type = 'click' THEN c ELSE 0 END) AS BIGINT) AS s2
      |  FROM (SELECT event_type,
      |          CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS c
      |        FROM events WHERE event_type IN ('purchase', 'click')))
      |SELECT n1 AS n_purchase, n2 AS n_click, $zE AS z_stat
      |FROM s""".stripMargin)

  // ---------------------------------------------------------------- h34

  /** Deterministic pseudo-coordinates from integer keys — exact doubles:
    * the int64 hash is exact, and `/ 100.0 − offset` is two IEEE ops on
    * identical inputs. Shared text, instantiated per key column. */
  private def latE(k: String) = s"CAST(($k * 7919) % 18000 AS DOUBLE) / 100.0 - 90.0"
  private def lonE(k: String) = s"CAST(($k * 104729) % 36000 AS DOUBLE) / 100.0 - 180.0"

  /** Haversine over pre-computed radian columns — ONE shared expression
    * tree. SIN/COS/ASIN are transcendental, so h34 rides the k36/d38
    * ROUND-4 determinism class (not the zero-float class; flip risk
    * documented there). 6372797.560856 m is the CH mean-Earth radius. */
  private val havE =
    "SIN((la2 - la1) / 2.0) * SIN((la2 - la1) / 2.0) + COS(la1) * COS(la2) * SIN((lo2 - lo1) / 2.0) * SIN((lo2 - lo1) / 2.0)"
  private val distE = "2.0 * 6372797.560856 * ASIN(SQRT(hav))"

  /** h34 — great-circle distance (ClickHouse `greatCircleDistance` analog
    * [public: CH geo-function docs; the haversine formula]), completing
    * the geo scalar family next to h29 pointInPolygon and h30 geohash.
    * Coordinates are derived deterministically from customer and nation
    * keys (exact int64 hash → two exact IEEE ops), the nation side joins
    * broadcast-small, and the distance is the standard haversine with
    * CH's mean-Earth radius, ROUND-4-rounded per the transcendental-tail
    * determinism class. Map-side scalar work over a broadcast join — no
    * shuffle but the output sort. */
  val h34: Q = Q(
    "h34_great_circle",
    s"""WITH c AS (
      |  SELECT c_custkey, c_nationkey,
      |    RADIANS(${latE("c_custkey")}) AS la1, RADIANS(${lonE("c_custkey")}) AS lo1
      |  FROM customer),
      |n AS (
      |  SELECT n_nationkey, n_name,
      |    RADIANS(${latE("n_nationkey")}) AS la2, RADIANS(${lonE("n_nationkey")}) AS lo2
      |  FROM nation),
      |j AS (
      |  SELECT c_custkey, n_name, la1, lo1, la2, lo2, $havE AS hav
      |  FROM c JOIN n ON c_nationkey = n_nationkey)
      |SELECT c_custkey, n_name, ROUND($distE, 4) AS dist_m
      |FROM j ORDER BY c_custkey ASC NULLS LAST""".stripMargin,
    (s, dir) => {
      val c = Tables.customer(s, dir)
        .select(col("c_custkey"), col("c_nationkey"),
                radians(expr(latE("c_custkey"))).as("la1"),
                radians(expr(lonE("c_custkey"))).as("lo1"))
      val n = Tables.nation(s, dir)
        .select(col("n_nationkey"), col("n_name"),
                radians(expr(latE("n_nationkey"))).as("la2"),
                radians(expr(lonE("n_nationkey"))).as("lo2"))
      c.join(broadcast(n), col("c_nationkey") === col("n_nationkey"))
        .withColumn("hav", expr(havE))
        .select(col("c_custkey"), col("n_name"),
                round(expr(distE), 4).as("dist_m"))
        .orderBy(asc_nulls_last("c_custkey"))
    })

  // ---------------------------------------------------------------- d44

  /** d44 — Spearman ρ computed by the 2-PASS DISTRIBUTED RANK
    * (`operators/DistributedRank.spearman`) under the oracle gate: the
    * same statistic as d39, but the Spark side replaces d39's per-group
    * rank windows with the range-exchange + slice-offsets plan — the
    * shape that survives unbounded value domains at 100 TB (no per-group
    * data-sized sort anywhere; plan-pinned SinglePartition-free in
    * Round10Spec). The oracle is d39's window formulation VERBATIM — two
    * independent formulations, one oracle (the d34/j10 pairing
    * discipline), and the centered sums are exact int64 either way, so
    * the driver hash must match to the bit. */
  val d44: Q = Q(
    "d44_rank_corr_2pass",
    Round9Ops.d39.sql,
    (s, dir) =>
      graft.operators.DistributedRank.spearman(
        Tables.lineitem(s, dir).select(
          col("l_linestatus"), col("l_quantity").cast("long").as("q"),
          (col("l_extendedprice").cast("decimal(18,2)") * 100)
            .cast("long").as("p")),
        Seq("l_linestatus"), "q", "p",
        // quantity is a physically bounded domain (~50 values at ANY
        // corpus scale), so the x-rank mapping is broadcast-sized by
        // construction — the spearman scaladoc's 2-vs-4-exchange trim
        broadcastXRanks = true)
        .orderBy(asc_nulls_last("l_linestatus")))

  // ---------------------------------------------------------------- k38

  /** k38 — exact integer vector-distance family over embeddings (ClickHouse
    * `L1Distance`/`L2SquaredDistance`/`LinfDistance` analogs [public: CH
    * distance-function docs]) — the ADC probe primitive (Ivf's byte-ADC
    * scans int8 codes with exactly this arithmetic) surfaced as a declared
    * query, bit-exact where naive float vector math would be
    * merge-order-unstable. The quantization is FLOOR(x · 2²⁴): float32→
    * double is exact, a power-of-two multiply only shifts the exponent
    * (no rounding), and FLOOR of any double is exact in both engines —
    * so the int64 component grids are bit-identical WITHOUT the
    * double→BIGINT cast divergence (Spark truncates, DuckDB rounds — the
    * e13 lesson; FLOOR sidesteps it entirely). With |x| < 0.5 and 64 dims,
    * diff² ≤ 2⁴⁸ and the L2² sum ≤ 2⁵⁴ — exact int64. Near-pairs emit at
    * L2² < 4.2e14 quantized units (real L2 ≈ 1.22, the same-label 5th
    * percentile).
    * Scale: same-label blocking bounds the pair join (the k07 posture);
    * at 100 TB the candidate set comes from IVF/LSH instead and this
    * arithmetic scores it — the query pins the scoring exactly. */
  val k38: Q = Q(
    "k38_quantized_distances",
    """WITH q AS (
      |  SELECT vec_id, label,
      |    list_transform(embedding,
      |      x -> CAST(FLOOR(CAST(x AS DOUBLE) * 16777216.0) AS BIGINT)) AS v
      |  FROM embeddings),
      |p AS (
      |  SELECT a.vec_id AS id1, b.vec_id AS id2, a.label AS label,
      |    CAST(list_sum(list_transform(range(1, len(a.v) + 1),
      |      i -> abs(a.v[i] - b.v[i]))) AS BIGINT) AS l1_q,
      |    CAST(list_sum(list_transform(range(1, len(a.v) + 1),
      |      i -> (a.v[i] - b.v[i]) * (a.v[i] - b.v[i]))) AS BIGINT) AS l2sq_q,
      |    CAST(list_max(list_transform(range(1, len(a.v) + 1),
      |      i -> abs(a.v[i] - b.v[i]))) AS BIGINT) AS linf_q
      |  FROM q a JOIN q b ON a.label = b.label AND a.vec_id < b.vec_id)
      |SELECT id1, id2, label, l1_q, l2sq_q, linf_q
      |FROM p WHERE l2sq_q < 420000000000000
      |ORDER BY id1 ASC NULLS LAST, id2 ASC NULLS LAST""".stripMargin,
    (s, dir) => {
      // distances through the native codegen'd graft_*_long expressions
      // (LongDistanceExpression): the HOF zip_with+aggregate form evaluated
      // its lambdas interpreted per element and materialized a diff array
      // per candidate pair — measured 3.7-4.7 s at sf0.1; the tight loop
      // does the identical exact int64 arithmetic
      val qv = Tables.embeddings(s, dir).select(col("vec_id"), col("label"),
        transform(col("embedding"),
          x => floor(x.cast("double") * lit(16777216.0)).cast("long")).as("v"))
      qv.as("a").join(qv.as("b"),
          col("a.label") === col("b.label") &&
            col("a.vec_id") < col("b.vec_id") &&
            expr("graft_l2sq_long(a.v, b.v)") < lit(420000000000000L))
        .select(col("a.vec_id").as("id1"), col("b.vec_id").as("id2"),
                col("a.label").as("label"),
                expr("graft_l1_long(a.v, b.v)").as("l1_q"),
                expr("graft_l2sq_long(a.v, b.v)").as("l2sq_q"),
                expr("graft_linf_long(a.v, b.v)").as("linf_q"))
        .orderBy(asc_nulls_last("id1"), asc_nulls_last("id2"))
    })

  def ops: Vector[Q] = Vector(c20, d40, d41, d42, d43, d44, h33, h34, k38)
}
