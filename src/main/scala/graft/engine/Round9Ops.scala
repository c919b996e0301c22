package graft.engine

import org.apache.spark.sql.functions._

/** Round-9 extension block: the exact-moment family (skewness/kurtosis,
  * Cramér's V), rank statistics (Mann-Whitney U), a deterministic KMV
  * distinct sketch, the `strict_dedup` window-funnel mode, and Gopher-style
  * repetition-quality signals for the LLM pipeline.
  *
  * The headline recipe (d32/d33): SURVEY's What's-hard item 1 declared the
  * skew/kurt/χ² moment class "float-sum-order-unstable cross-engine,
  * non-oracle-able". That is true of the BUILTIN aggregates (their partial
  * double sums merge in partition order), but not of the statistics
  * themselves: compute the raw POWER SUMS exactly in integers (quantity is
  * integer-valued ≤ 50, so Σq⁴ ≤ 6.25e6·n stays far under 2^53 — the sums
  * are exact in int64 AND exactly representable as doubles), then evaluate
  * ONE fixed closed-form expression tree over those bit-identical doubles.
  * Every remaining op is IEEE-correctly-rounded (+ − × ÷ sqrt — no pow, no
  * transcendental), and neither engine reassociates float arithmetic, so the
  * doubles are bit-identical cross-engine with ZERO rounding. The shared
  * expression STRINGS are instantiated into both dialects (the h30 generated-
  * expression discipline) so the trees cannot drift apart.
  *
  * Scale posture (SURVEY §4):
  *  - d32/d33/d35 are one map-combined hash agg to a tiny grid (3 groups /
  *    1 row / 2×50 value cells) + closed forms on grid-sized data — the d28
  *    histogram posture: fixed-size state at ANY input scale, no global sort.
  *  - d34's declared-query form ranks distinct hashes per group (the exact
  *    semantics); the 100 TB path is [[graft.operators.Kmv]] — the SAME
  *    bottom-k-of-hashes with bounded ≤k mergeable state (bottom-k of a
  *    union is order-free, so the sketch is fully deterministic).
  *  - j11 folds per-user event sequences (groupArray-class posture, bounded
  *    by per-user activity); the oracle is an independent chained-window-min
  *    closed form — two formulations must agree (the j10 pairing).
  *  - k37 is explode → per-(doc, gram) count → per-doc agg: gram cardinality
  *    crosses the shuffle, state never outlives a doc_id group.
  */
object Round9Ops {

  // ---------------------------------------------------------------- d32

  /** Shared closed-form fragments for d32 — identical text in both dialects
    * guarantees identical expression trees (see object scaladoc). */
  private val meanE = "CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE)"
  private val m2E = "r2 - mean * mean"
  private val m3E = "r3 - 3.0 * mean * r2 + 2.0 * mean * mean * mean"
  private val m4E =
    "r4 - 4.0 * mean * r3 + 6.0 * mean * mean * r2 - 3.0 * mean * mean * mean * mean"
  private val skewE = "m3 / (m2 * SQRT(m2))"
  private val kurtE = "m4 / (m2 * m2) - 3.0"

  /** d32 — population skewness and excess kurtosis per return flag
    * (ClickHouse `skewPop`/`kurtPop` analogs [public: CH aggregate-function
    * docs]) — the first member of the "non-oracle-able" float-moment class
    * made bit-exact via integer power sums + a fixed IEEE closed form (see
    * object scaladoc for the recipe and why it is safe). One map-combined
    * hash agg carries four int64 power sums per group; the closed form runs
    * on |groups| rows. */
  val d32: Q = Q.fromSql(
    "d32_skew_kurt",
    s"""WITH s AS (
      |  SELECT l_returnflag, CAST(COUNT(*) AS BIGINT) AS n,
      |    CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS s1,
      |    CAST(SUM(CAST(l_quantity AS BIGINT) * CAST(l_quantity AS BIGINT)) AS BIGINT) AS s2,
      |    CAST(SUM(CAST(l_quantity AS BIGINT) * CAST(l_quantity AS BIGINT)
      |             * CAST(l_quantity AS BIGINT)) AS BIGINT) AS s3,
      |    CAST(SUM(CAST(l_quantity AS BIGINT) * CAST(l_quantity AS BIGINT)
      |             * CAST(l_quantity AS BIGINT) * CAST(l_quantity AS BIGINT)) AS BIGINT) AS s4
      |  FROM lineitem GROUP BY 1),
      |m AS (
      |  SELECT l_returnflag, n, $meanE AS mean,
      |    CAST(s2 AS DOUBLE) / CAST(n AS DOUBLE) AS r2,
      |    CAST(s3 AS DOUBLE) / CAST(n AS DOUBLE) AS r3,
      |    CAST(s4 AS DOUBLE) / CAST(n AS DOUBLE) AS r4
      |  FROM s),
      |c AS (
      |  SELECT l_returnflag, n, mean, $m2E AS m2, $m3E AS m3, $m4E AS m4 FROM m)
      |SELECT l_returnflag, n AS n_rows, $skewE AS skew_pop, $kurtE AS kurt_pop
      |FROM c ORDER BY l_returnflag ASC NULLS LAST""".stripMargin)

  // ---------------------------------------------------------------- d33

  /** χ² cell term over exact-integer-valued doubles — shared text. */
  private def chiTerm(o: String, r: String, c: String): String =
    s"(($o - $r * $c / n) * ($o - $r * $c / n)) / ($r * $c / n)"

  /** Fixed-order 6-cell χ² sum: rf ∈ (A, N, R) × ls ∈ (F, O). Addition order
    * is pinned left-to-right by the generated text — no aggregate sums any
    * float, so partial-merge order cannot perturb it. */
  private val chi2E = Seq(
    chiTerm("caf", "ra", "kf"), chiTerm("cao", "ra", "ko"),
    chiTerm("cnf", "rn", "kf"), chiTerm("cno", "rn", "ko"),
    chiTerm("crf", "rr", "kf"), chiTerm("cro", "rr", "ko")).mkString(" + ")

  /** d33 — χ² independence statistic and Cramér's V between return flag and
    * line status (ClickHouse `cramersV` analog [public: CH statistical-
    * function docs]). The contingency table is 3×2 EXACT int64 counts from
    * one conditional hash agg (map-combined; the known domain pivots the
    * cells into fixed COLUMNS, so the 6-term χ² sum is one generated
    * left-to-right expression — deterministic where a SUM over cells would
    * not be); min(r−1, c−1) = 1 so V = sqrt(χ²/n); Pearson's contingency
    * coefficient sqrt(χ²/(χ²+n)) and the Bergsma-2013 bias-corrected V
    * (CH `cramersVBiasCorrected` — GREATEST/LEAST are exact on doubles in
    * both engines) complete the association family. All float ops are
    * IEEE exact on bit-identical inputs (object scaladoc). */
  val d33: Q = Q.fromSql(
    "d33_cramers_v",
    s"""WITH t AS (
      |  SELECT
      |    CAST(COUNT(*) AS DOUBLE) AS n,
      |    CAST(SUM(CASE WHEN l_returnflag = 'A' AND l_linestatus = 'F' THEN 1 ELSE 0 END) AS DOUBLE) AS caf,
      |    CAST(SUM(CASE WHEN l_returnflag = 'A' AND l_linestatus = 'O' THEN 1 ELSE 0 END) AS DOUBLE) AS cao,
      |    CAST(SUM(CASE WHEN l_returnflag = 'N' AND l_linestatus = 'F' THEN 1 ELSE 0 END) AS DOUBLE) AS cnf,
      |    CAST(SUM(CASE WHEN l_returnflag = 'N' AND l_linestatus = 'O' THEN 1 ELSE 0 END) AS DOUBLE) AS cno,
      |    CAST(SUM(CASE WHEN l_returnflag = 'R' AND l_linestatus = 'F' THEN 1 ELSE 0 END) AS DOUBLE) AS crf,
      |    CAST(SUM(CASE WHEN l_returnflag = 'R' AND l_linestatus = 'O' THEN 1 ELSE 0 END) AS DOUBLE) AS cro
      |  FROM lineitem),
      |r AS (
      |  SELECT *, caf + cao AS ra, cnf + cno AS rn, crf + cro AS rr,
      |    caf + cnf + crf AS kf, cao + cno + cro AS ko
      |  FROM t),
      |x AS (SELECT n, $chi2E AS chi2 FROM r)
      |SELECT CAST(n AS BIGINT) AS n_rows, chi2, SQRT(chi2 / n) AS cramers_v,
      |  SQRT(chi2 / (chi2 + n)) AS contingency_coef,
      |  SQRT(GREATEST(0.0, chi2 / n - 2.0 / (n - 1.0))
      |       / LEAST(3.0 - 4.0 / (n - 1.0) - 1.0, 2.0 - 1.0 / (n - 1.0) - 1.0))
      |    AS cramers_v_bc
      |FROM x""".stripMargin)

  // ---------------------------------------------------------------- d38

  /** Fixed-order entropy term sums for d38 — H(X) over the row margins and
    * H(X|Y) over the cells, every log argument an exact-integer-valued
    * double ratio. Generated once, instantiated into both dialects. */
  private val hxE = Seq("ra", "rn", "rr")
    .map(r => s"($r / n) * LN($r / n)").mkString(" + ")
  private val hxyE = Seq(("caf", "kf"), ("cao", "ko"), ("cnf", "kf"),
                         ("cno", "ko"), ("crf", "kf"), ("cro", "ko"))
    .map { case (c, k) => s"($c / n) * LN($c / $k)" }.mkString(" + ")

  /** d38 — Theil's U (uncertainty coefficient) of return flag given line
    * status (ClickHouse `theilsU` analog [public: CH statistical-function
    * docs]), completing the d33 association family. U(X|Y) =
    * (H(X) − H(X|Y)) / H(X) over the same exact-int contingency pivot as
    * d33 — margins and cells are exact int64 counts, and the entropy term
    * sums are GENERATED fixed-order expressions (no float aggregate).
    * Unlike the rest of the r9 family this is NOT the zero-float class:
    * LN is transcendental, and correctly-rounded last-ulp behavior is not
    * guaranteed identical across engines — so the output rides the k36/d09
    * determinism class (ROUND 4 absorbs sub-ulp divergence; a flip would
    * need the value within ~1 ulp of a .00005 boundary, which the k36
    * family has never hit across three SFs). Plan identical to d33: one
    * conditional map-combined hash agg, single-row output. All three CH
    * sign conventions agree here: U ∈ [0, 1]. */
  val d38: Q = Q.fromSql(
    "d38_theils_u",
    s"""WITH t AS (
      |  SELECT
      |    CAST(COUNT(*) AS DOUBLE) AS n,
      |    CAST(SUM(CASE WHEN l_returnflag = 'A' AND l_linestatus = 'F' THEN 1 ELSE 0 END) AS DOUBLE) AS caf,
      |    CAST(SUM(CASE WHEN l_returnflag = 'A' AND l_linestatus = 'O' THEN 1 ELSE 0 END) AS DOUBLE) AS cao,
      |    CAST(SUM(CASE WHEN l_returnflag = 'N' AND l_linestatus = 'F' THEN 1 ELSE 0 END) AS DOUBLE) AS cnf,
      |    CAST(SUM(CASE WHEN l_returnflag = 'N' AND l_linestatus = 'O' THEN 1 ELSE 0 END) AS DOUBLE) AS cno,
      |    CAST(SUM(CASE WHEN l_returnflag = 'R' AND l_linestatus = 'F' THEN 1 ELSE 0 END) AS DOUBLE) AS crf,
      |    CAST(SUM(CASE WHEN l_returnflag = 'R' AND l_linestatus = 'O' THEN 1 ELSE 0 END) AS DOUBLE) AS cro
      |  FROM lineitem),
      |r AS (
      |  SELECT *, caf + cao AS ra, cnf + cno AS rn, crf + cro AS rr,
      |    caf + cnf + crf AS kf, cao + cno + cro AS ko
      |  FROM t),
      |h AS (SELECT n, -($hxE) AS hx, -($hxyE) AS hxy FROM r)
      |SELECT CAST(n AS BIGINT) AS n_rows,
      |  ROUND(hx, 4) AS h_x, ROUND(hxy, 4) AS h_x_given_y,
      |  ROUND((hx - hxy) / hx, 4) AS theils_u
      |FROM h""".stripMargin)

  // ---------------------------------------------------------------- d34

  /** d34 — deterministic KMV (k-minimum-values) distinct sketch per event
    * type (ClickHouse `uniqTheta`-class analog [public: CH docs;
    * Bar-Yossef et al. 2002, the KMV estimator]). "Approximate" does NOT
    * mean "non-oracle-able": the randomness is a FIXED hash (the repo's
    * Knuth multiplicative family, 31-bit-masked — the a04 overflow lesson),
    * so the k-th smallest distinct hash h_k and the estimate
    * (k−1)·2^32 div h_k are pure integers, bit-exact cross-engine. Groups
    * with < k distinct hashes take the exact-count path (both regimes carry
    * fixture data: sf0.001 has 15 users/type — exact; sf0.01+ has ≥ 150 —
    * estimate). The two sides are INDEPENDENT formulations that must agree
    * (the j10/j11 pairing): the Spark side runs the bounded-state
    * [[graft.operators.Kmv]] aggregator itself (≤ k longs of mergeable
    * state per group — the plan that survives 100 TB), while the oracle is
    * the rank-window reference formulation over the full distinct hash
    * set. */
  val d34: Q = Q(
    "d34_kmv_distinct",
    """WITH h AS (
      |  SELECT DISTINCT event_type,
      |    ((user_id % 2147483648) * 2654435761) % 4294967296 AS hv
      |  FROM events),
      |r AS (
      |  SELECT event_type, hv,
      |    ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY hv ASC) AS rn
      |  FROM h),
      |g AS (
      |  SELECT event_type, CAST(COUNT(*) AS BIGINT) AS dcnt,
      |    CAST(MAX(CASE WHEN rn = 64 THEN hv END) AS BIGINT) AS h64
      |  FROM r GROUP BY 1)
      |SELECT event_type, CAST(LEAST(dcnt, 64) AS INT) AS n_tracked,
      |  CAST(CASE WHEN dcnt < 64 THEN dcnt
      |       ELSE (63 * 4294967296) // h64 END AS BIGINT) AS kmv_estimate
      |FROM g ORDER BY event_type ASC NULLS LAST""".stripMargin,
    (s, dir) => {
      val fn = udaf(graft.operators.Kmv(64), org.apache.spark.sql.Encoders.LONG)
      Tables.events(s, dir)
        .groupBy("event_type")
        .agg(fn(col("user_id")).as("s"))
        .select(col("event_type"), col("s.n_tracked").as("n_tracked"),
                col("s.estimate").as("kmv_estimate"))
        .orderBy(asc_nulls_last("event_type"))
    })

  // ---------------------------------------------------------------- d35

  /** d35 — Mann-Whitney U rank statistic comparing the quantity
    * distributions of return flags A vs R, per line status (ClickHouse
    * `mannWhitneyUTest` analog [public: CH statistical-function docs]).
    * Exact-integer recipe: ranks live on the VALUE GRID (quantity ∈ 1..50),
    * so the whole computation is a map-combined hash agg to ≤ 2×50 cells +
    * a cumulative window over the grid — the d28 fixed-state posture, no
    * data-sized sort at any scale. Tied ranks use the standard midrank,
    * kept integer by DOUBLING (midrank×2 = 2·|{v<q}| + cnt(q) + 1);
    * u2_a/u2_r are the doubled U statistics (exact int64, u2_a + u2_r =
    * 2·n_a·n_r — asserted by the oracle identity), and the common-language
    * effect size is ONE float division of bit-identical ints. */
  val d35: Q = Q.fromSql(
    "d35_mann_whitney_u",
    """WITH g AS (
      |  SELECT l_linestatus, CAST(l_quantity AS BIGINT) AS q,
      |    CAST(SUM(CASE WHEN l_returnflag = 'A' THEN 1 ELSE 0 END) AS BIGINT) AS ca,
      |    CAST(SUM(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END) AS BIGINT) AS cr
      |  FROM lineitem WHERE l_returnflag IN ('A', 'R') GROUP BY 1, 2),
      |c AS (
      |  SELECT l_linestatus, q, ca, cr, ca + cr AS ct,
      |    CAST(COALESCE(SUM(ca + cr) OVER (PARTITION BY l_linestatus ORDER BY q ASC
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS cumlt
      |  FROM g),
      |a AS (
      |  SELECT l_linestatus, CAST(SUM(ca) AS BIGINT) AS na,
      |    CAST(SUM(cr) AS BIGINT) AS nr,
      |    CAST(SUM(ca * (2 * cumlt + ct + 1)) AS BIGINT) AS dra
      |  FROM c GROUP BY 1)
      |SELECT l_linestatus, na AS n_a, nr AS n_r,
      |  dra - na * (na + 1) AS u2_a,
      |  2 * na * nr - (dra - na * (na + 1)) AS u2_r,
      |  CAST(dra - na * (na + 1) AS DOUBLE) / CAST(2 * na * nr AS DOUBLE) AS cles_a
      |FROM a ORDER BY l_linestatus ASC NULLS LAST""".stripMargin)

  // ---------------------------------------------------------------- d36

  /** Shared Welch closed-form fragments (d36) — see object scaladoc. */
  private val v1E = "(CAST(q1 AS DOUBLE) - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE) / CAST(n1 AS DOUBLE)) / (CAST(n1 AS DOUBLE) - 1.0)"
  private val v2E = "(CAST(q2 AS DOUBLE) - CAST(s2 AS DOUBLE) * CAST(s2 AS DOUBLE) / CAST(n2 AS DOUBLE)) / (CAST(n2 AS DOUBLE) - 1.0)"
  private val tE = "(CAST(s1 AS DOUBLE) / CAST(n1 AS DOUBLE) - CAST(s2 AS DOUBLE) / CAST(n2 AS DOUBLE)) / SQRT(v1 / CAST(n1 AS DOUBLE) + v2 / CAST(n2 AS DOUBLE))"
  private val dofE = "((v1 / CAST(n1 AS DOUBLE) + v2 / CAST(n2 AS DOUBLE)) * (v1 / CAST(n1 AS DOUBLE) + v2 / CAST(n2 AS DOUBLE))) / ((v1 / CAST(n1 AS DOUBLE)) * (v1 / CAST(n1 AS DOUBLE)) / (CAST(n1 AS DOUBLE) - 1.0) + (v2 / CAST(n2 AS DOUBLE)) * (v2 / CAST(n2 AS DOUBLE)) / (CAST(n2 AS DOUBLE) - 1.0))"

  /** d36 — Welch's unequal-variance t-test comparing purchase vs click
    * value distributions (ClickHouse `welchTTest`/`studentTTest` analog
    * [public: CH statistical-function docs]) — the d32 recipe applied to a
    * two-sample test: per-side count, Σcents, Σcents² accumulate as exact
    * int64 (cents ≤ 56,021 ⇒ Σx² ≤ 3.2e14 at sf0.1; the documented int64
    * headroom runs to ~10^9 rows — beyond that route the two power sums
    * through decimal(38,0) like Determinism.dsum), then the t statistic
    * and the Welch–Satterthwaite dof are ONE fixed IEEE tree each (÷ × −
    * sqrt, shared textually between dialects). One conditional hash agg,
    * single-row output — map-combined at any scale. */
  val d36: Q = Q.fromSql(
    "d36_welch_ttest",
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
      |v AS (SELECT *, $v1E AS v1, $v2E AS v2 FROM s)
      |SELECT n1 AS n_purchase, n2 AS n_click,
      |  $tE AS t_stat, $dofE AS welch_dof
      |FROM v""".stripMargin)

  // ---------------------------------------------------------------- d37

  /** d37 — two-sample Kolmogorov-Smirnov statistic comparing the quantity
    * distributions of return flags A vs R, per line status (ClickHouse
    * `kolmogorovSmirnovTest` analog [public: CH statistical-function
    * docs]) — completing the two-sample test family next to d35/d36. The
    * KS distance D = max_x |F_A(x) − F_R(x)| lives on the same 50-cell
    * value grid as d35: cross-multiplying the two empirical CDFs by the
    * opposite sample sizes keeps the max EXACT int64
    * (D_num = max |cumA·n_r − cumR·n_a| ≤ 4e10 at sf0.1), and D itself is
    * ONE float division of bit-identical ints. Map-combined hash agg +
    * two cumulative windows over grid-sized data — fixed state at any
    * input scale, no data-sized sort. */
  val d37: Q = Q.fromSql(
    "d37_ks_test",
    """WITH g AS (
      |  SELECT l_linestatus, CAST(l_quantity AS BIGINT) AS q,
      |    CAST(SUM(CASE WHEN l_returnflag = 'A' THEN 1 ELSE 0 END) AS BIGINT) AS ca,
      |    CAST(SUM(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END) AS BIGINT) AS cr
      |  FROM lineitem WHERE l_returnflag IN ('A', 'R') GROUP BY 1, 2),
      |c AS (
      |  SELECT l_linestatus, q, ca, cr,
      |    CAST(SUM(ca) OVER w AS BIGINT) AS cuma,
      |    CAST(SUM(cr) OVER w AS BIGINT) AS cumr,
      |    CAST(SUM(ca) OVER (PARTITION BY l_linestatus) AS BIGINT) AS na,
      |    CAST(SUM(cr) OVER (PARTITION BY l_linestatus) AS BIGINT) AS nr
      |  FROM g
      |  WINDOW w AS (PARTITION BY l_linestatus ORDER BY q ASC
      |               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
      |a AS (
      |  SELECT l_linestatus, MAX(na) AS na, MAX(nr) AS nr,
      |    MAX(ABS(cuma * nr - cumr * na)) AS d_num
      |  FROM c GROUP BY 1)
      |SELECT l_linestatus, na AS n_a, nr AS n_r, d_num,
      |  CAST(d_num AS DOUBLE) / CAST(na * nr AS DOUBLE) AS ks_d
      |FROM a ORDER BY l_linestatus ASC NULLS LAST""".stripMargin)

  // ---------------------------------------------------------------- d39

  /** d39 — Spearman rank correlation between quantity and extended price,
    * per line status (ClickHouse `rankCorr` analog [public: CH
    * statistical-function docs]). Exactness recipe: tied values take the
    * standard midrank, kept integer by DOUBLING (2·RANK + tiecount − 1,
    * the d35 identity) — and because midranks preserve the rank total,
    * Σdx = n(n+1) EXACTLY, so centering by the exact mean (n+1) is pure
    * integer subtraction: ux = dx − (n+1), |ux| ≤ n. The three centered
    * sums Σux·uy, Σux², Σuy² then fit int64 (≤ n³ ≈ 2.7e16 at sf0.1;
    * int64→double casts are correctly rounded in both engines), and
    * ρ = Sxy / (sqrt(Sxx)·sqrt(Syy)) is one fixed IEEE tree — bit-exact,
    * zero ROUND. Scale note: quantity ranks could ride the d35 value
    * grid, but price is continuous, so the rank windows here sort
    * per-linestatus (the fixture shape: 2 groups); at real scale the
    * standard 2-pass distributed rank (range-bucket counts → per-bucket
    * offsets) replaces the window, same integers out. */
  val d39: Q = Q.fromSql(
    "d39_rank_corr",
    """WITH src AS (
      |  SELECT l_linestatus, CAST(l_quantity AS BIGINT) AS q,
      |    CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS p
      |  FROM lineitem),
      |r AS (
      |  SELECT l_linestatus,
      |    2 * RANK() OVER (PARTITION BY l_linestatus ORDER BY q ASC)
      |      + COUNT(*) OVER (PARTITION BY l_linestatus, q) - 1 AS dx,
      |    2 * RANK() OVER (PARTITION BY l_linestatus ORDER BY p ASC)
      |      + COUNT(*) OVER (PARTITION BY l_linestatus, p) - 1 AS dy,
      |    COUNT(*) OVER (PARTITION BY l_linestatus) AS n
      |  FROM src),
      |c AS (
      |  SELECT l_linestatus, dx - (n + 1) AS ux, dy - (n + 1) AS uy FROM r),
      |a AS (
      |  SELECT l_linestatus, CAST(COUNT(*) AS BIGINT) AS n,
      |    CAST(SUM(ux * uy) AS BIGINT) AS sxy,
      |    CAST(SUM(ux * ux) AS BIGINT) AS sxx,
      |    CAST(SUM(uy * uy) AS BIGINT) AS syy
      |  FROM c GROUP BY 1)
      |SELECT l_linestatus, n AS n_rows,
      |  CAST(sxy AS DOUBLE) / (SQRT(CAST(sxx AS DOUBLE)) * SQRT(CAST(syy AS DOUBLE)))
      |    AS spearman_rho
      |FROM a ORDER BY l_linestatus ASC NULLS LAST""".stripMargin)

  // ---------------------------------------------------------------- j11

  /** j11 — strict-dedup window funnel (ClickHouse `windowFunnel`
    * `strict_dedup` mode [public: CH parametric-aggregate docs]): signup →
    * click → purchase, where a REPEAT of an already-matched step interrupts
    * progression at the reached level (the CH "repeating event interrupts
    * further processing" semantics), while events whose step is not yet
    * reached — and all non-funnel events — are simply ignored. Completes the
    * mode family: j05 is the base windowed funnel (and already carries the
    * strict-increase `>` comparison), j10 is strict_order; this is
    * strict_dedup. The Spark side runs the fold state machine via the
    * `aggregate` HOF ([[graft.operators.SequenceMatch.dedupStepSql]]; shared verbatim with
    * [[graft.streaming.StreamingDedupFunnel]]); the ORACLE is an independent
    * chained-window-min closed form over the composite key k = µs·8 + s
    * (same-µs ties are totally ordered by step index; ×8 keeps 2024-epoch
    * µs ≈ 1.7e15 far inside int64): after t1 = first signup, the first
    * later event with s ∈ {1,2} decides level 2 (click advances, signup
    * interrupts), and after t2 the first later funnel event decides level 3
    * (purchase advances, signup/click interrupt). Two independent
    * formulations must agree — and the closed form sidesteps the DuckDB
    * `list_reduce` bulk-misfold bug (SURVEY What's-hard item 2). All-int64,
    * zero float. */
  val j11: Q = Q(
    "j11_funnel_strict_dedup",
    """WITH src AS (
      |  SELECT user_id, epoch_us(ts) * 8 + s AS k, s FROM (
      |    SELECT user_id, ts,
      |      CASE event_type WHEN 'signup' THEN 1 WHEN 'click' THEN 2
      |           WHEN 'purchase' THEN 3 ELSE 0 END AS s
      |    FROM events)
      |  WHERE s > 0),
      |w1 AS (SELECT *, MIN(CASE WHEN s = 1 THEN k END)
      |         OVER (PARTITION BY user_id) AS t1 FROM src),
      |w2 AS (SELECT *, MIN(CASE WHEN s IN (1, 2) AND k > t1 THEN k END)
      |         OVER (PARTITION BY user_id) AS a2 FROM w1),
      |w3 AS (SELECT *, CASE WHEN a2 % 8 = 2 THEN a2 END AS t2 FROM w2),
      |w4 AS (SELECT *, MIN(CASE WHEN k > t2 THEN k END)
      |         OVER (PARTITION BY user_id) AS a3 FROM w3),
      |u AS (
      |  SELECT user_id,
      |    MAX(CASE WHEN t1 IS NULL THEN 0
      |         WHEN t2 IS NULL THEN 1
      |         WHEN a3 IS NOT NULL AND a3 % 8 = 3 THEN 3
      |         ELSE 2 END) AS lvl
      |  FROM w4 GROUP BY user_id)
      |SELECT CAST(lvl AS INT) AS funnel_level, CAST(COUNT(*) AS BIGINT) AS n_users
      |FROM u GROUP BY 1 ORDER BY funnel_level ASC NULLS LAST""".stripMargin,
    (s, dir) =>
      // compiled by the shared funnel machinery: strict_dedup mode = the
      // composite-key fold over [[graft.operators.SequenceMatch.dedupStepSql]] this query introduced
      graft.operators.SequenceMatch.funnelLevels(
          Tables.events(s, dir), "user_id", col("ts"), col("event_id"),
          Seq(col("event_type") === "signup", col("event_type") === "click",
              col("event_type") === "purchase"),
          window = None, mode = "strict_dedup")
        .select(col("funnel_level"))
        .groupBy("funnel_level")
        .agg(count(lit(1)).cast("long").as("n_users"))
        .orderBy(asc_nulls_last("funnel_level")))

  // ---------------------------------------------------------------- k37

  /** k37 — repetition-quality signals per document (the Gopher repetition
    * filters of large-corpus cleaning [public: Rae et al. 2021 §A1.1;
    * Penedo et al. 2023]): duplicate-token count, the top bigram's share of
    * all bigrams, and the share of trigram occurrences that are duplicated
    * trigrams. Highly repetitive documents (boilerplate, keyword stuffing,
    * generation loops) score high and are dropped before training. All
    * counters are exact int64 (counts of exploded grams); the two fractions
    * are single float divisions of bit-identical ints, and the drop flag
    * compares INTEGERS (5·top ≥ totbg ∨ 5·dup ≥ tot3 ∨ 2·dupTok ≥ n, i.e.
    * thresholds 0.2/0.2/0.5) so no float ever decides it. Shape: two
    * explode→count branches + co-partitioned doc_id joins; gram cardinality
    * crosses the shuffle, state never outlives a doc group. Docs with < 3
    * tokens yield NULL fractions via the n<2/n<3 guards (Spark `sequence`
    * is bidirectional — the h26 lesson — so the guard is a CASE, and the
    * fixture corpus carries no such doc, keeping both engines' NULL paths
    * cold but defined). */
  val k37: Q = Q(
    "k37_repetition_quality",
    """WITH t AS (
      |  SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
      |base AS (
      |  SELECT doc_id, CAST(len(toks) AS BIGINT) AS n_tok,
      |    CAST(len(toks) - len(list_distinct(toks)) AS BIGINT) AS dup_tok
      |  FROM t),
      |bg AS (
      |  SELECT doc_id, UNNEST(list_transform(range(1, len(toks)),
      |           i -> toks[i] || ' ' || toks[i + 1])) AS g
      |  FROM t WHERE len(toks) >= 2),
      |bga AS (
      |  SELECT doc_id, CAST(MAX(c) AS BIGINT) AS topbg,
      |    CAST(SUM(c) AS BIGINT) AS totbg
      |  FROM (SELECT doc_id, g, COUNT(*) AS c FROM bg GROUP BY 1, 2)
      |  GROUP BY 1),
      |tg AS (
      |  SELECT doc_id, UNNEST(list_transform(range(1, len(toks) - 1),
      |           i -> toks[i] || ' ' || toks[i + 1] || ' ' || toks[i + 2])) AS g
      |  FROM t WHERE len(toks) >= 3),
      |tga AS (
      |  SELECT doc_id, CAST(SUM(CASE WHEN c >= 2 THEN c ELSE 0 END) AS BIGINT) AS dup3,
      |    CAST(SUM(c) AS BIGINT) AS tot3
      |  FROM (SELECT doc_id, g, COUNT(*) AS c FROM tg GROUP BY 1, 2)
      |  GROUP BY 1)
      |SELECT b.doc_id, b.n_tok, b.dup_tok, bga.topbg AS top_bigram_n,
      |  CAST(bga.topbg AS DOUBLE) / CAST(bga.totbg AS DOUBLE) AS top_bigram_frac,
      |  CAST(tga.dup3 AS DOUBLE) / CAST(tga.tot3 AS DOUBLE) AS dup_trigram_frac,
      |  (COALESCE(5 * bga.topbg >= bga.totbg, FALSE)
      |   OR COALESCE(5 * tga.dup3 >= tga.tot3, FALSE)
      |   OR 2 * b.dup_tok >= b.n_tok) AS repetitive
      |FROM base b
      |LEFT JOIN bga ON b.doc_id = bga.doc_id
      |LEFT JOIN tga ON b.doc_id = tga.doc_id
      |ORDER BY b.doc_id ASC NULLS LAST""".stripMargin,
    (s, dir) => {
      val t = Tables.documents(s, dir)
        .select(col("doc_id"), split(col("text"), " ").as("toks"))
      val base = t.select(col("doc_id"),
        size(col("toks")).cast("long").as("n_tok"),
        (size(col("toks")) - size(array_distinct(col("toks"))))
          .cast("long").as("dup_tok"))
      def grams(n: Int) = t
        .where(size(col("toks")) >= n)
        .select(col("doc_id"),
                explode(transform(sequence(lit(1), size(col("toks")) - (n - 1)),
                  i => concat_ws(" ", (0 until n).map(d =>
                    element_at(col("toks"), i + d)): _*))).as("g"))
        .groupBy("doc_id", "g").agg(count(lit(1)).as("c"))
      val bga = grams(2).groupBy("doc_id")
        .agg(max("c").cast("long").as("topbg"), sum("c").cast("long").as("totbg"))
      val tga = grams(3).groupBy("doc_id")
        .agg(sum(when(col("c") >= 2, col("c")).otherwise(0L))
               .cast("long").as("dup3"),
             sum("c").cast("long").as("tot3"))
      base
        .join(bga, Seq("doc_id"), "left")
        .join(tga, Seq("doc_id"), "left")
        .select(col("doc_id"), col("n_tok"), col("dup_tok"),
                col("topbg").as("top_bigram_n"),
                (col("topbg").cast("double") / col("totbg").cast("double"))
                  .as("top_bigram_frac"),
                (col("dup3").cast("double") / col("tot3").cast("double"))
                  .as("dup_trigram_frac"),
                (coalesce(lit(5) * col("topbg") >= col("totbg"), lit(false))
                   || coalesce(lit(5) * col("dup3") >= col("tot3"), lit(false))
                   || lit(2) * col("dup_tok") >= col("n_tok")).as("repetitive"))
        .orderBy(asc_nulls_last("doc_id"))
    })

  def ops: Vector[Q] = Vector(d32, d33, d34, d35, d36, d37, d38, d39, j11, k37)
}
