package graft.engine

import org.apache.spark.sql.Column
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** SURVEY §2.1 round-11 additions — seventeen ClickHouse-surface families
  * the r10 sweep left uncovered, each bit-exact against the DuckDB oracle
  * at sf0.001/0.01/0.1:
  *
  *  - `j12_sequence_match_time` — `sequenceMatch` with a `(?t<=N)` time
  *    constraint (one running-max window, no pair join).
  *  - `h35_multi_search` / `h37_arr_membership` — the string-search and
  *    array-membership function families (map-only builtins).
  *  - `e21_time_decayed_sum` / `e22_time_decayed_family` — the
  *    `exponentialTimeDecayed{Sum,Count,Avg,Max}` family on an exact
  *    power-of-two day grid (zero float accumulation).
  *  - `d45_kmv_set_ops` — theta-sketch union/intersection/Jaccard from
  *    bounded KmvSketch states (lemmas pinned in Round11Spec).
  *  - `d46_corr_matrix` / `d48_weighted_moments` — matrix and weighted
  *    moment aggregates over exact power sums (the decimal(38,0) escape
  *    exercised under the oracle gate).
  *  - `d47_tukey_outliers` / `d49_quantile_types` — grid-based exact
  *    quantiles (type-6/7 interpolation, Tukey fences), no data-sized
  *    percentile buffer anywhere.
  *  - `h36_arr_cumsum_nonneg` — the clamped array scan via its
  *    running-min closed form.
  *  - `h38_round_ladders` / `h40_bit_test` — CH's rounding ladders and
  *    bit-test family as generated shared CASE/CONCAT text.
  *  - `h39_gcd_lcm` — the native codegen'd [[graft.functions.GcdExpression]]
  *    against DuckDB's builtin gcd (two independent implementations).
  *  - `d50_group_array_intersect` / `d51_group_array_sorted` — CH 24.x
  *    array aggregates via presence-count / WindowGroupLimit shapes.
  *  - `e23_lag_lead_defaults` — the full lagInFrame(x, n, default)
  *    signature (explicit offsets + defaults).
  *
  * Every query follows the SURVEY §2 determinism rules (explicit NULLS,
  * total ORDER BY, integer-exact arithmetic end-to-end).
  */
object Round11Ops {

  // ---------------------------------------------------------------- j12

  /** j12 — time-constrained sequence match (ClickHouse
    * `sequenceMatch('(?1)(?t<=3600)(?2)')(ts, type='signup',
    * type='purchase')` analog [public: CH parametric-aggregate docs]).
    * j07 answers the loose `(?1).*(?2)` and adjacent `(?1)(?2)` forms;
    * this adds the `(?t<=N)` form: does a purchase occur within 1 hour
    * AFTER some signup, intervening events allowed. A matching pair
    * exists iff some purchase's NEAREST preceding signup is within the
    * bound (the nearest signup minimizes the gap), so one running-max
    * window over (ts, event_id) order decides it — no pair join, no
    * state machine; per-user work is a running scalar, the same shape
    * at 100 TB. `n_within` additionally counts the matching purchases
    * (the `sequenceCount`-flavored reading of the same constraint).
    * All comparisons on exact µs integers; ties impossible (user×ts is
    * unique in the fixture; event_id breaks any in both engines). */
  val j12: Q = Q(
    "j12_sequence_match_time",
    """WITH w AS (
      |  SELECT user_id, event_type, ts,
      |    MAX(CASE WHEN event_type = 'signup' THEN ts END) OVER
      |      (PARTITION BY user_id ORDER BY ts ASC NULLS LAST, event_id ASC NULLS LAST
      |       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_signup
      |  FROM events),
      |m AS (
      |  SELECT user_id,
      |    MAX(CASE WHEN event_type = 'purchase' AND prev_signup IS NOT NULL
      |              AND ts <= prev_signup + INTERVAL 1 HOUR THEN 1 ELSE 0 END) AS m_within,
      |    SUM(CASE WHEN event_type = 'purchase' AND prev_signup IS NOT NULL
      |              AND ts <= prev_signup + INTERVAL 1 HOUR THEN 1 ELSE 0 END) AS n_within,
      |    COUNT(*) AS n_events
      |  FROM w GROUP BY user_id)
      |SELECT user_id, CAST(m_within AS INT) AS m_within,
      |  CAST(n_within AS BIGINT) AS n_within,
      |  CAST(n_events AS BIGINT) AS n_events
      |FROM m
      |ORDER BY user_id ASC NULLS LAST""".stripMargin,
    (s, dir) =>
      // compiled from the CH grammar: (?t<=N) = the nearest-preceding
      // running-max closed form this query originally hand-derived
      graft.operators.SequenceMatch.withMatch(
          Tables.events(s, dir), "user_id", unix_micros(col("ts")),
          col("event_id"),
          Seq(col("event_type") === "signup", col("event_type") === "purchase"),
          "(?1)(?t<=3600)(?2)", "__hit")
        .groupBy("user_id")
        .agg(max(col("__hit")).cast("int").as("m_within"),
             sum(col("__hit")).cast("long").as("n_within"),
             count(lit(1)).cast("long").as("n_events"))
        .orderBy(asc_nulls_last("user_id")))

  // ---------------------------------------------------------------- h35

  /** h35 — string-search function family (ClickHouse `countSubstrings`,
    * `multiSearchAny`, `position`, `hasToken` analogs [public: CH
    * string-search-function docs]). All four reduce to codegen'd string
    * builtins — map-only, no shuffle, linear scan:
    *  - `countSubstrings`: non-intersecting occurrence count via the
    *    length-difference identity (CH counts non-overlapping — the
    *    REPLACE trick matches that semantics exactly);
    *  - `multiSearchAny`: OR of `contains` over three needles;
    *  - `position`: 1-based first occurrence, 0 when absent (instr and
    *    strpos agree on both conventions — proven by h17);
    *  - `hasToken`: whole-token membership via space-padded LIKE (the
    *    documents fixture is clean space-separated tokens). */
  val h35: Q = Q(
    "h35_multi_search",
    """SELECT doc_id,
      |  CAST((LENGTH(text) - LENGTH(REPLACE(text, 'scan', ''))) // 4 AS INT) AS cnt_scan,
      |  CAST((LENGTH(text) - LENGTH(REPLACE(text, 'a', ''))) AS INT) AS cnt_a,
      |  CAST(CASE WHEN CONTAINS(text, 'merge') OR CONTAINS(text, 'spark')
      |             OR CONTAINS(text, 'zzz') THEN 1 ELSE 0 END AS INT) AS multi_any,
      |  CAST(STRPOS(text, 'value') AS INT) AS pos_value,
      |  CAST(CASE WHEN ' ' || text || ' ' LIKE '% join %' THEN 1 ELSE 0 END AS INT) AS has_tok_join
      |FROM documents
      |ORDER BY doc_id ASC NULLS LAST""".stripMargin,
    (s, dir) =>
      Tables.documents(s, dir)
        .select(col("doc_id"),
                expr("(length(text) - length(replace(text, 'scan', ''))) div 4")
                  .cast("int").as("cnt_scan"),
                (length(col("text")) - length(expr("replace(text, 'a', '')")))
                  .cast("int").as("cnt_a"),
                (col("text").contains("merge") || col("text").contains("spark") ||
                  col("text").contains("zzz")).cast("int").as("multi_any"),
                instr(col("text"), "value").cast("int").as("pos_value"),
                concat(lit(" "), col("text"), lit(" ")).like("% join %")
                  .cast("int").as("has_tok_join"))
        .orderBy(asc_nulls_last("doc_id")))

  // ---------------------------------------------------------------- e21

  /** e21 — exponential time-decayed sum (ClickHouse
    * `exponentialTimeDecayedSum(x)(value, time)` analog [public: CH
    * window-function docs]) on an EXACT decay grid: half-life = 1 day,
    * ages quantized to whole days — decay per day is exactly 2⁻¹, so each
    * event's contribution at the reference instant T (2024-01-31, just
    * past the fixture span) is `cents · 2^(30 − age_days)` in integer
    * units of 2⁻³⁰ cents: age_days ≤ 30 inside the span, cents ≤ 49 003
    * (FIXTURES events.value ≤ 490.02), so one unit term ≤ 5.3e13 and a
    * per-user sum of ~10³ events stays far below int64 — the whole
    * accumulation is EXACT integer arithmetic, immune to merge order
    * (the generic float decay-sum is order-sensitive; CH itself computes
    * it as floats). The float rendering divides ONCE at the end:
    * int64→double cast is correctly rounded in both engines (the d39
    * fact) and /2³⁰ and /100 are two shared IEEE ops — bit-identical.
    * Shape: one map-combined hash agg per user, mergeable state = one
    * long — the same additive state [[graft.streaming]] twins carry.
    * Scale bound documented: ≥ ~10⁵ age-0 max-value events per user
    * would overflow int64; route the sum through decimal(38,0) past that
    * (rule-2 dsum discipline). */
  val e21: Q = Q(
    "e21_time_decayed_sum",
    """WITH u AS (
      |  SELECT user_id,
      |    CAST(SUM(
      |      CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)
      |      * CAST(POWER(2, 30 - ((epoch_us(TIMESTAMP '2024-01-31 00:00:00') - epoch_us(ts))
      |                            // 86400000000)) AS BIGINT)) AS BIGINT) AS units,
      |    COUNT(*) AS n
      |  FROM events WHERE ts <= TIMESTAMP '2024-01-31 00:00:00' GROUP BY user_id)
      |SELECT user_id, units,
      |  CAST(units AS DOUBLE) / 1073741824.0 / 100.0 AS decayed_sum,
      |  CAST(n AS BIGINT) AS n_events
      |FROM u
      |ORDER BY user_id ASC NULLS LAST""".stripMargin,
    (s, dir) => {
      val tRef = lit("2024-01-31 00:00:00").cast("timestamp")
      val cents = (col("value").cast("decimal(18,2)") * 100).cast("long")
      val age = expr("(unix_micros(TIMESTAMP '2024-01-31 00:00:00') - unix_micros(ts)) div 86400000000")
      val units = cents *
        pow(lit(2.0), (lit(30) - age).cast("double")).cast("long")
      Tables.events(s, dir)
        .filter(col("ts") <= tRef)
        .groupBy("user_id")
        .agg(sum(units).cast("long").as("units"),
             count(lit(1)).cast("long").as("n_events"))
        .select(col("user_id"), col("units"),
                (col("units").cast("double") / lit(1073741824.0) / lit(100.0))
                  .as("decayed_sum"),
                col("n_events"))
        .orderBy(asc_nulls_last("user_id"))
    })

  // ---------------------------------------------------------------- d45

  /** d45 — KMV/theta-sketch SET OPERATIONS (ClickHouse
    * `uniqThetaUnion`/`uniqThetaIntersect` analog [public: CH theta-sketch
    * docs; Dasgupta et al., the theta-sketch framework]) over the purchase
    * and click user sets: union/intersection cardinality estimates and the
    * sketch Jaccard from two BOUNDED sketches. Extends d34's single-set
    * estimator to the set algebra that makes theta sketches the 100 TB
    * audience-overlap tool: each side is `operators.KmvSketch` (≤ 64 longs
    * of merge-order-free state), union = bottom-k of the two hash lists —
    * equal to bottom-k of the FULL union by the k-smallest-of-union
    * property, which is exactly what the oracle's independent rank-window
    * formulation computes over the full distinct hash sets (the d34/j10
    * two-formulation pairing) — θ = the union's 64th smallest (2³² in the
    * exact regime, which the SAME integer formulas then collapse to exact
    * counts), intersection = common hashes below θ. Every estimate is pure
    * int64 (`cnt · 2³² div θ`); the Jaccard is ONE float division of
    * bit-identical ints. Both regimes carry fixture data: sf0.001's 15
    * users are exact, sf0.01+'s 150+ estimate. Plan: one map-combined
    * 2-sketch hash agg, then map-only array expressions on ONE row. */
  val d45: Q = Q(
    "d45_kmv_set_ops",
    """WITH ha AS (
      |  SELECT DISTINCT ((user_id % 2147483648) * 2654435761) % 4294967296 AS h
      |  FROM events WHERE event_type = 'purchase' AND value > 150.0),
      |hb AS (
      |  SELECT DISTINCT ((user_id % 2147483648) * 2654435761) % 4294967296 AS h
      |  FROM events WHERE event_type = 'click' AND value > 150.0),
      |sa AS (SELECT CAST(COUNT(*) AS BIGINT) AS d,
      |         CAST(MAX(CASE WHEN rn = 64 THEN h END) AS BIGINT) AS h64
      |       FROM (SELECT h, ROW_NUMBER() OVER (ORDER BY h ASC) AS rn FROM ha)),
      |sb AS (SELECT CAST(COUNT(*) AS BIGINT) AS d,
      |         CAST(MAX(CASE WHEN rn = 64 THEN h END) AS BIGINT) AS h64
      |       FROM (SELECT h, ROW_NUMBER() OVER (ORDER BY h ASC) AS rn FROM hb)),
      |u AS (SELECT h FROM ha UNION SELECT h FROM hb),
      |ru AS (SELECT h, ROW_NUMBER() OVER (ORDER BY h ASC) AS rn FROM u),
      |su AS (SELECT CASE WHEN COUNT(*) >= 64
      |                THEN CAST(MAX(CASE WHEN rn = 64 THEN h END) AS BIGINT)
      |                ELSE 4294967296 END AS theta FROM ru),
      |cm AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_common
      |       FROM ha JOIN hb ON ha.h = hb.h, su WHERE ha.h < su.theta),
      |us AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_union_samples
      |       FROM ru, su WHERE ru.h < su.theta)
      |SELECT CAST(LEAST(sa.d, 64) AS INT) AS n_a_tracked,
      |  CAST(LEAST(sb.d, 64) AS INT) AS n_b_tracked,
      |  CAST(CASE WHEN sa.d < 64 THEN sa.d
      |       ELSE (63 * 4294967296) // sa.h64 END AS BIGINT) AS est_a,
      |  CAST(CASE WHEN sb.d < 64 THEN sb.d
      |       ELSE (63 * 4294967296) // sb.h64 END AS BIGINT) AS est_b,
      |  CAST((us.n_union_samples * 4294967296) // su.theta AS BIGINT) AS est_union,
      |  CAST((cm.n_common * 4294967296) // su.theta AS BIGINT) AS est_inter,
      |  CAST(cm.n_common AS DOUBLE) / CAST(us.n_union_samples AS DOUBLE) AS jaccard_est
      |FROM sa, sb, su, cm, us""".stripMargin,
    (s, dir) => {
      val sk = udaf(graft.operators.KmvSketch(64),
                    org.apache.spark.sql.Encoders.LONG)
      def sideEst(c: String) =
        when(size(col(c)) < 64, size(col(c)).cast("long"))
          .otherwise(expr(s"(63 * 4294967296) div element_at($c, 64)"))
      Tables.events(s, dir)
        .agg(sk(when(col("event_type") === "purchase" && col("value") > 150.0,
                    col("user_id"))).as("ha"),
             sk(when(col("event_type") === "click" && col("value") > 150.0,
                    col("user_id"))).as("hb"))
        .withColumn("hu", array_sort(array_distinct(concat(col("ha"), col("hb")))))
        .withColumn("theta",
          when(size(col("hu")) >= 64, element_at(col("hu"), 64))
            .otherwise(lit(4294967296L)))
        .withColumn("n_union_samples",
          size(expr("filter(hu, h -> h < theta)")).cast("long"))
        .withColumn("n_common",
          size(expr("filter(array_intersect(ha, hb), h -> h < theta)")).cast("long"))
        .select(
          size(col("ha")).cast("int").as("n_a_tracked"),
          size(col("hb")).cast("int").as("n_b_tracked"),
          sideEst("ha").cast("long").as("est_a"),
          sideEst("hb").cast("long").as("est_b"),
          expr("(n_union_samples * 4294967296) div theta").cast("long")
            .as("est_union"),
          expr("(n_common * 4294967296) div theta").cast("long").as("est_inter"),
          (col("n_common").cast("double") / col("n_union_samples").cast("double"))
            .as("jaccard_est"))
    })

  // ---------------------------------------------------------------- d46

  /** Shared Pearson-r closed form over exact sums (text instantiated into
    * BOTH dialects — the d32/h30 discipline): every operand is a cast of a
    * bit-identical exact sum, so the IEEE tree cannot drift. */
  private def corrE(sa: String, sb: String, sa2: String, sb2: String,
                    sab: String): String =
    s"(CAST(n AS DOUBLE) * CAST($sab AS DOUBLE) - CAST($sa AS DOUBLE) * CAST($sb AS DOUBLE)) / " +
    s"(SQRT(CAST(n AS DOUBLE) * CAST($sa2 AS DOUBLE) - CAST($sa AS DOUBLE) * CAST($sa AS DOUBLE)) * " +
    s"SQRT(CAST(n AS DOUBLE) * CAST($sb2 AS DOUBLE) - CAST($sb AS DOUBLE) * CAST($sb AS DOUBLE)))"

  /** Shared sample-covariance closed form (same operand class). */
  private def covarE(sa: String, sb: String, sab: String): String =
    s"(CAST($sab AS DOUBLE) - CAST($sa AS DOUBLE) * CAST($sb AS DOUBLE) / CAST(n AS DOUBLE)) / " +
    s"(CAST(n AS DOUBLE) - 1.0)"

  /** d46 — correlation/covariance MATRIX aggregate (ClickHouse
    * `corrMatrix`/`covarSampMatrix` analog [public: CH 23.x matrix-
    * aggregate docs]) over (quantity, price cents, discount hundredths)
    * per line status: all three pairwise Pearson r and sample covariances
    * from ONE map-combined hash agg carrying the 10 sufficient statistics
    * (n, three Σx, three Σx², three Σxy) — the matrix never materializes;
    * CH's Array(Array) result is flattened to scalar columns per rule 6.
    * Exactness: every sufficient statistic is an EXACT sum — int64
    * everywhere the headroom allows (Σq² ≤ 1.5e9, Σqp ≤ 3e14, Σpd ≤ 6e13
    * at sf0.1), and Σ(cents²) — which at 2.2e19 EXCEEDS int64 — through
    * DECIMAL(38,0) per-row-int64 products (the rule-2 escape d36's bound
    * prescribes; decimal(38,0)→double casts verified bit-identical
    * cross-engine this round, including rounding-required 20-digit
    * values). The r/covar trees are ONE shared-text IEEE expression each
    * over those casts — zero ROUND, the d32 class. At 100× scale the
    * remaining int64 sums route through the same decimal escape. */
  val d46: Q = Q.fromSql(
    "d46_corr_matrix",
    s"""WITH s AS (
      |  SELECT l_linestatus, CAST(COUNT(*) AS BIGINT) AS n,
      |    CAST(SUM(q) AS BIGINT) AS sq, CAST(SUM(q * q) AS BIGINT) AS sq2,
      |    CAST(SUM(p) AS BIGINT) AS sp,
      |    SUM(CAST(p * p AS DECIMAL(38,0))) AS sp2,
      |    CAST(SUM(d) AS BIGINT) AS sd, CAST(SUM(d * d) AS BIGINT) AS sd2,
      |    CAST(SUM(q * p) AS BIGINT) AS sqp, CAST(SUM(q * d) AS BIGINT) AS sqd,
      |    CAST(SUM(p * d) AS BIGINT) AS spd
      |  FROM (SELECT l_linestatus, CAST(l_quantity AS BIGINT) AS q,
      |          CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS p,
      |          CAST(CAST(l_discount AS DECIMAL(18,2)) * 100 AS BIGINT) AS d
      |        FROM lineitem)
      |  GROUP BY 1)
      |SELECT l_linestatus, n AS n_rows,
      |  ${corrE("sq", "sp", "sq2", "sp2", "sqp")} AS corr_qty_price,
      |  ${corrE("sq", "sd", "sq2", "sd2", "sqd")} AS corr_qty_disc,
      |  ${corrE("sp", "sd", "sp2", "sd2", "spd")} AS corr_price_disc,
      |  ${covarE("sq", "sp", "sqp")} AS covar_qty_price,
      |  ${covarE("sq", "sd", "sqd")} AS covar_qty_disc,
      |  ${covarE("sp", "sd", "spd")} AS covar_price_disc
      |FROM s ORDER BY l_linestatus ASC NULLS LAST""".stripMargin)

  // ---------------------------------------------------------------- d47

  /** Shared Tukey fence texts (the d32/h30 shared-string discipline). */
  private val fenceLoE = "q1 - 1.5 * (q3 - q1)"
  private val fenceHiE = "q3 + 1.5 * (q3 - q1)"

  /** d47 — Tukey-fences outlier detection per event type (ClickHouse
    * `seriesOutliersDetectTukey` analog [public: CH time-series function
    * docs], in aggregate form): exact interpolated quartiles of the value
    * cents, the 1.5·IQR fences, and the low/high outlier counts. The whole
    * computation is BIT-EXACT with zero ROUND — a property of the integer
    * grid: quartile interpolation on int64 cents lands on positions whose
    * fractional part ∈ {0, ¼, ½, ¾}, so q1/q3 are DYADIC rationals exact
    * in double on both engines (lo + (hi−lo)·g with dyadic g is an exact
    * IEEE product+sum at these magnitudes), and the fence arithmetic is a
    * shared-text tree over them (1.5·IQR of dyadics is dyadic); the
    * per-row comparisons against exact fences are then exact too. Shape:
    * quartiles come OFF THE CENTS GRID (map-combined hash agg to
    * ≤ |domain| cells, grid-sized cumulative windows, conditional minima
    * — the d28/d49 fixed-state posture, NO data-sized percentile buffer
    * anywhere), the 5-row fence frame broadcasts back, one conditional
    * count agg closes. The oracle keeps PERCENTILE_CONT, so the grid
    * conditional-min form and the sort-based interpolation are two
    * INDEPENDENT formulations that must agree (the d34/j10 pairing). */
  val d47: Q = Q(
    "d47_tukey_outliers",
    s"""WITH e AS (
      |  SELECT event_type, CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS c
      |  FROM events),
      |f AS (
      |  SELECT event_type,
      |    CAST(PERCENTILE_CONT(0.25) WITHIN GROUP (ORDER BY c) AS DOUBLE) AS q1,
      |    CAST(PERCENTILE_CONT(0.75) WITHIN GROUP (ORDER BY c) AS DOUBLE) AS q3
      |  FROM e GROUP BY 1),
      |g AS (
      |  SELECT event_type, q1, q3, $fenceLoE AS fence_lo, $fenceHiE AS fence_hi
      |  FROM f)
      |SELECT e.event_type, CAST(COUNT(*) AS BIGINT) AS n,
      |  MAX(g.q1) AS q1, MAX(g.q3) AS q3,
      |  MAX(g.fence_lo) AS fence_lo, MAX(g.fence_hi) AS fence_hi,
      |  CAST(SUM(CASE WHEN e.c < g.fence_lo THEN 1 ELSE 0 END) AS BIGINT) AS n_out_lo,
      |  CAST(SUM(CASE WHEN e.c > g.fence_hi THEN 1 ELSE 0 END) AS BIGINT) AS n_out_hi
      |FROM e JOIN g ON e.event_type = g.event_type
      |GROUP BY e.event_type
      |ORDER BY e.event_type ASC NULLS LAST""".stripMargin,
    (s, dir) => {
      // Spark side: quartiles OFF THE CENTS GRID (the d49 machinery) —
      // Spark's builtin `percentile` buffers every group value (a
      // data-sized sort-agg, wrong at 100 TB); the grid form is one
      // map-combined hash agg to ≤ |domain| cells + grid-sized windows +
      // conditional minima, and it reproduces PERCENTILE_CONT's type-7
      // interpolation bit-exactly (proven by d49's inclusive columns).
      // The oracle keeps PERCENTILE_CONT — two INDEPENDENT formulations
      // must agree (the d34/j10 pairing).
      val cents = (col("value").cast("decimal(18,2)") * 100).cast("long")
      val ev = Tables.events(s, dir).select(col("event_type"), cents.as("c"))
      val wt = Window.partitionBy("event_type")
      val wcum = wt.orderBy(asc("c"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      def kE(p: String) = s"CAST(FLOOR(CAST(n - 1 AS DOUBLE) * $p) AS BIGINT)"
      def vAt(off: Int, p: String) =
        min(when(col("cum") >= expr(kE(p)) + off, col("c")))
      val fences = ev.groupBy("event_type", "c")
        .agg(count(lit(1)).as("cnt"))
        .withColumn("cum", sum("cnt").over(wcum))
        .withColumn("n", sum("cnt").over(wt))
        .groupBy("event_type")
        .agg(max("n").as("n"),
             vAt(1, "0.25").as("v25a"), vAt(2, "0.25").as("v25b"),
             vAt(1, "0.75").as("v75a"), vAt(2, "0.75").as("v75b"),
             max(expr(kE("0.25"))).as("k25"), max(expr(kE("0.75"))).as("k75"))
        .select(col("event_type"),
                expr(interpE("CAST(n - 1 AS DOUBLE) * 0.25", "k25", "v25a", "v25b")).as("q1"),
                expr(interpE("CAST(n - 1 AS DOUBLE) * 0.75", "k75", "v75a", "v75b")).as("q3"))
        .withColumn("fence_lo", expr(fenceLoE))
        .withColumn("fence_hi", expr(fenceHiE))
      ev.join(broadcast(fences), "event_type")
        .groupBy("event_type")
        .agg(count(lit(1)).cast("long").as("n"),
             max("q1").as("q1"), max("q3").as("q3"),
             max("fence_lo").as("fence_lo"), max("fence_hi").as("fence_hi"),
             sum(when(col("c") < col("fence_lo"), 1).otherwise(0)).cast("long")
               .as("n_out_lo"),
             sum(when(col("c") > col("fence_hi"), 1).otherwise(0)).cast("long")
               .as("n_out_hi"))
        .orderBy(asc_nulls_last("event_type"))
    })

  // ---------------------------------------------------------------- h36

  /** h36 — `arrayCumSumNonNegative` analog (+ the running-min scan)
    * [public: CH array-function docs], completing h21's array-scan family
    * with the CLAMPED fold. The key move: the clamped recursion
    * `s_i = max(0, s_{i−1} + x_i)` has a CLOSED FORM — with c the plain
    * prefix sums, `s_i = c_i − min(0, min_{j≤i} c_j)` (the running-min
    * identity; pinned against the direct fold in Round11Spec) — so both
    * scans are compositions of h21-style prefix folds, map-only, no
    * explode/shuffle on the Spark side (only the oracle unnests to
    * windows). Elements quantize FIRST onto the exact integer grid
    * (`FLOOR(x · 2¹⁴)` — the r10 zero-divergence recipe), so every
    * subsequent op is pure int64: zero float anywhere. The oracle LEFT
    * JOINs its unnest-aggregate back to `embeddings` and COALESCEs to ''
    * so an empty embedding yields the same empty-string row the Spark
    * side's `array_join([])` produces, instead of vanishing from the
    * unnest (r8 advice). */
  val h36: Q = Q(
    "h36_arr_cumsum_nonneg",
    """WITH scans AS (
      |  SELECT vec_id,
      |    ARRAY_TO_STRING(list(cs - LEAST(0, rm) ORDER BY i), '|') AS cum_nonneg,
      |    ARRAY_TO_STRING(list(rm ORDER BY i), '|') AS run_min
      |  FROM (
      |    SELECT vec_id, i, cs,
      |      MIN(cs) OVER (PARTITION BY vec_id ORDER BY i) AS rm
      |    FROM (
      |      SELECT vec_id, i, SUM(u) OVER (PARTITION BY vec_id ORDER BY i) AS cs
      |      FROM (
      |        SELECT vec_id, t.i AS i,
      |          CAST(FLOOR(CAST(embedding[t.i] AS DOUBLE) * 16384) AS BIGINT) AS u
      |        FROM embeddings, unnest(generate_series(1, len(embedding))) AS t(i))))
      |  GROUP BY vec_id)
      |SELECT e.vec_id, COALESCE(s.cum_nonneg, '') AS cum_nonneg,
      |  COALESCE(s.run_min, '') AS run_min
      |FROM embeddings e LEFT JOIN scans s USING (vec_id)
      |ORDER BY vec_id ASC NULLS LAST""".stripMargin,
    (s, dir) => {
      val u = transform(col("embedding"),
        e => floor(e.cast("double") * 16384).cast("long"))
      def scan(arr: Column, step: (Column, Column) => Column): Column =
        aggregate(arr, typedlit(Seq.empty[Long]),
          (acc, x) => concat(acc, array(
            when(size(acc) === 0, x)
              .otherwise(step(element_at(acc, size(acc)), x)))))
      Tables.embeddings(s, dir)
        .withColumn("c", scan(u, (prev, x) => prev + x))
        .withColumn("rm", scan(col("c"), (prev, x) => least(prev, x)))
        .select(col("vec_id"),
                array_join(zip_with(col("c"), col("rm"),
                  (ci, mi) => ci - least(lit(0L), mi)), "|").as("cum_nonneg"),
                array_join(col("rm"), "|").as("run_min"))
        .orderBy(asc_nulls_last("vec_id"))
    })

  // ---------------------------------------------------------------- d48

  /** Shared weighted-moment closed forms (the d32/h30 discipline). */
  private val avgWE = "CAST(swx AS DOUBLE) / CAST(sw AS DOUBLE)"
  private val varWE =
    "(CAST(swx2 AS DOUBLE) - CAST(swx AS DOUBLE) * CAST(swx AS DOUBLE) / CAST(sw AS DOUBLE)) / " +
    "(CAST(sw AS DOUBLE) - 1.0)"

  /** d48 — weighted location/spread aggregates (ClickHouse `avgWeighted`
    * analog + the frequency-weight sample variance) of price cents
    * weighted by quantity, per return flag: the weighted mean CH users
    * reach for constantly, plus its spread, from ONE map-combined hash
    * agg over three exact sums (Σw, Σwx int64 — 3e7 / 3e13 at sf0.1;
    * Σwx², whose per-row int64 products sum to ~3e21 > int64, through
    * the DECIMAL(38,0) escape d46 proved bit-identical). The two
    * statistics are shared-text IEEE trees — zero ROUND, the d32 class.
    * Weights are frequency semantics (integer repeat counts), matching
    * the Σw − 1 Bessel denominator. */
  val d48: Q = Q.fromSql(
    "d48_weighted_moments",
    s"""WITH s AS (
      |  SELECT l_returnflag,
      |    CAST(SUM(w) AS BIGINT) AS sw,
      |    CAST(SUM(w * x) AS BIGINT) AS swx,
      |    SUM(CAST(w * x * x AS DECIMAL(38,0))) AS swx2,
      |    CAST(COUNT(*) AS BIGINT) AS n
      |  FROM (SELECT l_returnflag, CAST(l_quantity AS BIGINT) AS w,
      |          CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS x
      |        FROM lineitem)
      |  GROUP BY 1)
      |SELECT l_returnflag, n AS n_rows, sw AS sum_w,
      |  $avgWE AS avg_weighted,
      |  $varWE AS var_weighted
      |FROM s ORDER BY l_returnflag ASC NULLS LAST""".stripMargin)

  // ---------------------------------------------------------------- h37

  /** h37 — array membership family (ClickHouse `has`/`indexOf`/
    * `countEqual`/`arrayExists` analogs [public: CH array-function docs])
    * over the tokenized documents: whole-token membership, 1-based first
    * position (0 when absent — Spark's `array_position` convention; the
    * DuckDB side COALESCEs `list_position`'s NULL-when-absent to 0),
    * equality count, and a predicate `arrayExists` (any token longer than
    * 6 chars). Map-only codegen'd array builtins; the h35 sibling works
    * on the raw string, this one on the split array. */
  val h37: Q = Q(
    "h37_arr_membership",
    """SELECT doc_id,
      |  CAST(CASE WHEN list_contains(toks, 'join') THEN 1 ELSE 0 END AS INT) AS has_join,
      |  CAST(COALESCE(list_position(toks, 'scan'), 0) AS INT) AS idx_scan,
      |  CAST(len(list_filter(toks, t -> t = 'a')) AS INT) AS cnt_eq_a,
      |  CAST(CASE WHEN len(list_filter(toks, t -> length(t) > 6)) > 0
      |       THEN 1 ELSE 0 END AS INT) AS any_long_tok
      |FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM documents)
      |ORDER BY doc_id ASC NULLS LAST""".stripMargin,
    (s, dir) =>
      Tables.documents(s, dir)
        .select(col("doc_id"), split(col("text"), " ").as("toks"))
        .select(col("doc_id"),
                array_contains(col("toks"), "join").cast("int").as("has_join"),
                array_position(col("toks"), "scan").cast("int").as("idx_scan"),
                size(filter(col("toks"), _ === "a")).cast("int").as("cnt_eq_a"),
                exists(col("toks"), t => length(t) > 6).cast("int")
                  .as("any_long_tok"))
        .orderBy(asc_nulls_last("doc_id")))

  // ---------------------------------------------------------------- d49

  /** Shared type-6/7 interpolation texts over the conditional-min grid
    * values (kv1/kv2 = the k-th and (k+1)-th smallest, h the real-valued
    * position): v = kv1 + (h − k)·(kv2 − kv1), with kv2 COALESCEd to kv1
    * at the upper clamp. All operands are exact int64→double casts and
    * dyadic fractions — exact IEEE, zero ROUND (the d47 argument). */
  private def interpE(h: String, k: String, v1: String, v2: String): String =
    s"CAST($v1 AS DOUBLE) + (($h) - CAST($k AS DOUBLE)) * " +
    s"(CAST(COALESCE($v2, $v1) AS DOUBLE) - CAST($v1 AS DOUBLE))"

  /** d49 — exact quantile INTERPOLATION TYPES (ClickHouse
    * `quantileExactExclusive` (Hyndman-Fan type 6, h = (n+1)p) vs
    * `quantileExactInclusive` (type 7, h = (n−1)p + 1 — what
    * PERCENTILE_CONT computes) [public: CH docs; Hyndman & Fan 1996]) of
    * value cents per event type, both types at p50 and p75 side by side.
    * NO data-sized sort anywhere: the k-th smallest values come off the
    * cents GRID (d28/d35 posture — groupBy the ≤ 49k-cell domain, one
    * cumulative window, then `MIN(CASE WHEN cum ≥ k THEN c END)`
    * conditional minima with per-group k EXPRESSIONS of n), and the
    * interpolation fractions are dyadic at these p — exact in double on
    * both engines (the d47 argument), zero ROUND. The Spark side is an
    * INDEPENDENT DataFrame formulation (upgraded from the shared-text
    * form per the r12 brief, d59's discipline): the k rank indices are
    * inline expressions of the per-row `n` window column — no DISTINCT-n
    * CTE, no join (the portable SQL needs both), one grid aggregate +
    * two window specs + one final hash agg, interpolation applied as
    * exact int64→double column arithmetic. */
  val d49: Q = Q(
    "d49_quantile_types",
    s"""WITH g AS (
      |  SELECT event_type, CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS c,
      |    CAST(COUNT(*) AS BIGINT) AS cnt
      |  FROM events GROUP BY 1, 2),
      |w AS (
      |  SELECT event_type, c,
      |    SUM(cnt) OVER (PARTITION BY event_type ORDER BY c ASC) AS cum,
      |    SUM(cnt) OVER (PARTITION BY event_type) AS n
      |  FROM g),
      |k AS (
      |  SELECT event_type AS et,
      |    CAST(FLOOR(CAST(n - 1 AS DOUBLE) * 0.5) AS BIGINT) AS k50i,
      |    CAST(FLOOR(CAST(n + 1 AS DOUBLE) * 0.5) AS BIGINT) AS k50e,
      |    CAST(FLOOR(CAST(n - 1 AS DOUBLE) * 0.75) AS BIGINT) AS k75i,
      |    CAST(FLOOR(CAST(n + 1 AS DOUBLE) * 0.75) AS BIGINT) AS k75e
      |  FROM (SELECT DISTINCT event_type, n FROM w)),
      |v AS (
      |  SELECT w.event_type, MAX(w.n) AS n,
      |    MIN(CASE WHEN cum >= k50i + 1 THEN c END) AS v50i1,
      |    MIN(CASE WHEN cum >= k50i + 2 THEN c END) AS v50i2,
      |    MIN(CASE WHEN cum >= k50e THEN c END) AS v50e1,
      |    MIN(CASE WHEN cum >= k50e + 1 THEN c END) AS v50e2,
      |    MIN(CASE WHEN cum >= k75i + 1 THEN c END) AS v75i1,
      |    MIN(CASE WHEN cum >= k75i + 2 THEN c END) AS v75i2,
      |    MIN(CASE WHEN cum >= k75e THEN c END) AS v75e1,
      |    MIN(CASE WHEN cum >= k75e + 1 THEN c END) AS v75e2,
      |    MAX(k50i) AS k50i, MAX(k50e) AS k50e,
      |    MAX(k75i) AS k75i, MAX(k75e) AS k75e
      |  FROM w JOIN k ON w.event_type = k.et
      |  GROUP BY 1)
      |SELECT event_type, CAST(n AS BIGINT) AS n_rows,
      |  ${interpE("CAST(n - 1 AS DOUBLE) * 0.5", "k50i", "v50i1", "v50i2")} AS p50_inclusive,
      |  ${interpE("CAST(n + 1 AS DOUBLE) * 0.5", "k50e", "v50e1", "v50e2")} AS p50_exclusive,
      |  ${interpE("CAST(n - 1 AS DOUBLE) * 0.75", "k75i", "v75i1", "v75i2")} AS p75_inclusive,
      |  ${interpE("CAST(n + 1 AS DOUBLE) * 0.75", "k75e", "v75e1", "v75e2")} AS p75_exclusive
      |FROM v ORDER BY event_type ASC NULLS LAST""".stripMargin,
    (s, dir) => {
      val cents = (col("value").cast("decimal(18,2)") * 100).cast("long")
      val g = Tables.events(s, dir)
        .groupBy(col("event_type"), cents.as("c"))
        .agg(count(lit(1)).cast("long").as("cnt"))
      val wCum = Window.partitionBy("event_type").orderBy(asc("c"))
      val wAll = Window.partitionBy("event_type")
      val w = g.select(col("event_type"), col("c"),
                       sum("cnt").over(wCum).as("cum"),
                       sum("cnt").over(wAll).as("n"))
      // type 7 (inclusive): h = (n-1)p, value ranks k+1 / k+2;
      // type 6 (exclusive): h = (n+1)p, value ranks k / k+1 — both read
      // off the same cumulative grid as conditional minima, k inline
      def hI(p: Double): Column = (col("n") - 1).cast("double") * p
      def hE(p: Double): Column = (col("n") + 1).cast("double") * p
      def selAt(rank: Column): Column = min(when(col("cum") >= rank, col("c")))
      def interp(h: Column, v1: Column, v2: Column): Column =
        v1.cast("double") + (h - floor(h).cast("double")) *
          (coalesce(v2, v1).cast("double") - v1.cast("double"))
      val agg = w.groupBy("event_type")
        .agg(max("n").cast("long").as("n_rows"),
             selAt(floor(hI(0.5)).cast("long") + 1).as("v50i1"),
             selAt(floor(hI(0.5)).cast("long") + 2).as("v50i2"),
             selAt(floor(hE(0.5)).cast("long")).as("v50e1"),
             selAt(floor(hE(0.5)).cast("long") + 1).as("v50e2"),
             selAt(floor(hI(0.75)).cast("long") + 1).as("v75i1"),
             selAt(floor(hI(0.75)).cast("long") + 2).as("v75i2"),
             selAt(floor(hE(0.75)).cast("long")).as("v75e1"),
             selAt(floor(hE(0.75)).cast("long") + 1).as("v75e2"))
      def hA(p: Double, excl: Boolean): Column = {
        val n = col("n_rows")
        if (excl) (n + 1).cast("double") * p else (n - 1).cast("double") * p
      }
      agg.select(col("event_type"), col("n_rows"),
          interp(hA(0.5, excl = false), col("v50i1"), col("v50i2")).as("p50_inclusive"),
          interp(hA(0.5, excl = true), col("v50e1"), col("v50e2")).as("p50_exclusive"),
          interp(hA(0.75, excl = false), col("v75i1"), col("v75i2")).as("p75_inclusive"),
          interp(hA(0.75, excl = true), col("v75e1"), col("v75e2")).as("p75_exclusive"))
        .orderBy(asc_nulls_last("event_type"))
    })

  // ---------------------------------------------------------------- e22

  /** e22 — the rest of the time-decayed family (ClickHouse
    * `exponentialTimeDecayedCount`/`Avg`/`Max` analogs [public: CH window-
    * function docs]), completing e21 on the same exact power-of-two day
    * grid: per user at the fixed reference instant,
    *  - decayed COUNT = Σ 2^(30−age) (each event counts as its decay
    *    weight — exact int64 in 2⁻³⁰ units, ≤ 2³⁰ per event),
    *  - decayed MAX = max(cents · 2^(30−age)) (exact int64 — max commutes
    *    with the positive scaling),
    *  - decayed AVG = e21's decayed sum ÷ the decayed count — ONE float
    *    division of bit-identical int64 units in which the 2⁻³⁰ scale
    *    CANCELS, so the quotient is directly in cents.
    * Same one-pass map-combined hash agg as e21; three extra longs of
    * mergeable state. */
  val e22: Q = Q(
    "e22_time_decayed_family",
    """WITH u AS (
      |  SELECT user_id,
      |    CAST(SUM(CAST(POWER(2, 30 - ((epoch_us(TIMESTAMP '2024-01-31 00:00:00') - epoch_us(ts))
      |                                 // 86400000000)) AS BIGINT)) AS BIGINT) AS dcount_units,
      |    CAST(MAX(CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)
      |      * CAST(POWER(2, 30 - ((epoch_us(TIMESTAMP '2024-01-31 00:00:00') - epoch_us(ts))
      |                            // 86400000000)) AS BIGINT)) AS BIGINT) AS dmax_units,
      |    CAST(SUM(CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)
      |      * CAST(POWER(2, 30 - ((epoch_us(TIMESTAMP '2024-01-31 00:00:00') - epoch_us(ts))
      |                            // 86400000000)) AS BIGINT)) AS BIGINT) AS dsum_units,
      |    COUNT(*) AS n
      |  FROM events WHERE ts <= TIMESTAMP '2024-01-31 00:00:00' GROUP BY user_id)
      |SELECT user_id, dcount_units, dmax_units,
      |  CAST(dsum_units AS DOUBLE) / CAST(dcount_units AS DOUBLE) AS davg_cents,
      |  CAST(n AS BIGINT) AS n_events
      |FROM u
      |ORDER BY user_id ASC NULLS LAST""".stripMargin,
    (s, dir) => {
      val tRef = lit("2024-01-31 00:00:00").cast("timestamp")
      val cents = (col("value").cast("decimal(18,2)") * 100).cast("long")
      val age = expr("(unix_micros(TIMESTAMP '2024-01-31 00:00:00') - unix_micros(ts)) div 86400000000")
      val w = pow(lit(2.0), (lit(30) - age).cast("double")).cast("long")
      Tables.events(s, dir)
        .filter(col("ts") <= tRef)
        .groupBy("user_id")
        .agg(sum(w).cast("long").as("dcount_units"),
             max(cents * w).cast("long").as("dmax_units"),
             sum(cents * w).cast("long").as("dsum_units"),
             count(lit(1)).cast("long").as("n_events"))
        .select(col("user_id"), col("dcount_units"), col("dmax_units"),
                (col("dsum_units").cast("double") / col("dcount_units").cast("double"))
                  .as("davg_cents"),
                col("n_events"))
        .orderBy(asc_nulls_last("user_id"))
    })

  // ---------------------------------------------------------------- h38

  /** Power-of-two floor as a generated 17-step CASE ladder (covers the
    * cents domain ≤ 49 003 < 2¹⁶): LOG2-free on purpose — log is
    * transcendental and its last ulp at exact powers of two is not
    * cross-engine-guaranteed, while an integer threshold ladder is. */
  private val exp2E: String =
    (15 to 1 by -1).map(k => s"WHEN x >= ${1L << k} THEN ${1L << k}")
      .mkString("CASE ", " ", " WHEN x >= 1 THEN 1 ELSE 0 END")

  /** CH's fixed duration ladder [public: CH roundDuration docs]. */
  private val durE: String =
    Seq(36000, 18000, 7200, 3600, 1800, 1200, 600, 300, 240, 180, 120, 60,
        30, 10, 1)
      .map(t => s"WHEN s >= $t THEN $t").mkString("CASE ", " ", " ELSE 0 END")

  /** CH's fixed age ladder [public: CH roundAge docs]. */
  private val ageE: String =
    Seq((55, 55), (45, 45), (35, 35), (25, 25), (18, 18), (17, 17), (1, 17))
      .map { case (t, v) => s"WHEN a >= $t THEN $v" }
      .mkString("CASE ", " ", " ELSE 0 END")

  /** h38 — ClickHouse's non-arithmetic ROUNDING LADDERS (`roundToExp2`,
    * `roundDuration`, `roundAge` analogs [public: CH rounding-function
    * docs]): each a fixed threshold ladder, generated ONCE as shared CASE
    * text instantiated into both dialects (the h23/d33 discipline) — all
    * integer comparisons, map-only, zero float, zero transcendental (the
    * obvious `2^FLOOR(LOG2 x)` form is deliberately avoided: LOG2's last
    * ulp at exact powers is not cross-engine-guaranteed). Inputs derive
    * deterministically from the event row (cents; cents as seconds mod
    * a day; a 0–89 pseudo-age). */
  val h38: Q = Q.fromSql(
    "h38_round_ladders",
    s"""SELECT event_id, x AS cents,
      |  CAST($exp2E AS BIGINT) AS exp2_floor,
      |  CAST($durE AS BIGINT) AS dur_bucket,
      |  CAST($ageE AS BIGINT) AS age_bucket
      |FROM (
      |  SELECT event_id,
      |    CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS x,
      |    CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) % 86400 AS s,
      |    CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) % 90 AS a
      |  FROM events)
      |ORDER BY event_id ASC NULLS LAST""".stripMargin)

  // ---------------------------------------------------------------- h39

  /** h39 — `gcd`/`lcm` scalar family (ClickHouse arithmetic functions
    * [public: CH docs]) over order/customer/part key pairs. Spark has NO
    * gcd builtin, so the Spark side runs the NATIVE codegen'd
    * [[graft.functions.GcdExpression]] (`graft_gcd` — a tight Euclid loop
    * in generated Java; a Scala UDF would box every row and break
    * whole-stage codegen) while DuckDB's builtin `gcd` is the oracle —
    * two independent implementations of a pure integer function that
    * must agree bit-for-bit. `lcm` composes as `(a div gcd)·b` in BOTH
    * dialects (divide first: the product overflows only if the true lcm
    * does; keys ≤ ~10⁷ keep lcm ≤ ~10¹⁴ ≪ int64). Map-only. */
  val h39: Q = Q(
    "h39_gcd_lcm",
    """SELECT o_orderkey,
      |  CAST(gcd(o_orderkey, o_custkey) AS BIGINT) AS gcd_oc,
      |  CAST(CASE WHEN gcd(o_orderkey, o_custkey) = 0 THEN 0
      |       ELSE (o_orderkey // gcd(o_orderkey, o_custkey)) * o_custkey
      |       END AS BIGINT) AS lcm_oc,
      |  CAST(gcd(o_orderkey + 1, 360) AS BIGINT) AS gcd_360
      |FROM orders
      |ORDER BY o_orderkey ASC NULLS LAST""".stripMargin,
    (s, dir) =>
      Tables.orders(s, dir)
        .select(col("o_orderkey"),
                expr("graft_gcd(o_orderkey, o_custkey)").as("gcd_oc"),
                expr("""CASE WHEN graft_gcd(o_orderkey, o_custkey) = 0 THEN 0L
                       |ELSE (o_orderkey div graft_gcd(o_orderkey, o_custkey)) * o_custkey
                       |END""".stripMargin.replace("\n", " ")).as("lcm_oc"),
                expr("graft_gcd(o_orderkey + 1, 360)").as("gcd_360"))
        .orderBy(asc_nulls_last("o_orderkey")))

  // ---------------------------------------------------------------- h40

  /** bitmaskToList as generated shared text: 21 bits cover the order-key
    * domain (max 149 999 < 2²⁰ at sf0.1; documented bound — widen the
    * range literal for larger domains). Per-bit extraction is the
    * portable `(x div 2^k) % 2` (no shift operators — h15/h30's
    * power-of-two discipline), trailing comma trimmed. */
  private val maskListE: String =
    (0 to 20).map(k => s"CASE WHEN (x // ${1L << k}) % 2 = 1 THEN '${1L << k},' ELSE '' END")
      .mkString("TRIM(TRAILING ',' FROM CONCAT(", ", ", "))")
  // TRIM(TRAILING … FROM …) is the h32-proven shared spelling; two-arg
  // RTRIM is NOT portable — Spark takes (trimStr, str), DuckDB (str, chars)
  // (caught live by the selfcheck on this query's first draft).

  /** h40 — bit-test family (ClickHouse `bitTest`/`bitTestAll`/
    * `bitTestAny`/`bitmaskToList` analogs [public: CH bit-function
    * docs]) over order keys: k-th-bit extraction via the portable
    * power-of-two div/mod (both engines' integer `div` truncates — the
    * h15 fact), mask tests via the shared `&` operator (proven by h15),
    * and the powers-of-two decomposition as ONE generated 21-term CONCAT
    * ladder (the h38 discipline). All integer/string, map-only, shared
    * text in both dialects (only `//` ↔ `div` differs). */
  val h40: Q = Q(
    "h40_bit_test",
    s"""SELECT o_orderkey,
      |  CAST((x // 8) % 2 AS INT) AS bit3,
      |  CAST(CASE WHEN (x & 11) = 11 THEN 1 ELSE 0 END AS INT) AS test_all_11,
      |  CAST(CASE WHEN (x & 96) <> 0 THEN 1 ELSE 0 END AS INT) AS test_any_96,
      |  $maskListE AS mask_list
      |FROM (SELECT o_orderkey, o_orderkey AS x FROM orders)
      |ORDER BY o_orderkey ASC NULLS LAST""".stripMargin,
    (s, dir) => SqlBody(h40.sql.replace("//", "div"))(s, dir))

  // ---------------------------------------------------------------- d50

  /** d50 — `groupArrayIntersect` analog (ClickHouse 24.x array
    * aggregates [public: CH docs]): per language, the tokens present in
    * EVERY one of that language's 5 longest documents (the intersection
    * of the per-doc token sets; the top-5 restriction keeps the fixture
    * non-degenerate — over ALL docs the 31-token vocab intersects to ∅ in
    * every language, observed before shipping), serialized sorted per
    * rule 6. Relationally the intersection never materializes per row:
    * top-5 filter (row_number ≤ 5 → Spark's WindowGroupLimit pushdown) →
    * distinct (lang, doc, token) → (lang, token) presence count → keep
    * tokens present 5× — two map-combined hash aggs, the d30
    * presence-count discipline; vs CH's in-aggregate set-intersection
    * state, reproduced without per-group set buffers. Empty
    * intersections render '' on both sides (DuckDB's FILTERed list is
    * NULL there — COALESCE'd; a recorded dialect edge). `n_docs` is the
    * ACTUAL per-language top-window size (= LEAST(5, doc count)), and the
    * presence threshold compares against it — a language with fewer than
    * 5 documents still intersects correctly instead of always reporting
    * ∅ against a literal 5 (r8 advice); the language-count-sized doc-count
    * frame joins back by broadcast. */
  val d50: Q = Q(
    "d50_group_array_intersect",
    """WITH top5 AS (
      |  SELECT lang, doc_id, text FROM (
      |    SELECT lang, doc_id, text,
      |      ROW_NUMBER() OVER (PARTITION BY lang
      |        ORDER BY n_chars DESC, doc_id ASC) AS rn
      |    FROM documents) WHERE rn <= 5),
      |nd AS (SELECT lang, CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs
      |       FROM top5 GROUP BY lang),
      |dt AS (
      |  SELECT DISTINCT lang, doc_id, t.tok
      |  FROM (SELECT lang, doc_id, unnest(string_split(text, ' ')) AS tok
      |        FROM top5) t),
      |pc AS (SELECT lang, tok, CAST(COUNT(*) AS BIGINT) AS n_present
      |       FROM dt GROUP BY 1, 2)
      |SELECT lang, n_docs,
      |  CAST(SUM(CASE WHEN n_present = n_docs THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_common,
      |  COALESCE(ARRAY_TO_STRING(
      |    list_sort(list(tok) FILTER (WHERE n_present = n_docs)), '|'), '')
      |    AS common_toks
      |FROM pc JOIN nd USING (lang)
      |GROUP BY lang, n_docs
      |ORDER BY lang ASC NULLS LAST""".stripMargin,
    (s, dir) => {
      val wTop = Window.partitionBy("lang")
        .orderBy(desc("n_chars"), asc("doc_id"))
      val top5 = Tables.documents(s, dir)
        .withColumn("rn", row_number().over(wTop))
        .filter(col("rn") <= 5)
      val nd = top5.groupBy("lang")
        .agg(countDistinct("doc_id").cast("long").as("n_docs"))
      val dt = top5
        .select(col("lang"), col("doc_id"),
                explode(split(col("text"), " ")).as("tok"))
        .distinct()
      dt.groupBy("lang", "tok")
        .agg(count(lit(1)).cast("long").as("n_present"))
        .join(broadcast(nd), Seq("lang"))
        .groupBy("lang", "n_docs")
        .agg(sum(when(col("n_present") === col("n_docs"), 1).otherwise(0))
               .cast("long").as("n_common"),
             coalesce(array_join(array_sort(collect_list(
               when(col("n_present") === col("n_docs"), col("tok")))), "|"),
               lit("")).as("common_toks"))
        .select(col("lang"), col("n_docs"), col("n_common"),
                col("common_toks"))
        .orderBy(asc_nulls_last("lang"))
    })

  // ---------------------------------------------------------------- d51

  /** d51 — `groupArraySorted(N)` analog (ClickHouse 24.x array
    * aggregates [public: CH docs]): per event type the 5 SMALLEST value
    * cents in ascending order, serialized per rule 6 — the by-VALUE
    * bottom-k sibling of d31's by-hash sample. Relationally a rank
    * window (`row_number ≤ 5` → Spark's WindowGroupLimit pushdown: only
    * per-partition top-5 candidates reach the exchange — the bounded
    * mergeable state CH keeps in its aggregate, recovered by the
    * optimizer) + a sorted-struct serialization; ties broken on the
    * (c, event_id) total order so both engines pick identical rows.
    * All integer/string. */
  val d51: Q = Q(
    "d51_group_array_sorted",
    """SELECT event_type,
      |  ARRAY_TO_STRING(list(CAST(c AS VARCHAR) ORDER BY c ASC, event_id ASC), '|')
      |    AS smallest5,
      |  CAST(COUNT(*) AS BIGINT) AS n_kept
      |FROM (
      |  SELECT event_type, c, event_id,
      |    ROW_NUMBER() OVER (PARTITION BY event_type
      |      ORDER BY c ASC, event_id ASC) AS rn
      |  FROM (SELECT event_type, event_id,
      |          CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS c
      |        FROM events))
      |WHERE rn <= 5
      |GROUP BY event_type
      |ORDER BY event_type ASC NULLS LAST""".stripMargin,
    (s, dir) => {
      val w = Window.partitionBy("event_type")
        .orderBy(asc("c"), asc("event_id"))
      Tables.events(s, dir)
        .select(col("event_type"), col("event_id"),
                (col("value").cast("decimal(18,2)") * 100).cast("long").as("c"))
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 5)
        .groupBy("event_type")
        .agg(array_join(transform(
               array_sort(collect_list(struct(col("c"), col("event_id")))),
               p => p.getField("c").cast("string")), "|").as("smallest5"),
             count(lit(1)).cast("long").as("n_kept"))
        .orderBy(asc_nulls_last("event_type"))
    })

  // ---------------------------------------------------------------- e23

  /** e23 — lag/lead with explicit OFFSETS and DEFAULT values (the full
    * ClickHouse `lagInFrame(x, n, default)`/`leadInFrame` signature
    * [public: CH window-function docs]; e03 covers the offset-1
    * no-default form): value cents two rows back and three rows ahead
    * with integer sentinels, and the previous event type with a string
    * default — the "filled edges" form dashboards reach for. Same
    * three-argument spelling in both engines; exact integers/strings,
    * one window pass. */
  val e23: Q = Q.fromSql(
    "e23_lag_lead_defaults",
    """SELECT event_id, user_id,
      |  LAG(c, 2, -1) OVER w AS prev2_c,
      |  LEAD(c, 3, -1) OVER w AS next3_c,
      |  LAG(event_type, 1, 'none') OVER w AS prev_type
      |FROM (SELECT event_id, user_id, event_type, ts,
      |        CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS c
      |      FROM events)
      |WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC, event_id ASC)
      |ORDER BY event_id ASC NULLS LAST""".stripMargin)

  def ops: Vector[Q] =
    Vector(j12, h35, e21, d45, d46, d47, h36, d48, h37, d49, e22, h38, h39,
           h40, d50, d51, e23)
}
