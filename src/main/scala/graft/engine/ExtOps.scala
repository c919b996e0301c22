package graft.engine

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Round-2 extension block: subquery predicates, remaining aggregate
  * families, IGNORE NULLS windows, datetime/bitwise/string-distance
  * scalars, snapshot diff, gap-fill, and the LSH/IVF scale paths
  * re-expressed as deterministic, DuckDB-checkable queries.
  *
  * Scale notes (the 100 TB posture, SURVEY §4):
  *  - b06–b08 are planned by Catalyst as semi/anti joins — no driver-side
  *    subquery evaluation, and the inner side broadcasts when small.
  *  - k14/k15 are the REAL sub-quadratic near-dup path: per-doc MinHash
  *    signatures (one shuffle), then candidate pairs only where a banded
  *    signature collides inside a `source` block — never the all-pairs join.
  *  - k16 is the IVF assignment step: corpus × small-centroid-set is a
  *    broadcast nested loop, then one shuffle for cluster stats.
  *  - j04 joins a tiny generated dimension (hours) to pre-aggregated
  *    counts — the fact side is reduced before the join, so the join input
  *    is |buckets|, not |events|.
  */
object ExtOps {

  /** b06 — IN (subquery) predicate → left-semi join under Catalyst.
    * Declared through the SQL entry point (EP2) to exercise the
    * subquery-rewrite rules rather than a hand-built semi join (c06). */
  val b06: Q = Q.fromSql(
    "b06_in_subquery",
    """SELECT o_orderkey, o_custkey FROM orders
      |WHERE o_custkey IN (SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING')
      |ORDER BY o_orderkey ASC NULLS LAST""".stripMargin)

  /** b07 — correlated EXISTS → left-semi join with the correlation as the
    * join key plus the extra predicate pushed into the inner scan. */
  val b07: Q = Q.fromSql(
    "b07_exists_correlated",
    """SELECT c_custkey, c_name FROM customer c
      |WHERE EXISTS (SELECT 1 FROM orders o
      |              WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 450000)
      |ORDER BY c_custkey ASC NULLS LAST""".stripMargin)

  /** b08 — correlated NOT EXISTS → left-anti join. */
  val b08: Q = Q.fromSql(
    "b08_not_exists_correlated",
    """SELECT c_custkey FROM customer c
      |WHERE NOT EXISTS (SELECT 1 FROM orders o
      |                  WHERE o.o_custkey = c.c_custkey AND o.o_orderstatus = 'F')
      |ORDER BY c_custkey ASC NULLS LAST""".stripMargin)

  /** b09 — recursive CTE (Spark 4 WITH RECURSIVE, probe-verified): longest
    * run of consecutive event_ids per user. Anchor = run heads (no
    * predecessor), recursive step follows event_id + 1 within the user.
    * Recursion depth = max run length (short on an interleaved stream), so
    * each iteration is one small equi-join.
    *
    * DEPTH GUARD (the r11 verdict item): iterations scale with the DATA
    * (the longest consecutive run), not the query — an adversarial run
    * (one user with a gap-free event_id range) would grind through
    * O(run) join rounds and then die on Spark's own recursion-level
    * limit only AFTER paying for all of them. A one-window
    * gaps-and-islands pre-pass (run id = event_id − row_number, max
    * group count — the same arithmetic the recursion performs, done in
    * one pass) measures the true depth first and REFUSES loudly past
    * [[maxRecursionDepth]], naming the windowed rewrite that computes
    * this query's answer depth-free. The pre-pass collects ONE scalar
    * (the CC convergence-counter posture); guard + recursion together
    * stay two exchanges on the same (user_id) key. */
  val maxRecursionDepth = 64

  /** The b09 pre-pass: measure the longest consecutive-event_id run (=
    * the recursion depth the CTE would need) in one window + one
    * aggregate, and refuse loudly past `bound`. Exposed for the spec's
    * failing-fast and pass-through cases. */
  def requireRunDepth(ev: org.apache.spark.sql.DataFrame,
                      bound: Int = maxRecursionDepth): Long = {
    val w = Window.partitionBy("user_id").orderBy(asc("event_id"))
    val depth = ev
      .select(col("user_id"),
              (col("event_id") - row_number().over(w)).as("run"))
      .groupBy("user_id", "run").count()
      .agg(coalesce(max("count"), lit(0L)))
      .collect().head.getLong(0)
    require(depth <= bound,
      s"b09: longest consecutive-event run is $depth — the recursive CTE " +
        s"would need $depth join rounds (budget $bound); use the " +
        "gaps-and-islands window form (run id = event_id − row_number) " +
        "for unbounded run lengths")
    depth
  }

  val b09: Q = Q(
    "b09_recursive_cte",
    """WITH RECURSIVE runs AS (
      |  SELECT user_id, event_id AS head, event_id AS tail, 1 AS len
      |  FROM events e
      |  WHERE NOT EXISTS (SELECT 1 FROM events p
      |                    WHERE p.user_id = e.user_id AND p.event_id = e.event_id - 1)
      |  UNION ALL
      |  SELECT r.user_id, r.head, n.event_id, r.len + 1
      |  FROM runs r JOIN events n
      |    ON n.user_id = r.user_id AND n.event_id = r.tail + 1)
      |SELECT user_id, CAST(MAX(len) AS INT) AS max_run, COUNT(*) AS n_segments
      |FROM runs GROUP BY user_id
      |ORDER BY user_id ASC NULLS LAST""".stripMargin,
    (s, dir) => {
      requireRunDepth(Tables.events(s, dir))
      SqlBody(b09.sql)(s, dir)
    })

  /** d19 — unpivot/melt: three lineitem measures to long form. Measure
    * labels keep the source column names so Spark's native unpivot needs no
    * relabeling; (okey, lineno) is not unique so the ORDER BY covers all
    * four output columns. */
  val d19: Q = Q(
    "d19_unpivot_melt",
    """SELECT l_orderkey, l_linenumber, measure, value FROM (
      |  SELECT l_orderkey, l_linenumber, 'l_quantity' AS measure, l_quantity AS value FROM lineitem
      |  UNION ALL
      |  SELECT l_orderkey, l_linenumber, 'l_discount', l_discount FROM lineitem
      |  UNION ALL
      |  SELECT l_orderkey, l_linenumber, 'l_tax', l_tax FROM lineitem)
      |ORDER BY l_orderkey ASC NULLS LAST, l_linenumber ASC NULLS LAST,
      |         measure ASC NULLS LAST, value ASC NULLS LAST""".stripMargin,
    (s, dir) =>
      Tables.lineitem(s, dir)
        .unpivot(
          Array(col("l_orderkey"), col("l_linenumber")),
          Array(col("l_quantity"), col("l_discount"), col("l_tax")),
          "measure", "value")
        .orderBy(asc_nulls_last("l_orderkey"), asc_nulls_last("l_linenumber"),
                 asc_nulls_last("measure"), asc_nulls_last("value")))

  /** c13 — LATERAL join: per-nation top-2 suppliers via a correlated
    * ordered-limit subquery (the per-row-subquery face of e08's windowed
    * top-k; Catalyst plans it as a lateral join with the limit pushed into
    * the inner side). */
  val c13: Q = Q.fromSql(
    "c13_lateral_topk",
    """SELECT n.n_nationkey, t.s_suppkey, t.s_acctbal
      |FROM nation n, LATERAL (
      |  SELECT s_suppkey, s_acctbal FROM supplier s
      |  WHERE s.s_nationkey = n.n_nationkey
      |  ORDER BY s_acctbal DESC NULLS LAST, s_suppkey ASC NULLS LAST LIMIT 2) t
      |ORDER BY n_nationkey ASC NULLS LAST, s_suppkey ASC NULLS LAST""".stripMargin)

  /** g05 — INTERSECT ALL: bag semantics (multiplicity = min of the two
    * sides), vs g03's distinct INTERSECT. */
  val g05: Q = Q.fromSql(
    "g05_intersect_all",
    """SELECT o_custkey FROM orders WHERE o_orderstatus = 'O'
      |INTERSECT ALL
      |SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'
      |ORDER BY o_custkey ASC NULLS LAST""".stripMargin)

  /** g06 — EXCEPT ALL: bag difference (multiplicity = left − right, floor
    * 0), vs g04's distinct EXCEPT. */
  val g06: Q = Q.fromSql(
    "g06_except_all",
    """SELECT o_custkey FROM orders WHERE o_orderstatus = 'O'
      |EXCEPT ALL
      |SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'
      |ORDER BY o_custkey ASC NULLS LAST""".stripMargin)

  /** d14 — boolean aggregates (every/any). */
  val d14: Q = Q.fromSql(
    "d14_agg_bool",
    """SELECT s_nationkey, BOOL_AND(s_acctbal > 0) AS all_pos,
      |  BOOL_OR(s_acctbal > 9000) AS any_big
      |FROM supplier GROUP BY s_nationkey
      |ORDER BY s_nationkey ASC NULLS LAST""".stripMargin)

  /** d15 — bitwise aggregates over the group (AND/OR/XOR fold). */
  val d15: Q = Q.fromSql(
    "d15_agg_bitagg",
    """SELECT l_returnflag,
      |  CAST(BIT_AND(l_linenumber) AS INT) AS b_and,
      |  CAST(BIT_OR(l_linenumber) AS INT) AS b_or,
      |  CAST(BIT_XOR(l_linenumber) AS INT) AS b_xor
      |FROM lineitem GROUP BY l_returnflag
      |ORDER BY l_returnflag ASC NULLS LAST""".stripMargin)

  /** d16 — argmin/argmax (max_by/min_by vs DuckDB arg_max/arg_min). The
    * ordering value is the UNIQUE key c_custkey so ties cannot occur
    * (SURVEY §2 rule 1 applied to arg aggregates). */
  val d16: Q = Q(
    "d16_agg_argminmax",
    """SELECT c_mktsegment, ARG_MAX(c_name, c_custkey) AS newest,
      |  ARG_MIN(c_name, c_custkey) AS oldest
      |FROM customer GROUP BY c_mktsegment
      |ORDER BY c_mktsegment ASC NULLS LAST""".stripMargin,
    (s, dir) =>
      Tables.customer(s, dir)
        .groupBy("c_mktsegment")
        .agg(max_by(col("c_name"), col("c_custkey")).as("newest"),
             min_by(col("c_name"), col("c_custkey")).as("oldest"))
        .orderBy(asc_nulls_last("c_mktsegment")))

  /** d17 — exact median (interpolating 0.5-percentile; same recipe as the
    * hash-matched d10: round(…, 4) on the interpolated double). */
  val d17: Q = Q.fromSql(
    "d17_agg_median",
    """SELECT o_orderstatus, ROUND(CAST(MEDIAN(o_totalprice) AS DOUBLE), 4) AS med
      |FROM orders GROUP BY o_orderstatus
      |ORDER BY o_orderstatus ASC NULLS LAST""".stripMargin)

  /** d22 — exact weighted quantiles (`quantileExactWeighted` analog [public:
    * ClickHouse docs]): the q-quantile of l_extendedprice where each row
    * counts l_quantity times — discrete (type-1) semantics, i.e. the smallest
    * value whose cumulative weight reaches q·Σw, exactly what the reference
    * computes from its (value, weight) multiset. Formulated as one pass:
    * peer-inclusive RANGE cumulative weight (both engines' default frame) +
    * a full-partition total, then MIN over the rows past each threshold —
    * no self-join, no collect. Cross-engine exactness: l_quantity is integral
    * (FIXTURES.md), so the running double sums are exact integers and the
    * threshold comparisons cannot diverge on low bits. Scale: the exact
    * algorithm inherently sorts each group (window sort ≈ the reference's
    * multiset materialization); the fixture group key is low-cardinality, so
    * at 100 TB either pre-aggregate identical values per group first
    * (cardinality of distinct prices, not rows, crosses the sort) or accept
    * interpolated semantics and use Spark's hash-agg `percentile(v, q, w)` /
    * the lengthBandApprox sketch pattern. */
  val d22: Q = Q.fromSql(
    "d22_weighted_quantile",
    """SELECT l_returnflag,
      |  ROUND(MIN(CASE WHEN cw >= 0.5 * tw THEN v END), 4) AS wq50,
      |  ROUND(MIN(CASE WHEN cw >= 0.9 * tw THEN v END), 4) AS wq90
      |FROM (
      |  SELECT l_returnflag, l_extendedprice AS v,
      |    SUM(l_quantity) OVER (PARTITION BY l_returnflag
      |      ORDER BY l_extendedprice ASC NULLS LAST) AS cw,
      |    SUM(l_quantity) OVER (PARTITION BY l_returnflag) AS tw
      |  FROM lineitem)
      |GROUP BY l_returnflag
      |ORDER BY l_returnflag ASC NULLS LAST""".stripMargin)

  /** e10 — IGNORE NULLS window navigation: last non-null carried forward
    * (classic gap-fill / last-observation per key). */
  val e10: Q = Q(
    "e10_win_ignore_nulls",
    """SELECT event_id, user_id,
      |  LAST_VALUE(pv IGNORE NULLS) OVER (PARTITION BY user_id
      |    ORDER BY event_id ASC NULLS LAST
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS last_purchase
      |FROM (SELECT event_id, user_id,
      |        CASE WHEN event_type = 'purchase' THEN value END AS pv FROM events)
      |ORDER BY event_id ASC NULLS LAST""".stripMargin,
    (s, dir) => {
      val w = Window.partitionBy("user_id").orderBy(asc_nulls_last("event_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      Tables.events(s, dir)
        .withColumn("pv", when(col("event_type") === "purchase", col("value")))
        .select(col("event_id"), col("user_id"),
                last(col("pv"), ignoreNulls = true).over(w).as("last_purchase"))
        .orderBy(asc_nulls_last("event_id"))
    })

  /** e11 — TIME-interval range frame: per-user trailing-1-hour value sum
    * at every event (the sliding-window aggregate SQL expresses per ROW,
    * where j02's tumbling/sliding buckets aggregate per WINDOW). Both
    * engines order the frame on integer epoch-MICROSECONDS — the fixture
    * carries sub-second timestamps, and a seconds-truncated order column
    * would move exact-boundary rows in and out of the frame differently
    * per engine. Decimal-routed sum (dsum class) keeps the frame total
    * order-independent. */
  val e11: Q = Q(
    "e11_win_time_range",
    """SELECT event_id, user_id,
      |  CAST(SUM(CAST(value AS DECIMAL(18,6))) OVER (
      |    PARTITION BY user_id ORDER BY EPOCH_US(ts) ASC
      |    RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW) AS DOUBLE) AS v1h
      |FROM events
      |ORDER BY event_id ASC NULLS LAST""".stripMargin,
    (s, dir) => {
      val w = Window.partitionBy("user_id").orderBy(asc("__us"))
        .rangeBetween(-3600000000L, 0L)
      Tables.events(s, dir)
        .withColumn("__us", unix_micros(col("ts")))
        .select(col("event_id"), col("user_id"),
                sum(col("value").cast("decimal(18,6)")).over(w)
                  .cast("double").as("v1h"))
        .orderBy(asc_nulls_last("event_id"))
    })

  /** f04 — fixed-width histogram via floor division (DuckDB 1.0 has no
    * width_bucket); bucket math is exact in both engines. */
  val f04: Q = Q.fromSql(
    "f04_histogram",
    s"""SELECT CAST(FLOOR(o_totalprice / 50000) AS BIGINT) AS bucket, COUNT(*) AS n,
       |  ${Determinism.dsumSql("o_totalprice")} AS total
       |FROM orders GROUP BY bucket
       |ORDER BY bucket ASC NULLS LAST""".stripMargin)

  /** h14 — datetime arithmetic: interval add, day diff, end-of-month,
    * day-of-year. */
  val h14: Q = Q(
    "h14_datetime_arith",
    """SELECT o_orderkey,
      |  CAST(o_orderdate + INTERVAL 30 DAY AS TIMESTAMP) AS plus30,
      |  CAST(DATE_DIFF('day', CAST(o_orderdate AS DATE), DATE '2000-01-01') AS INT) AS days_to_y2k,
      |  LAST_DAY(CAST(o_orderdate AS DATE)) AS eom,
      |  CAST(DAYOFYEAR(o_orderdate) AS INT) AS doy
      |FROM orders
      |ORDER BY o_orderkey ASC NULLS LAST""".stripMargin,
    (s, dir) =>
      Tables.orders(s, dir)
        .select(
          col("o_orderkey"),
          (col("o_orderdate") + expr("INTERVAL '30' DAY")).as("plus30"),
          datediff(to_date(lit("2000-01-01")), to_date(col("o_orderdate"))).as("days_to_y2k"),
          last_day(col("o_orderdate")).as("eom"),
          dayofyear(col("o_orderdate")).as("doy"))
        .orderBy(asc_nulls_last("o_orderkey")))

  /** h15 — bitwise scalar ops. (l_orderkey, l_linenumber) is NOT unique
    * (FIXTURES.md) but every output column is a function of those two, so
    * ordering by all columns makes ties identical rows — total order. */
  val h15: Q = Q(
    "h15_bitwise",
    """SELECT l_orderkey, l_linenumber,
      |  CAST(l_orderkey & 255 AS BIGINT) AS b_and,
      |  CAST(l_orderkey | 15 AS BIGINT) AS b_or,
      |  CAST(XOR(l_orderkey, CAST(l_linenumber AS BIGINT)) AS BIGINT) AS b_xor,
      |  CAST(l_orderkey << 2 AS BIGINT) AS shl,
      |  CAST(l_orderkey >> 1 AS BIGINT) AS shr,
      |  CAST(BIT_COUNT(l_orderkey) AS INT) AS nbits
      |FROM lineitem
      |ORDER BY l_orderkey ASC NULLS LAST, l_linenumber ASC NULLS LAST,
      |  b_and ASC NULLS LAST, b_or ASC NULLS LAST, b_xor ASC NULLS LAST,
      |  shl ASC NULLS LAST, shr ASC NULLS LAST, nbits ASC NULLS LAST""".stripMargin,
    (s, dir) =>
      Tables.lineitem(s, dir)
        .select(
          col("l_orderkey"), col("l_linenumber"),
          col("l_orderkey").bitwiseAND(lit(255L)).as("b_and"),
          col("l_orderkey").bitwiseOR(lit(15L)).as("b_or"),
          col("l_orderkey").bitwiseXOR(col("l_linenumber").cast("long")).as("b_xor"),
          shiftleft(col("l_orderkey"), 2).as("shl"),
          shiftright(col("l_orderkey"), 1).as("shr"),
          bit_count(col("l_orderkey")).as("nbits"))
        .orderBy(asc_nulls_last("l_orderkey"), asc_nulls_last("l_linenumber"),
                 asc_nulls_last("b_and"), asc_nulls_last("b_or"),
                 asc_nulls_last("b_xor"), asc_nulls_last("shl"),
                 asc_nulls_last("shr"), asc_nulls_last("nbits")))

  /** h16 — string edit distance (levenshtein), identical in both engines. */
  val h16: Q = Q.fromSql(
    "h16_str_distance",
    """SELECT p_partkey, p_type, CAST(LEVENSHTEIN(p_type, 'STANDARD') AS INT) AS lev
      |FROM part
      |ORDER BY p_partkey ASC NULLS LAST""".stripMargin)

  /** i07 — snapshot diff: two simulated snapshots of `orders` full-outer
    * joined on the key, rows classified added/deleted/changed/same. The
    * 100 TB shape: co-partitioned sort-merge join on the primary key. */
  val i07: Q = Q.fromSql(
    "i07_snapshot_diff",
    """WITH a AS (SELECT o_orderkey, o_totalprice FROM orders WHERE o_orderkey % 3 <> 0),
      |b AS (SELECT o_orderkey,
      |        CASE WHEN o_orderstatus = 'O' THEN o_totalprice * 1.1
      |             ELSE o_totalprice END AS o_totalprice
      |      FROM orders WHERE o_orderkey % 5 <> 1)
      |SELECT CASE WHEN a.o_orderkey IS NULL THEN 'added'
      |            WHEN b.o_orderkey IS NULL THEN 'deleted'
      |            WHEN a.o_totalprice <> b.o_totalprice THEN 'changed'
      |            ELSE 'same' END AS op,
      |       COUNT(*) AS n
      |FROM a FULL OUTER JOIN b ON a.o_orderkey = b.o_orderkey
      |GROUP BY op ORDER BY op ASC NULLS LAST""".stripMargin)

  /** j04 — gap-filled hourly counts: generated hour dimension LEFT JOIN
    * pre-aggregated buckets (fact side reduced before the join; the tiny
    * dimension broadcasts). */
  val j04: Q = Q(
    "j04_gapfill",
    """WITH hours AS (
      |  SELECT UNNEST(GENERATE_SERIES(TIMESTAMP '2024-01-01 00:00:00',
      |                                TIMESTAMP '2024-01-29 23:00:00',
      |                                INTERVAL 1 HOUR)) AS h),
      |c AS (SELECT CAST(DATE_TRUNC('hour', ts) AS TIMESTAMP) AS h, COUNT(*) AS n
      |      FROM events GROUP BY 1)
      |SELECT hours.h AS h, COALESCE(c.n, 0) AS n
      |FROM hours LEFT JOIN c ON hours.h = c.h
      |ORDER BY h ASC NULLS LAST""".stripMargin,
    (s, dir) => {
      val hours = s.range(1).select(
        explode(expr(
          "sequence(TIMESTAMP '2024-01-01 00:00:00', TIMESTAMP '2024-01-29 23:00:00', INTERVAL 1 HOUR)"))
          .as("h"))
      val counts = Tables.events(s, dir)
        .groupBy(date_trunc("hour", col("ts")).as("h"))
        .agg(count(lit(1)).as("n"))
      hours.join(counts, Seq("h"), "left")
        .select(col("h"), coalesce(col("n"), lit(0L)).as("n"))
        .orderBy(asc_nulls_last("h"))
    })

  /** d18 — predicate-counting aggregate (count_if). */
  val d18: Q = Q.fromSql(
    "d18_agg_countif",
    """SELECT event_type, CAST(COUNT_IF(value > 50) AS BIGINT) AS n_big, COUNT(*) AS n
      |FROM events GROUP BY event_type
      |ORDER BY event_type ASC NULLS LAST""".stripMargin)

  /** h17 — second string-function matrix: translate/repeat/reverse/
    * position/left/right + regexp_extract_all (serialized, rule 6). */
  val h17: Q = Q(
    "h17_str_funcs2",
    """SELECT c_custkey,
      |  TRANSLATE(c_name, '#', '-') AS tr,
      |  REPEAT(c_mktsegment, 2) AS rep,
      |  REVERSE(c_name) AS rev,
      |  CAST(STRPOS(c_name, '1') AS INT) AS pos1,
      |  LEFT(c_name, 5) AS l5,
      |  RIGHT(c_name, 3) AS r3,
      |  ARRAY_TO_STRING(REGEXP_EXTRACT_ALL(c_name, '[0-9]+'), ',') AS nums
      |FROM customer
      |ORDER BY c_custkey ASC NULLS LAST""".stripMargin,
    (s, dir) =>
      Tables.customer(s, dir)
        .select(
          col("c_custkey"),
          translate(col("c_name"), "#", "-").as("tr"),
          repeat(col("c_mktsegment"), 2).as("rep"),
          reverse(col("c_name")).as("rev"),
          instr(col("c_name"), "1").as("pos1"),
          expr("left(c_name, 5)").as("l5"),
          expr("right(c_name, 3)").as("r3"),
          array_join(expr("regexp_extract_all(c_name, '[0-9]+', 0)"), ",").as("nums"))
        .orderBy(asc_nulls_last("c_custkey")))

  private def tokens(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .select(col("doc_id"), col("source"),
              explode(split(col("text"), " ")).as("t"))

  private def minhash(band: Int): Column =
    min(md5(concat(lit(s"$band:"), col("t"))))

  /** k14 — deterministic MinHash signatures: 4 independent hash functions
    * (salted md5), min over the token set. One shuffle (groupBy doc);
    * at 100 TB this is the signature stage of MinHashLSH — cost is linear
    * in total tokens, and md5 is identical across engines so the oracle
    * checks exact values, not just shape. */
  val k14: Q = Q(
    "k14_minhash_sig",
    """SELECT doc_id,
      |  MIN(MD5('0:' || t)) AS h0, MIN(MD5('1:' || t)) AS h1,
      |  MIN(MD5('2:' || t)) AS h2, MIN(MD5('3:' || t)) AS h3
      |FROM (SELECT doc_id, UNNEST(STRING_SPLIT(text, ' ')) AS t FROM documents)
      |GROUP BY doc_id ORDER BY doc_id ASC NULLS LAST""".stripMargin,
    (s, dir) =>
      tokens(s, dir)
        .groupBy("doc_id")
        .agg(minhash(0).as("h0"), minhash(1).as("h1"),
             minhash(2).as("h2"), minhash(3).as("h3"))
        .orderBy(asc_nulls_last("doc_id")))

  /** k15 — LSH candidate generation: docs collide when one banded signature
    * (AND of 4 min-hashes) matches inside a `source` block. Equi-join on
    * (band, source) — this is the sub-quadratic path that replaces k02's
    * exact all-pairs join at scale. */
  val k15: Q = Q(
    "k15_lsh_candidates",
    """WITH sig AS (
      |  SELECT doc_id, source,
      |    MIN(MD5('0:' || t)) || MIN(MD5('1:' || t)) ||
      |    MIN(MD5('2:' || t)) || MIN(MD5('3:' || t)) AS band
      |  FROM (SELECT doc_id, source, UNNEST(STRING_SPLIT(text, ' ')) AS t FROM documents)
      |  GROUP BY doc_id, source)
      |SELECT a.doc_id AS id_a, b.doc_id AS id_b
      |FROM sig a JOIN sig b
      |  ON a.band = b.band AND a.source = b.source AND a.doc_id < b.doc_id
      |ORDER BY id_a ASC NULLS LAST, id_b ASC NULLS LAST""".stripMargin,
    (s, dir) => {
      // group-and-emit instead of a self-join: the signature stage (the
      // expensive part — full token explode) runs ONCE, then one shuffle on
      // (band, source) collects each bucket and emits its i<j pairs via
      // HOFs. A self-join would recompute the signatures for both sides
      // (Catalyst can't reuse alias-renumbered subplans). Bucket sizes are
      // LSH-parameter-bounded under normal data (max 134 at sf0.1), and the
      // GroupEmit cap bounds the degenerate case (a mass-duplicated corpus
      // collapsing one band) — see GroupEmit.boundedPairs.
      // binary min-hash components (the r18 Spans.digestsExpr narrowing):
      // the band never reaches the output — it is only the GroupEmit
      // bucket key — and min over unhex(md5) picks the same token as min
      // over the hex string (hex→binary is order-isomorphic), so the
      // concatenated 64-byte binary band collides exactly when the
      // oracle's 128-char hex band does (fixed-width components make
      // concat equality componentwise either way). k14, which OUTPUTS
      // h0..h3, keeps the shared hex-string helper.
      val sig = tokens(s, dir)
        .groupBy("doc_id", "source")
        .agg(concat((0 to 3).map(i =>
          min(unhex(md5(concat(lit(s"$i:"), col("t")))))): _*).as("band"))
      graft.operators.GroupEmit.boundedPairs(
          sig, Seq("band", "source"), struct(col("doc_id")))
        .select(col("x.doc_id").as("id_a"), col("y.doc_id").as("id_b"))
        .orderBy(asc_nulls_last("id_a"), asc_nulls_last("id_b"))
    })

  /** k16 — IVF assignment: every vector assigned to its most-similar
    * centroid (vec_id < 8 as fixed centroids), then per-cluster stats.
    * Corpus × centroids is a broadcast nested loop; ties broken by cid so
    * the argmax is total. This is the coarse-quantizer step of IVF ANN. */
  val k16: Q = Q(
    "k16_ivf_assign",
    s"""WITH v AS (SELECT vec_id,
       |    LIST_TRANSFORM(embedding, x -> CAST(x AS DOUBLE)) AS e FROM embeddings),
       |cent AS (SELECT vec_id AS cid, e AS ce FROM v WHERE vec_id < 8),
       |scored AS (
       |  SELECT v.vec_id, cent.cid,
       |    ROUND(LIST_COSINE_SIMILARITY(v.e, cent.ce), 6) AS sim
       |  FROM v CROSS JOIN cent),
       |assign AS (
       |  SELECT vec_id, cid, sim,
       |    ROW_NUMBER() OVER (PARTITION BY vec_id
       |      ORDER BY sim DESC NULLS LAST, cid ASC NULLS LAST) AS rn
       |  FROM scored)
       |SELECT cid, COUNT(*) AS n_members,
       |  ${Determinism.dsumSql("sim")} AS sum_sim
       |FROM assign WHERE rn = 1
       |GROUP BY cid ORDER BY cid ASC NULLS LAST""".stripMargin,
    (s, dir) => {
      // dot(a/|a|, b/|b|) vs the oracle's dot/(|a||b|) differ at ~1e-16 —
      // absorbed by ROUND 6 (same argument as k07 at ROUND 4). Residual
      // hazard: a raw value straddling a 6-dp rounding boundary could round
      // differently per engine and flip the winner; the cid tie-break makes
      // the argmax total for equal ROUNDED sims, so only a boundary-
      // straddling pair of DISTINCT raw values can diverge (latent, same
      // class as the documented ROUND-4 hazard).
      //
      // Argmax is max(struct(sim, -cid)) in one hash aggregate (partial agg
      // reduces 8 scored rows to 1 per vec_id before the shuffle) — the
      // row_number window this replaced sorted the full scored set.
      val e = Tables.embeddings(s, dir)
      val scored = graft.api.Similarity.scoreAgainstCentroids(
        e, "vec_id", "embedding",
        e.filter(col("vec_id") < 8).select(col("vec_id").as("cid"), col("embedding")),
        "cid", "embedding", barrier = false)
      scored
        .select(col("vec_id"), col("cid"), round(col("cos"), 6).as("sim"))
        .groupBy("vec_id")
        .agg(max(struct(col("sim"), (-col("cid")).as("negcid"), col("cid"))).as("best"))
        .groupBy(col("best.cid").as("cid"))
        .agg(count(lit(1)).as("n_members"),
             Determinism.dsum(col("best.sim")).as("sum_sim"))
        .orderBy(asc_nulls_last("cid"))
    })

  /** h18 — formatting: C-style printf (identical across engines) and date
    * formatting, where the PATTERN LANGUAGES differ (Java `yyyy-MM-dd` vs
    * C `%Y-%m-%d`) but the rendered values must not. */
  val h18: Q = Q(
    "h18_format",
    """SELECT o_orderkey,
      |  PRINTF('%08d|%s', o_orderkey, o_orderstatus) AS tag,
      |  STRFTIME(o_orderdate, '%Y-%m-%d') AS d,
      |  STRFTIME(o_orderdate, '%Y/%m') AS ym
      |FROM orders
      |ORDER BY o_orderkey ASC NULLS LAST""".stripMargin,
    (s, dir) =>
      Tables.orders(s, dir)
        .select(
          col("o_orderkey"),
          format_string("%08d|%s", col("o_orderkey"), col("o_orderstatus")).as("tag"),
          date_format(col("o_orderdate"), "yyyy-MM-dd").as("d"),
          date_format(col("o_orderdate"), "yyyy/MM").as("ym"))
        .orderBy(asc_nulls_last("o_orderkey")))

  /** h19 — binary↔text codecs: base64 and hex over UTF-8 bytes (the
    * wire-format face of the BinaryType multimodal column — payload
    * fingerprints and debug dumps use exactly these). Pure byte-level
    * functions, codegen'd; both engines emit RFC-4648 base64 and
    * uppercase hex over identical UTF-8 bytes. */
  val h19: Q = Q(
    "h19_binary_codecs",
    """SELECT doc_id,
      |  TO_BASE64(ENCODE(SUBSTR(text, 1, 16))) AS b64,
      |  HEX(ENCODE(SUBSTR(text, 1, 8))) AS hx,
      |  OCTET_LENGTH(ENCODE(text)) AS n_bytes
      |FROM documents
      |ORDER BY doc_id ASC NULLS LAST""".stripMargin,
    (s, dir) =>
      Tables.documents(s, dir)
        .select(
          col("doc_id"),
          base64(substring(col("text"), 1, 16).cast("binary")).as("b64"),
          hex(substring(col("text"), 1, 8).cast("binary")).as("hx"),
          length(col("text").cast("binary")).cast("long").as("n_bytes"))
        .orderBy(asc_nulls_last("doc_id")))

  /** h20 — URL function family (ClickHouse's URL functions / Spark
    * `parse_url` [public: both docs]): host / path / single query-param
    * extraction. The URL is assembled from fixture columns then parsed
    * back, so the extraction semantics (not fixture luck) are what's
    * tested; Spark runs the real `parse_url` expression while the oracle
    * decomposes with regexes — agreeing answers prove the family's
    * contract, which is the point of the h-block. Per-row expressions,
    * map-only at any scale. */
  val h20: Q = Q(
    "h20_url_funcs",
    """SELECT doc_id,
      |  regexp_extract(u, 'https?://([^/]+)', 1) AS host,
      |  regexp_extract(u, 'https?://[^/]+([^?#]*)', 1) AS path,
      |  regexp_extract(u, '[?&]page=([^&#]*)', 1) AS page
      |FROM (SELECT doc_id,
      |        'https://' || source || '.example.org/' || lang || '/doc/'
      |          || doc_id || '?page=' || (doc_id % 7) || '&ref=corpus' AS u
      |      FROM documents)
      |ORDER BY doc_id ASC NULLS LAST""".stripMargin,
    (s, dir) => {
      val u = concat(lit("https://"), col("source"), lit(".example.org/"),
                     col("lang"), lit("/doc/"), col("doc_id").cast("string"),
                     lit("?page="), pmod(col("doc_id"), lit(7)).cast("string"),
                     lit("&ref=corpus"))
      Tables.documents(s, dir)
        .select(col("doc_id"), u.as("u"))
        .select(col("doc_id"),
                parse_url(col("u"), lit("HOST")).as("host"),
                parse_url(col("u"), lit("PATH")).as("path"),
                parse_url(col("u"), lit("QUERY"), lit("page")).as("page"))
        .orderBy(asc_nulls_last("doc_id"))
    })

  /** SimHash machinery shared by k18/k19 [public: Charikar'02]: a 16-bit
    * signature where bit i is the sign of Σ_tokens (±1), +1 iff the top bit
    * of the i-th hex digit of md5(token) is set. Pure integer arithmetic on
    * an identical-across-engines digest — no rounding anywhere. */
  private val simhashSqlTerms: String = (0 until 16).map { i =>
    s"(CASE WHEN SUM(CASE WHEN SUBSTR(MD5(t), ${i + 1}, 1) >= '8' THEN 1 ELSE -1 END) >= 0 THEN ${1 << i} ELSE 0 END)"
  }.mkString("\n      + ")

  private def simhashSigCol: Column = (0 until 16).map { i =>
    when(sum(when(substring(md5(col("t")), i + 1, 1) >= "8", 1).otherwise(-1)) >= 0,
         lit(1 << i)).otherwise(lit(0))
  }.reduce(_ + _)

  /** k18 — SimHash signatures per document (over the DISTINCT token set,
    * same semantics as the Tier-2 graft.operators.SimHashDedup). One
    * explode + one shuffle — linear at any scale. */
  val k18: Q = Q(
    "k18_simhash_sig",
    s"""SELECT doc_id, CAST($simhashSqlTerms AS INT) AS sig
       |FROM (SELECT DISTINCT doc_id, t FROM
       |  (SELECT doc_id, UNNEST(STRING_SPLIT(text, ' ')) AS t FROM documents))
       |GROUP BY doc_id ORDER BY doc_id ASC NULLS LAST""".stripMargin,
    (s, dir) =>
      Tables.documents(s, dir)
        .select(col("doc_id"), explode(array_distinct(split(col("text"), " "))).as("t"))
        .groupBy("doc_id")
        .agg(simhashSigCol.cast("int").as("sig"))
        .orderBy(asc_nulls_last("doc_id")))

  /** k19 — SimHash near-dup pairs: Hamming(sig_a, sig_b) ≤ 2 within a
    * `source` block. The oracle states it as a source-blocked self-join;
    * the plan banding-buckets instead: 4 bands of 4 bits on the 16-bit
    * signature — 2 differing bits touch at most 2 bands, so every pair at
    * Hamming ≤ 2 shares at least 2 intact bands and is caught by a
    * single-band collision (recall-complete), then the exact Hamming filter
    * restores precision and a candidate-sized distinct collapses
    * multi-band hits (robust to GroupEmit's star degradation, where a
    * colliding band does not necessarily emit the pair). Bucket
    * key is (source, band#, 4-bit value): bucket size is band-bounded —
    * ~|source|/16 expected — never whole-source, and the GroupEmit cap
    * bounds even an adversarial single-signature corpus. Same shape as the
    * Tier-2 SimHashDedup.candidatePairs (64-bit/15-bit bands). */
  val k19: Q = Q(
    "k19_simhash_neardup",
    s"""WITH sig AS (
       |  SELECT doc_id, source, CAST($simhashSqlTerms AS INT) AS sig
       |  FROM (SELECT DISTINCT doc_id, source, t FROM
       |    (SELECT doc_id, source, UNNEST(STRING_SPLIT(text, ' ')) AS t FROM documents))
       |  GROUP BY doc_id, source)
       |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       |  CAST(BIT_COUNT(XOR(a.sig, b.sig)) AS INT) AS hamming
       |FROM sig a JOIN sig b
       |  ON a.source = b.source AND a.doc_id < b.doc_id
       |WHERE BIT_COUNT(XOR(a.sig, b.sig)) <= 2
       |ORDER BY id_a ASC NULLS LAST, id_b ASC NULLS LAST""".stripMargin,
    (s, dir) =>
      graft.operators.GroupEmit.boundedPairs(
          k19Banded(s, dir), Seq("source", "band", "bkey"), col("p"))
        // multi-band dedup MUST be a distinct(), not the classic
        // first-colliding-band rule: that rule assumes "band b' collides ⇒
        // band b' emitted this pair", which GroupEmit's star degradation
        // breaks — an over-cap bucket emits only (min, member) pairs, so a
        // pair colliding there is NOT emitted there, and suppressing its
        // emission from a later small band would drop it entirely (found
        // in review; the shuffle distinct pays for is candidate-sized).
        .select(col("x.doc_id").as("id_a"), col("y.doc_id").as("id_b"),
                bit_count(col("x.sig").bitwiseXOR(col("y.sig")))
                  .cast("int").as("hamming"))
        .filter(col("hamming") <= 2)
        .distinct()
        .orderBy(asc_nulls_last("id_a"), asc_nulls_last("id_b")))

  /** k19's banding stage: one row per (doc, band) with the 4-bit bucket key
    * and the (doc_id, sig) payload. */
  private def k19Banded(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .select(col("doc_id"), col("source"),
              explode(array_distinct(split(col("text"), " "))).as("t"))
      .groupBy("doc_id", "source")
      .agg(simhashSigCol.cast("int").as("sig"))
      .select(
        col("source"),
        explode(expr("transform(sequence(0, 3), b -> " +
          "named_struct('band', b, 'bkey', shiftright(sig, b * 4) & 15))")).as("bk"),
        struct(col("doc_id"), col("sig")).as("p"))
      .select(col("source"), col("bk.band").as("band"),
              col("bk.bkey").as("bkey"), col("p"))

  /** Bucket-size histogram (source, band, bkey) → n of the REAL k19 banding
    * key — the band-boundedness proof asserted in ScaleOpsSpec. */
  def k19BucketSizes(s: SparkSession, dir: String): DataFrame =
    k19Banded(s, dir)
      .groupBy("source", "band", "bkey")
      .agg(count(lit(1)).as("n"))

  /** Bucket-size histogram (band, source) → n of the REAL k15 LSH bucket
    * key (the same signature stage the declared query feeds to GroupEmit) —
    * lets ScaleOpsSpec assert every fixture bucket sits under the GroupEmit
    * cap, so a cap-induced star degradation (which silently diverges from
    * the exact oracle) would surface as a named assertion. */
  def k15BucketSizes(s: SparkSession, dir: String): DataFrame =
    tokens(s, dir)
      .groupBy("doc_id", "source")
      // the same binary band expression the declared k15 feeds to
      // GroupEmit (kept in sync with the r18 narrowing — bucket sizes are
      // identical either way, but "the REAL bucket key" must stay literal)
      .agg(concat((0 to 3).map(i =>
        min(unhex(md5(concat(lit(s"$i:"), col("t")))))): _*).as("band"))
      .groupBy("band", "source")
      .agg(count(lit(1)).as("n"))

  /** k17 — deterministic train/val/test split by content-hash bucketing:
    * the first md5 hex digit of the key partitions ~13/16, 1/16, 2/16.
    * Hash-based assignment is the pipeline-correct way to split — stable
    * under reruns, re-shards, and corpus growth (a row's split never
    * changes), unlike TABLESAMPLE/rand(). Zero shuffle until the audit agg. */
  val k17: Q = Q(
    "k17_hash_split",
    """SELECT split, COUNT(*) AS n, MIN(doc_id) AS min_id, MAX(doc_id) AS max_id
      |FROM (SELECT doc_id,
      |        CASE WHEN SUBSTR(MD5(CAST(doc_id AS VARCHAR)), 1, 1) <= 'c' THEN 'train'
      |             WHEN SUBSTR(MD5(CAST(doc_id AS VARCHAR)), 1, 1) = 'd' THEN 'val'
      |             ELSE 'test' END AS split
      |      FROM documents)
      |GROUP BY split
      |ORDER BY split ASC NULLS LAST""".stripMargin,
    (s, dir) => {
      val h1 = substring(md5(col("doc_id").cast("string")), 1, 1)
      Tables.documents(s, dir)
        .select(col("doc_id"),
                when(h1 <= "c", "train").when(h1 === "d", "val")
                  .otherwise("test").as("split"))
        .groupBy("split")
        .agg(count(lit(1)).as("n"), min(col("doc_id")).as("min_id"),
             max(col("doc_id")).as("max_id"))
        .orderBy(asc_nulls_last("split"))
    })

  /** e12 — per-key rate of change (ClickHouse `runningDifference` /
    * `nonNegativeDerivative` analog [public: CH docs]): Δvalue / Δseconds
    * against the previous event of the same user in (ts, event_id) order.
    * Dialect notes verified for this query: BOTH engines yield NULL for
    * double division by zero (equal timestamps) and BOTH skip NULLs in
    * GREATEST, so the first row's NULL rate clamps to 0.0 in the
    * non-negative form identically. NO float ROUND on the result — r7's
    * `ROUND(rate, 6)` was the e14-family Spark-decimal-HALF_UP vs
    * DuckDB-binary-round divergence (the one hash-red cell of r7,
    * CORRECTNESS_r07.json) — and the rate is computed as
    * `Δvalue * 1e6 / Δmicros` in BOTH dialects with Δmicros the EXACT
    * integer timestamp delta: one double subtract, one multiply by the
    * same constant, one divide by the same exactly-converted int64 —
    * bit-identical by construction. (The obvious `Δvalue / EPOCH(Δts)`
    * form is NOT: DuckDB's interval EPOCH division sequences the ops
    * differently and diverges by 1 ulp — observed live at row 95 of the
    * sf0.01 sweep, 0x1.03d16989c8b08p-15 vs …07p-15.) GREATEST(x, 0.0)
    * is exact; no -0.0 can arise (a−a = +0.0 in IEEE RN mode). */
  val e12: Q = Q(
    "e12_running_derivative",
    """SELECT user_id, event_id,
      |  (value - LAG(value) OVER w) * 1000000.0
      |    / NULLIF(CAST(epoch_us(ts) - LAG(epoch_us(ts)) OVER w AS DOUBLE), 0.0) AS rate,
      |  GREATEST((value - LAG(value) OVER w) * 1000000.0
      |    / NULLIF(CAST(epoch_us(ts) - LAG(epoch_us(ts)) OVER w AS DOUBLE), 0.0), 0.0) AS nn_rate
      |FROM events
      |WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC, event_id ASC)
      |ORDER BY event_id ASC NULLS LAST""".stripMargin,
    (s, dir) => {
      val w = Window.partitionBy("user_id").orderBy(asc("ts"), asc("event_id"))
      val dmicros = (unix_micros(col("ts")) - lag(unix_micros(col("ts")), 1).over(w))
        .cast("double")
      val rate = (col("value") - lag(col("value"), 1).over(w)) * lit(1000000.0) /
        nullif(dmicros, lit(0.0))
      Tables.events(s, dir)
        .select(col("user_id"), col("event_id"), col("ts"), col("value"))
        .select(col("user_id"), col("event_id"),
                rate.as("rate"),
                greatest(rate, lit(0.0)).as("nn_rate"))
        .orderBy(asc_nulls_last("event_id"))
    })

  /** e14 — linear gap interpolation over a dense time grid (the `WITH FILL
    * … INTERPOLATE` analog [public: CH ORDER BY WITH FILL docs]; j04 is the
    * step-fill form): hourly averages of high-value events (155 of 696
    * hours present at sf0.01), missing hours linearly interpolated between
    * the surrounding known points, NULL outside the known span. The
    * carried (time, value) structs ride LAST/FIRST IGNORE NULLS windows in
    * both directions — one pass, no self-join, no grid × knowns product.
    * Determinism: knowns go through the davg decimal route FIRST, so the
    * interpolation inputs are bit-identical cross-engine — and the final
    * rounding is INTEGER-EXACT, not a float ROUND: interpolated midpoints
    * systematically land on exact .00005 halves (¼ of 2-hour-gap midpoints
    * do), where Spark's decimal-exact HALF_UP and DuckDB's binary-scaled
    * round disagree (observed live: 249.8912 vs 249.8913). Instead the
    * 1e-4-unit numerator pv4·(n−k) + nv4·k is computed as an exact
    * integer and half-up rounded as (2·num + n) DIV (2·n) — pure integer
    * ops, bit-identical by construction; only the final /10000.0 touches
    * floats (same integer, same constant, same quotient). The global
    * (unpartitioned) window is bounded by the GRID (696 rows), never the
    * events; at 100 TB the grid partitions per series key like every fill
    * operator here. */
  val e14: Q = Q(
    "e14_gapfill_interpolate",
    s"""WITH hours AS (
       |  SELECT UNNEST(GENERATE_SERIES(TIMESTAMP '2024-01-01 00:00:00',
       |                                TIMESTAMP '2024-01-29 23:00:00',
       |                                INTERVAL 1 HOUR)) AS h),
       |c AS (SELECT CAST(DATE_TRUNC('hour', ts) AS TIMESTAMP) AS h,
       |        ${Determinism.davgSql("value")} AS v
       |      FROM events WHERE value > 200 GROUP BY 1),
       |g AS (SELECT hours.h AS h, epoch_us(hours.h) / 3600000000 AS i, c.v AS v
       |      FROM hours LEFT JOIN c ON hours.h = c.h),
       |w AS (SELECT h, i, v,
       |    LAST_VALUE(CASE WHEN v IS NOT NULL THEN {'i': i, 'v': v} END IGNORE NULLS)
       |      OVER (ORDER BY i ASC ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pk,
       |    FIRST_VALUE(CASE WHEN v IS NOT NULL THEN {'i': i, 'v': v} END IGNORE NULLS)
       |      OVER (ORDER BY i ASC ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nk
       |  FROM g)
       |SELECT h,
       |  CASE WHEN v IS NOT NULL THEN v
       |       WHEN pk IS NOT NULL AND nk IS NOT NULL AND nk.i > pk.i THEN
       |         ((2 * (CAST(ROUND(pk.v * 10000, 0) AS BIGINT) * (n - k)
       |                + CAST(ROUND(nk.v * 10000, 0) AS BIGINT) * k) + n)
       |          // (2 * n)) / 10000.0
       |  END AS filled,
       |  CAST(v IS NOT NULL AS INT) AS known
       |FROM (SELECT h, v, pk, nk,
       |        CAST(nk.i - pk.i AS BIGINT) AS n,
       |        CAST(i - pk.i AS BIGINT) AS k
       |      FROM w)
       |ORDER BY h ASC NULLS LAST""".stripMargin,
    (s, dir) => {
      val hours = s.range(1).select(
        explode(expr(
          "sequence(TIMESTAMP '2024-01-01 00:00:00', TIMESTAMP '2024-01-29 23:00:00', INTERVAL 1 HOUR)"))
          .as("h"))
      val knowns = Tables.events(s, dir)
        .filter(col("value") > 200)
        .groupBy(date_trunc("hour", col("ts")).as("h"))
        .agg(Determinism.davg(col("value")).as("v"))
      val grid = hours.join(knowns, Seq("h"), "left")
        .withColumn("i", (unix_micros(col("h")) / 3600000000L).cast("long"))
      val carry = when(col("v").isNotNull,
                       struct(col("i").as("i"), col("v").as("v")))
      val back = Window.orderBy(asc("i"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val fwd = Window.orderBy(asc("i"))
        .rowsBetween(Window.currentRow, Window.unboundedFollowing)
      val pv4 = round(col("pk.v") * 10000, 0).cast("long")
      val nv4 = round(col("nk.v") * 10000, 0).cast("long")
      val n   = (col("nk.i") - col("pk.i")).cast("long")
      val k   = (col("i") - col("pk.i")).cast("long")
      grid
        .withColumn("pk", last(carry, ignoreNulls = true).over(back))
        .withColumn("nk", first(carry, ignoreNulls = true).over(fwd))
        .withColumn("__num2", (pv4 * (n - k) + nv4 * k) * 2 + n)
        .withColumn("__den2", n * 2)
        .select(col("h"),
                when(col("v").isNotNull, col("v"))
                  .when(col("pk").isNotNull && col("nk").isNotNull &&
                          col("nk.i") > col("pk.i"),
                        expr("(__num2 DIV __den2) / 10000.0"))
                  .as("filled"),
                col("v").isNotNull.cast("int").as("known"))
        .orderBy(asc_nulls_last("h"))
    })

  /** h21 — array-transform family (`arrayCumSum` / `arrayDifference` analogs
    * [public: CH docs]): per-row prefix sums and adjacent deltas of the
    * embedding vector, first delta 0 (CH convention). The Spark side is
    * PURE per-row array HOFs — `aggregate` folds the prefix sums
    * left-to-right, two-arg `transform` indexes the previous element — so
    * the plan is a map-only project over the scan: no explode, no shuffle,
    * nothing but the row's own 64 floats touched (the 100 TB shape). Only
    * the oracle explodes (DuckDB has no list prefix-scan). ANSI-safe: every
    * `element_at` is guarded by a lazily-evaluated conditional. Float32 →
    * DOUBLE before math on both engines (FIXTURES gotcha); ROUND 4 absorbs
    * fold-order ulps. */
  val h21: Q = Q(
    "h21_arr_scan_funcs",
    """SELECT vec_id,
      |  ARRAY_TO_STRING(list(CAST(ROUND(cs * 10000, 0) AS BIGINT) ORDER BY i), '|')
      |    AS cum_sum,
      |  ARRAY_TO_STRING(list(CAST(ROUND(df * 10000, 0) AS BIGINT) ORDER BY i), '|')
      |    AS adj_diff
      |FROM (
      |  SELECT vec_id, i,
      |    SUM(x) OVER (PARTITION BY vec_id ORDER BY i) AS cs,
      |    CASE WHEN i = 1 THEN 0.0
      |         ELSE x - LAG(x) OVER (PARTITION BY vec_id ORDER BY i) END AS df
      |  FROM (
      |    SELECT vec_id, t.i AS i, CAST(embedding[t.i] AS DOUBLE) AS x
      |    FROM embeddings, unnest(generate_series(1, len(embedding))) AS t(i)))
      |GROUP BY vec_id
      |ORDER BY vec_id ASC NULLS LAST""".stripMargin,
    (s, dir) => {
      val arrD = transform(col("embedding"), _.cast("double"))
      val cums = aggregate(
        arrD,
        typedlit(Seq.empty[Double]),
        (acc, x) => concat(acc, array(
          when(size(acc) === 0, x)
            .otherwise(element_at(acc, size(acc)) + x))))
      // render in exact 1e-4 integer units: double→string formatting is
      // dialect-divergent, integer strings are not
      def units(c: Column): Column = round(c * 10000, 0).cast("long")
      Tables.embeddings(s, dir)
        .select(col("vec_id"),
                array_join(transform(cums, units(_)), "|").as("cum_sum"),
                array_join(transform(arrD, (x, i) =>
                  units(when(i === 0, lit(0.0))
                          .otherwise(x - element_at(arrD, i)))), "|").as("adj_diff"))
        .orderBy(asc_nulls_last("vec_id"))
    })

  /** h22 — `arrayEnumerateUniq` analog [public: CH docs]: per-token
    * occurrence numbering over the document's 20-token prefix (the k-th
    * time a token repeats gets k) — the primitive CH uses for
    * first-occurrence filtering and per-element dedup inside arrays.
    * Spark side is map-only array HOFs (indexed `transform` + `filter`
    * over the row's own prefix — O(prefix²) per row on a bounded prefix,
    * no explode, no shuffle); only the oracle explodes to a window. Token
    * strings ride along so the numbering is self-evident in the output. */
  val h22: Q = Q(
    "h22_arr_enumerate",
    """SELECT doc_id,
      |  ARRAY_TO_STRING(list(occ ORDER BY i), '|') AS occ_idx,
      |  ARRAY_TO_STRING(list(tok ORDER BY i), '|') AS toks
      |FROM (
      |  SELECT doc_id, i, tok,
      |    COUNT(*) OVER (PARTITION BY doc_id, tok ORDER BY i) AS occ
      |  FROM (
      |    SELECT doc_id, t.i AS i, toks[t.i] AS tok
      |    FROM (SELECT doc_id, STRING_SPLIT(text, ' ') AS toks FROM documents),
      |         unnest(generate_series(1, LEAST(len(toks), 20))) AS t(i)))
      |GROUP BY doc_id
      |ORDER BY doc_id ASC NULLS LAST""".stripMargin,
    (s, dir) => {
      val pfx = slice(split(col("text"), " "), 1, 20)
      Tables.documents(s, dir)
        .select(col("doc_id"), pfx.as("toks20"))
        .select(col("doc_id"),
                array_join(transform(col("toks20"), (t, i) =>
                  size(filter(slice(col("toks20"), lit(1), i + 1), x => x === t))),
                  "|").as("occ_idx"),
                array_join(col("toks20"), "|").as("toks"))
        .orderBy(asc_nulls_last("doc_id"))
    })

  /** e13 — union-of-intervals length per key (ClickHouse `intervalLengthSum`
    * analog [public: CH docs]): each event covers [ts, ts + value minutes);
    * overlapping coverage counts once. Classic sweep as ONE window pass:
    * sort by start, carry the running max of prior ends, and each row
    * contributes max(0, end − max(start, prev_max_end)) — no interval
    * self-join, no explode-to-seconds blowup; scales as any per-key window.
    * Cross-engine exactness: all arithmetic in integral epoch-µs; the
    * double `value` is first rounded to exact integer cents and then
    * integer-multiplied (a direct `CAST(value*6e7 AS BIGINT)` diverges —
    * Spark truncates where DuckDB rounds, off-by-1µs on e.g. 0.03). */
  val e13: Q = Q(
    "e13_interval_union",
    """SELECT user_id,
      |  CAST(SUM(GREATEST(0, e - GREATEST(s, COALESCE(pme, s)))) AS BIGINT)
      |    AS covered_us,
      |  COUNT(*) AS n
      |FROM (
      |  SELECT user_id, s, e,
      |    MAX(e) OVER (PARTITION BY user_id
      |      ORDER BY s ASC NULLS LAST, event_id ASC NULLS LAST
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pme
      |  FROM (SELECT user_id, event_id, epoch_us(ts) AS s,
      |          epoch_us(ts) + CAST(ROUND(value * 100, 0) AS BIGINT) * 600000 AS e
      |        FROM events))
      |GROUP BY user_id
      |ORDER BY user_id ASC NULLS LAST""".stripMargin,
    (s, dir) => {
      val w = Window.partitionBy("user_id")
        .orderBy(asc_nulls_last("s"), asc_nulls_last("event_id"))
        .rowsBetween(Window.unboundedPreceding, -1)
      Tables.events(s, dir)
        .select(col("user_id"), col("event_id"),
                unix_micros(col("ts")).as("s"),
                (unix_micros(col("ts")) +
                 round(col("value") * 100, 0).cast("long") * 600000L).as("e"))
        .withColumn("pme", max(col("e")).over(w))
        .groupBy("user_id")
        .agg(sum(greatest(lit(0L),
               col("e") - greatest(col("s"), coalesce(col("pme"), col("s")))))
               .cast("long").as("covered_us"),
             count(lit(1)).as("n"))
        .orderBy(asc_nulls_last("user_id"))
    })

  def ops: Vector[Q] = Vector(b06, b07, b08, b09, c13, d14, d15, d16, d17,
                              d18, d19, d22, e10, e11, e12, e13, e14, f04, g05, g06,
                              h14, h15, h16, h17, h18, h19, h20, h21, h22, i07,
                              j04, k14,
                              k15, k16, k17, k18, k19)
}
