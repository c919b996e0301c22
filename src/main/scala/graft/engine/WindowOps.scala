package graft.engine

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** SURVEY §2.1 block E — window functions.
  *
  * Every window ORDER BY includes a unique tiebreaker so rank/lag/frame
  * results are total-order deterministic. Partitioned windows (per customer /
  * per user) shuffle by the partition key only — the 100 TB-safe shape.
  * e02/e06 are partition-less by spec (global distribution / value-range
  * frames); at scale those become pre-bucketed range partitions — semantics
  * pinned here at fixture size.
  */
object WindowOps {

  /** e01 — ranking trio per priority, ordered by price desc. */
  val e01: Q = Q.fromSql(
    "e01_win_ranking",
    """SELECT o_orderkey, o_orderpriority,
      |  ROW_NUMBER() OVER w AS rn, RANK() OVER w AS rk, DENSE_RANK() OVER w AS drk
      |FROM orders
      |WINDOW w AS (PARTITION BY o_orderpriority
      |             ORDER BY o_totalprice DESC, o_orderkey ASC)
      |ORDER BY o_orderpriority ASC NULLS LAST, rn ASC NULLS LAST""".stripMargin)

  /** e02 — distribution functions over customer balances. The global window
    * (no PARTITION BY) is the semantics, and WindowExec moves everything to
    * ONE partition — fine for a dimension table, never for a fact table. The
    * 100 TB path for global ntile/percent_rank over facts is two-pass:
    * approx/exact quantile cutpoints first (d10's percentile machinery),
    * then a map-side bucket lookup join — no single-partition shuffle. */
  val e02: Q = Q.fromSql(
    "e02_win_dist",
    """SELECT c_custkey,
      |  NTILE(4) OVER w AS quartile,
      |  ROUND(PERCENT_RANK() OVER w, 4) AS pr,
      |  ROUND(CUME_DIST() OVER w, 4) AS cd
      |FROM customer
      |WINDOW w AS (ORDER BY c_acctbal ASC, c_custkey ASC)
      |ORDER BY c_custkey ASC NULLS LAST""".stripMargin)

  /** e03 — lag/lead neighbors per user with µs gap (epoch_us on both sides). */
  val e03: Q = Q(
    "e03_win_lag_lead",
    """SELECT event_id, user_id, ts,
      |  LAG(ts) OVER w AS prev_ts, LEAD(ts) OVER w AS next_ts,
      |  epoch_us(ts) - epoch_us(LAG(ts) OVER w) AS gap_us
      |FROM events
      |WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC, event_id ASC)
      |ORDER BY event_id ASC NULLS LAST""".stripMargin,
    (s, dir) => {
      val w = Window.partitionBy("user_id").orderBy(asc("ts"), asc("event_id"))
      Tables.events(s, dir)
        .select(col("event_id"), col("user_id"), col("ts"),
                lag(col("ts"), 1).over(w).as("prev_ts"),
                lead(col("ts"), 1).over(w).as("next_ts"),
                (unix_micros(col("ts")) - unix_micros(lag(col("ts"), 1).over(w))).as("gap_us"))
        .orderBy(asc_nulls_last("event_id"))
    })

  /** e04 — running revenue per customer (cumulative frame; DECIMAL-routed so
    * DuckDB's segment-tree summation order can't perturb low bits). */
  val e04: Q = Q.fromSql(
    "e04_win_running",
    """SELECT o_custkey, o_orderkey,
      |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) OVER
      |    (PARTITION BY o_custkey ORDER BY o_orderdate ASC, o_orderkey ASC
      |     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS running
      |FROM orders
      |ORDER BY o_custkey ASC NULLS LAST, o_orderkey ASC NULLS LAST""".stripMargin)

  /** e05 — 4-row moving average of order price per customer. */
  val e05: Q = Q.fromSql(
    "e05_win_sliding_rows",
    """SELECT o_custkey, o_orderkey,
      |  ROUND(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) OVER w4 AS DOUBLE)
      |        / COUNT(*) OVER w4, 4) AS mov_avg
      |FROM orders
      |WINDOW w4 AS (PARTITION BY o_custkey ORDER BY o_orderdate ASC, o_orderkey ASC
      |              ROWS BETWEEN 3 PRECEDING AND CURRENT ROW)
      |ORDER BY o_custkey ASC NULLS LAST, o_orderkey ASC NULLS LAST""".stripMargin)

  /** e06 — value-range frame: orders within ±1000.0 of each order's price
    * (SQL entry point: the DataFrame rangeBetween API takes long bounds). */
  val e06: Q = Q.fromSql(
    "e06_win_range_frame",
    """SELECT o_orderkey, o_totalprice,
      |  COUNT(*) OVER wr AS n_near,
      |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) OVER wr AS DOUBLE) AS sum_near
      |FROM orders
      |WINDOW wr AS (ORDER BY o_totalprice
      |              RANGE BETWEEN 1000.0 PRECEDING AND 1000.0 FOLLOWING)
      |ORDER BY o_orderkey ASC NULLS LAST""".stripMargin)

  /** e07 — first/last value with the full-partition frame. */
  val e07: Q = Q.fromSql(
    "e07_win_first_last",
    """SELECT o_custkey, o_orderkey,
      |  FIRST_VALUE(o_orderkey) OVER wful AS first_ok,
      |  LAST_VALUE(o_orderkey) OVER wful AS last_ok
      |FROM orders
      |WINDOW wful AS (PARTITION BY o_custkey ORDER BY o_orderdate ASC, o_orderkey ASC
      |                ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
      |ORDER BY o_custkey ASC NULLS LAST, o_orderkey ASC NULLS LAST""".stripMargin)

  /** e08 — windowed top-k: top-3 orders per customer by price.
    * The rn ≤ 3 filter is pushed into WindowGroupLimitExec — per-partition
    * top-k before the full window materializes. */
  val e08: Q = Q(
    "e08_win_topk_group",
    """SELECT o_custkey, o_orderkey, o_totalprice, rn FROM (
      |  SELECT o_custkey, o_orderkey, o_totalprice,
      |    ROW_NUMBER() OVER (PARTITION BY o_custkey
      |                       ORDER BY o_totalprice DESC, o_orderkey ASC) AS rn
      |  FROM orders) t
      |WHERE rn <= 3
      |ORDER BY o_custkey ASC NULLS LAST, rn ASC NULLS LAST""".stripMargin,
    (s, dir) =>
      graft.api.Windows.topKPerGroup(
        Tables.orders(s, dir).select("o_custkey", "o_orderkey", "o_totalprice"),
        partitionCols = Seq("o_custkey"),
        orderCols = Seq(desc("o_totalprice"), asc("o_orderkey")), k = 3)
        .orderBy(asc_nulls_last("o_custkey"), asc_nulls_last("rn")))

  /** e09 — nth_value with the full-partition frame: the 2nd-earliest order
    * key per customer (null for single-order customers). */
  val e09: Q = Q.fromSql(
    "e09_win_nth_value",
    """SELECT o_custkey, o_orderkey,
      |  NTH_VALUE(o_orderkey, 2) OVER wful AS second_ok
      |FROM orders
      |WINDOW wful AS (PARTITION BY o_custkey ORDER BY o_orderdate ASC, o_orderkey ASC
      |                ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
      |ORDER BY o_custkey ASC NULLS LAST, o_orderkey ASC NULLS LAST""".stripMargin)

  def ops: Vector[Q] = Vector(e01, e02, e03, e04, e05, e06, e07, e08, e09)
}
