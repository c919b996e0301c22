package graft.engine

import org.apache.spark.sql.functions._
import graft.engine.Determinism._

/** SURVEY §2.1 block D — aggregation. Declarative `groupBy().agg()` only:
  * Catalyst plans two-phase HashAggregate (partial map-side combine + final),
  * which is the 100 TB-correct shape — only group cardinality crosses the
  * shuffle, never raw rows.
  */
object AggOps {

  /** d02 — flagship TPC-H Q1 shape (SURVEY §7 M1). Sums/avgs routed through
    * DECIMAL for cross-engine bit-stability (see Determinism.dsum). */
  val d02: Q = Q.fromSql(
    "d02_agg_group_q1",
    s"""SELECT l_returnflag, l_linestatus,
       |  ${dsumSql("l_quantity")} AS sum_qty,
       |  ${dsumSql("l_extendedprice")} AS sum_base_price,
       |  ${dsumSql("l_extendedprice * (1 - l_discount)")} AS sum_disc_price,
       |  ${dsumSql("l_extendedprice * (1 - l_discount) * (1 + l_tax)")} AS sum_charge,
       |  ${davgSql("l_quantity")} AS avg_qty,
       |  ${davgSql("l_extendedprice")} AS avg_price,
       |  ${davgSql("l_discount")} AS avg_disc,
       |  COUNT(*) AS count_order
       |FROM lineitem
       |WHERE l_shipdate <= TIMESTAMP '2000-09-02 00:00:00'
       |GROUP BY l_returnflag, l_linestatus
       |ORDER BY l_returnflag ASC NULLS LAST, l_linestatus ASC NULLS LAST""".stripMargin)

  /** d01 — single-row global aggregate over lineitem. */
  val d01: Q = Q.fromSql(
    "d01_agg_global",
    s"""SELECT COUNT(*) AS n,
       |  ${dsumSql("l_quantity")} AS sum_qty,
       |  ${davgSql("l_quantity")} AS avg_qty,
       |  MIN(l_quantity) AS min_qty, MAX(l_quantity) AS max_qty,
       |  MIN(l_shipdate) AS min_ship, MAX(l_shipdate) AS max_ship
       |FROM lineitem""".stripMargin)

  /** d03 — distinct customers per order status (Expand + two-phase agg). */
  val d03: Q = Q.fromSql(
    "d03_agg_count_distinct",
    """SELECT o_orderstatus, COUNT(DISTINCT o_custkey) AS n_cust
      |FROM orders GROUP BY o_orderstatus
      |ORDER BY o_orderstatus ASC NULLS LAST""".stripMargin)

  /** d04 — two distinct aggregates in one query. */
  val d04: Q = Q.fromSql(
    "d04_agg_multi_distinct",
    """SELECT o_orderstatus, COUNT(DISTINCT o_custkey) AS n_cust,
      |  COUNT(DISTINCT CAST(o_orderdate AS DATE)) AS n_days
      |FROM orders GROUP BY o_orderstatus
      |ORDER BY o_orderstatus ASC NULLS LAST""".stripMargin)

  /** d05 — ROLLUP hierarchy status→priority with subtotals and grand total. */
  val d05: Q = Q.fromSql(
    "d05_agg_rollup",
    """SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n
      |FROM orders GROUP BY ROLLUP(o_orderstatus, o_orderpriority)
      |ORDER BY o_orderstatus ASC NULLS FIRST, o_orderpriority ASC NULLS FIRST""".stripMargin)

  /** d06 — CUBE: all subtotal combinations of status × priority. */
  val d06: Q = Q.fromSql(
    "d06_agg_cube",
    """SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n
      |FROM orders GROUP BY CUBE(o_orderstatus, o_orderpriority)
      |ORDER BY o_orderstatus ASC NULLS FIRST, o_orderpriority ASC NULLS FIRST""".stripMargin)

  /** d07 — explicit GROUPING SETS with grouping() flags, via the SQL entry
    * point (EP2). grouping() cast to INT on both engines for width parity. */
  val d07: Q = Q.fromSql(
    "d07_agg_grouping_sets",
    """SELECT o_orderstatus, o_orderpriority,
      |  CAST(GROUPING(o_orderstatus) AS INT) AS g_s,
      |  CAST(GROUPING(o_orderpriority) AS INT) AS g_p,
      |  COUNT(*) AS n
      |FROM orders
      |GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
      |ORDER BY g_s ASC NULLS LAST, g_p ASC NULLS LAST,
      |  o_orderstatus ASC NULLS FIRST, o_orderpriority ASC NULLS FIRST""".stripMargin)

  /** d08 — HAVING with a scalar subquery threshold: nations holding more
    * than 1/30 of all customers (scale-invariant — selective at every sf;
    * a fixed constant degenerates to all-pass or empty as data scales). */
  val d08: Q = Q(
    "d08_agg_having",
    """SELECT c_nationkey, COUNT(*) AS n_cust
      |FROM customer GROUP BY c_nationkey
      |HAVING COUNT(*) * 30 > (SELECT COUNT(*) FROM customer)
      |ORDER BY c_nationkey ASC NULLS LAST""".stripMargin,
    (s, dir) => {
      val c = Tables.customer(s, dir)
      val total = c.agg(count(lit(1)).as("total"))
      c.groupBy("c_nationkey")
        .agg(count(lit(1)).as("n_cust"))
        .crossJoin(broadcast(total))
        .filter(col("n_cust") * 30 > col("total"))
        .select("c_nationkey", "n_cust")
        .orderBy(asc_nulls_last("c_nationkey"))
    })

  /** d09 — statistical aggregates of price vs quantity, rounded. */
  val d09: Q = Q.fromSql(
    "d09_agg_stats",
    """SELECT l_returnflag,
      |  ROUND(STDDEV_SAMP(l_extendedprice), 4) AS sd_price,
      |  ROUND(VAR_SAMP(l_quantity), 4) AS var_qty,
      |  ROUND(CORR(l_extendedprice, l_quantity), 4) AS corr_pq,
      |  ROUND(COVAR_SAMP(l_extendedprice, l_quantity), 4) AS covar_pq
      |FROM lineitem GROUP BY l_returnflag
      |ORDER BY l_returnflag ASC NULLS LAST""".stripMargin)

  /** d10 — exact percentiles (interpolating median + p90) per priority. */
  val d10: Q = Q.fromSql(
    "d10_agg_percentile",
    """SELECT o_orderpriority,
      |  ROUND(CAST(PERCENTILE_CONT(0.5) WITHIN GROUP (ORDER BY o_totalprice) AS DOUBLE), 4) AS p50,
      |  ROUND(CAST(PERCENTILE_CONT(0.9) WITHIN GROUP (ORDER BY o_totalprice) AS DOUBLE), 4) AS p90
      |FROM orders GROUP BY o_orderpriority
      |ORDER BY o_orderpriority ASC NULLS LAST""".stripMargin)

  /** d11 — deterministic list aggregation: sorted supplier names per nation
    * (Spark collect_list order is nondeterministic → sort_array; SURVEY §2
    * rule 4). Output serialized to a scalar string: the driver's row-sort
    * can't order array columns, so the list is joined with '|'. */
  val d11: Q = Q(
    "d11_agg_collect_sorted",
    """SELECT s_nationkey,
      |  ARRAY_TO_STRING(LIST_SORT(ARRAY_AGG(s_name)), '|') AS names
      |FROM supplier GROUP BY s_nationkey
      |ORDER BY s_nationkey ASC NULLS LAST""".stripMargin,
    (s, dir) =>
      Tables.supplier(s, dir)
        .groupBy("s_nationkey")
        .agg(array_join(sort_array(collect_list(col("s_name"))), "|").as("names"))
        .orderBy(asc_nulls_last("s_nationkey")))

  /** d12 — manual pivot via conditional aggregation: per-user event-type counts. */
  val d12: Q = Q.fromSql(
    "d12_agg_cond_pivot",
    """SELECT user_id,
      |  CAST(SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS n_click,
      |  CAST(SUM(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS BIGINT) AS n_view,
      |  CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS n_purchase,
      |  CAST(SUM(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END) AS BIGINT) AS n_signup,
      |  CAST(SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT) AS n_error
      |FROM events GROUP BY user_id
      |ORDER BY user_id ASC NULLS LAST""".stripMargin)

  /** d13 — relational pivot operator (RelationalGroupedDataset.pivot with
    * explicit value list → deterministic output columns; d12 is the
    * conditional-aggregation formulation of the same result). */
  val d13: Q = Q(
    "d13_pivot_native",
    """SELECT user_id,
      |  COUNT(*) FILTER (WHERE event_type = 'click') AS click,
      |  COUNT(*) FILTER (WHERE event_type = 'view') AS view,
      |  COUNT(*) FILTER (WHERE event_type = 'purchase') AS purchase,
      |  COUNT(*) FILTER (WHERE event_type = 'signup') AS signup,
      |  COUNT(*) FILTER (WHERE event_type = 'error') AS error
      |FROM events GROUP BY user_id
      |ORDER BY user_id ASC NULLS LAST""".stripMargin,
    (s, dir) =>
      Tables.events(s, dir)
        .groupBy("user_id")
        .pivot("event_type", Seq("click", "view", "purchase", "signup", "error"))
        .agg(count(lit(1)))
        .na.fill(0L)
        .orderBy(asc_nulls_last("user_id")))

  /** d23 — GROUPING()/GROUPING_ID over a rollup: the indicator that
    * disambiguates a subtotal row's NULL from a data NULL (without it,
    * rollup output is ambiguous the moment a grouping column is nullable).
    * Same two-phase HashAggregate shape as d05 — the Expand operator tags
    * each grouping set, so the indicators are free metadata, not an extra
    * pass. */
  val d23: Q = Q.fromSql(
    "d23_grouping_id",
    """SELECT l_returnflag, l_linestatus,
      |  CAST(GROUPING(l_returnflag) AS INT) AS g_rf,
      |  CAST(GROUPING(l_linestatus) AS INT) AS g_ls,
      |  CAST(GROUPING(l_returnflag) * 2 + GROUPING(l_linestatus) AS INT) AS gid,
      |  COUNT(*) AS n
      |FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
      |ORDER BY gid ASC, l_returnflag ASC NULLS LAST, l_linestatus ASC NULLS LAST""".stripMargin)

  /** d24 — the `-If` combinator family beyond d18's countIf (`sumIf` /
    * `avgIf` / `minIf` / `argMaxIf` analogs [public: CH combinator docs]):
    * conditional aggregates in ONE pass over the group — Spark's
    * `agg(f(when(cond, e)))` and SQL's `FILTER (WHERE cond)` are the same
    * partial-aggregate shape, so nothing extra crosses the shuffle. The
    * argMaxIf rides a struct max (price, status) — ties on price resolve
    * lexicographically on status, total-ordered on BOTH engines, where a
    * bare ARG_MAX/max_by tie is engine-arbitrary. Sums/avgs on the
    * Determinism decimal route. */
  val d24: Q = Q(
    "d24_agg_if_combinators",
    s"""SELECT l_returnflag,
       |  CAST(SUM(CAST(CASE WHEN l_discount > 0.05 THEN l_quantity END
       |               AS DECIMAL(18,6))) AS DOUBLE) AS sum_qty_hi_disc,
       |  ROUND(CAST(SUM(CAST(CASE WHEN l_discount > 0.05 THEN l_extendedprice END
       |                      AS DECIMAL(18,6))) AS DOUBLE)
       |        / COUNT(CASE WHEN l_discount > 0.05 THEN l_extendedprice END), 4)
       |    AS avg_price_hi_disc,
       |  MIN(CASE WHEN l_quantity >= 40 THEN l_extendedprice END) AS min_price_bulk,
       |  (MAX(CASE WHEN l_discount > 0.05
       |            THEN {'p': l_extendedprice, 's': l_linestatus} END)).s
       |    AS status_of_max
       |FROM lineitem GROUP BY l_returnflag
       |ORDER BY l_returnflag ASC NULLS LAST""".stripMargin,
    (s, dir) => {
      val hiDisc = col("l_discount") > 0.05
      Tables.lineitem(s, dir)
        .groupBy("l_returnflag")
        .agg(
          Determinism.dsum(when(hiDisc, col("l_quantity"))).as("sum_qty_hi_disc"),
          Determinism.davg(when(hiDisc, col("l_extendedprice"))).as("avg_price_hi_disc"),
          min(when(col("l_quantity") >= 40, col("l_extendedprice"))).as("min_price_bulk"),
          max(when(hiDisc, struct(col("l_extendedprice").as("p"),
                                  col("l_linestatus").as("s"))))
            .getField("s").as("status_of_max"))
        .orderBy(asc_nulls_last("l_returnflag"))
    })

  def ops: Vector[Q] = Vector(d01, d02, d03, d04, d05, d06, d07, d08, d09, d10,
                              d11, d12, d13, d23, d24)
}
