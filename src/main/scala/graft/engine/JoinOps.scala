package graft.engine

import org.apache.spark.sql.functions._
import graft.engine.Determinism._

/** SURVEY §2.1 block C — joins.
  *
  * Scale posture: equi-joins are left to Catalyst's JoinSelection — dims under
  * `autoBroadcastJoinThreshold` broadcast automatically, and c02 hints
  * `broadcast()` explicitly so the L⋈dims chain never shuffles the fact table.
  * The one genuinely non-equi operator (c09 theta) is not planned as a join
  * at all: `Windows.rankAgainst` turns it into a range-partitioned prefix
  * sum (no nested loop, no fact-side broadcast). Likewise c11/c14/c15's
  * as-of variants are running windows over the union of both event
  * streams — linear per user at any scale.
  */
object JoinOps {

  /** c01 — inner equi-join O⋈C, per-nation order count + total. */
  val c01: Q = Q.fromSql(
    "c01_join_inner",
    s"""SELECT c_nationkey, COUNT(*) AS n_orders,
       |  ${dsumSql("o_totalprice")} AS total_price
       |FROM orders JOIN customer ON o_custkey = c_custkey
       |GROUP BY c_nationkey
       |ORDER BY c_nationkey ASC NULLS LAST""".stripMargin)

  /** c02 — explicit broadcast of the dim chain S⋈N⋈R under the L fact scan. */
  val c02: Q = Q(
    "c02_join_broadcast",
    s"""SELECT r_name, COUNT(*) AS n,
       |  ${dsumSql("l_extendedprice * (1 - l_discount)")} AS revenue
       |FROM lineitem
       |JOIN supplier ON l_suppkey = s_suppkey
       |JOIN nation ON s_nationkey = n_nationkey
       |JOIN region ON n_regionkey = r_regionkey
       |GROUP BY r_name
       |ORDER BY r_name ASC NULLS LAST""".stripMargin,
    (s, dir) =>
      Tables.lineitem(s, dir)
        .join(broadcast(Tables.supplier(s, dir)), col("l_suppkey") === col("s_suppkey"))
        .join(broadcast(Tables.nation(s, dir)), col("s_nationkey") === col("n_nationkey"))
        .join(broadcast(Tables.region(s, dir)), col("n_regionkey") === col("r_regionkey"))
        .groupBy("r_name")
        .agg(count(lit(1)).as("n"),
             dsum(col("l_extendedprice") * (lit(1) - col("l_discount"))).as("revenue"))
        .orderBy(asc_nulls_last("r_name")))

  /** c03 — left outer: every customer with order count including zero. */
  val c03: Q = Q.fromSql(
    "c03_join_left",
    """SELECT c_custkey, COUNT(o_orderkey) AS n_orders
      |FROM customer LEFT JOIN orders ON o_custkey = c_custkey
      |GROUP BY c_custkey
      |ORDER BY c_custkey ASC NULLS LAST""".stripMargin)

  /** c04 — right outer mirror of c03 (orders RIGHT JOIN customer). */
  val c04: Q = Q.fromSql(
    "c04_join_right",
    """SELECT c_custkey, COUNT(o_orderkey) AS n_orders
      |FROM orders RIGHT JOIN customer ON o_custkey = c_custkey
      |GROUP BY c_custkey
      |ORDER BY c_custkey ASC NULLS LAST""".stripMargin)

  /** c05 — full outer join of per-nation supplier vs customer counts;
    * null sides preserved (nations can lack suppliers). */
  val c05: Q = Q.fromSql(
    "c05_join_full",
    """WITH s AS (SELECT s_nationkey AS nk, COUNT(*) AS n_supp FROM supplier GROUP BY 1),
      |     c AS (SELECT c_nationkey AS nk, COUNT(*) AS n_cust FROM customer GROUP BY 1)
      |SELECT COALESCE(s.nk, c.nk) AS nationkey, n_supp, n_cust
      |FROM s FULL JOIN c ON s.nk = c.nk
      |ORDER BY nationkey ASC NULLS LAST""".stripMargin)

  /** c06 — left semi (EXISTS): customers with ≥1 URGENT order. */
  val c06: Q = Q.fromSql(
    "c06_join_semi",
    """SELECT c_custkey, c_name FROM customer
      |WHERE EXISTS (SELECT 1 FROM orders
      |              WHERE o_custkey = c_custkey AND o_orderpriority = '1-URGENT')
      |ORDER BY c_custkey ASC NULLS LAST""".stripMargin)

  /** c07 — left anti (NOT EXISTS): customers with no 'P'-status order. */
  val c07: Q = Q.fromSql(
    "c07_join_anti",
    """SELECT c_custkey, c_name FROM customer
      |WHERE NOT EXISTS (SELECT 1 FROM orders
      |                  WHERE o_custkey = c_custkey AND o_orderstatus = 'P')
      |ORDER BY c_custkey ASC NULLS LAST""".stripMargin)

  /** c08 — cross join: region × distinct part type grid with type counts. */
  val c08: Q = Q.fromSql(
    "c08_join_cross",
    """SELECT r_name, p_type, n_parts
      |FROM region CROSS JOIN
      |  (SELECT p_type, COUNT(*) AS n_parts FROM part GROUP BY 1) t
      |ORDER BY r_name ASC NULLS LAST, p_type ASC NULLS LAST""".stripMargin)

  /** c09 — theta (band) join as order statistics: per-supplier count of
    * customers with a strictly larger account balance. The raw non-equi
    * LEFT JOIN plans as a BroadcastNestedLoopJoin that must build the
    * CUSTOMER side (the only buildable side of a left-outer join) — the
    * fact table, which OOMs executors at 100×. `Windows.rankAgainst`
    * computes the identical counts with a range-partitioned two-pass
    * prefix sum: no nested loop, no broadcast of the fact side
    * (pinned join-shape-free in PlanShapeSpec). */
  val c09: Q = Q(
    "c09_join_theta",
    """SELECT s_suppkey, COUNT(c_custkey) AS n_richer
      |FROM supplier LEFT JOIN customer ON c_acctbal > s_acctbal
      |GROUP BY s_suppkey
      |ORDER BY s_suppkey ASC NULLS LAST""".stripMargin,
    (s, dir) =>
      graft.api.Windows.rankAgainst(
          probes = Tables.supplier(s, dir).select("s_suppkey", "s_acctbal"),
          values = Tables.customer(s, dir).filter(col("c_custkey").isNotNull),
          probeCol = "s_acctbal", valueCol = "c_acctbal", outCol = "n_richer")
        .select("s_suppkey", "n_richer")
        .orderBy(asc_nulls_last("s_suppkey")))

  /** c10 — TPC-H Q5 shape: 6-way join, revenue per nation, one region+year.
    * AQE reorders/re-sizes at runtime; all dims broadcast. */
  val c10: Q = Q.fromSql(
    "c10_join_multiway",
    s"""SELECT n_name, ${dsumSql("l_extendedprice * (1 - l_discount)")} AS revenue
       |FROM customer, orders, lineitem, supplier, nation, region
       |WHERE c_custkey = o_custkey AND l_orderkey = o_orderkey
       |  AND l_suppkey = s_suppkey AND c_nationkey = s_nationkey
       |  AND s_nationkey = n_nationkey AND n_regionkey = r_regionkey
       |  AND r_name = 'ASIA'
       |  AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
       |  AND o_orderdate <  TIMESTAMP '1997-01-01 00:00:00'
       |GROUP BY n_name
       |ORDER BY n_name ASC NULLS LAST""".stripMargin)

  /** c11 — as-of join: for each purchase event, the latest signup ts ≤ it
    * for the same user. Delegates to the generic `Windows.asOf` operator
    * (window over the UNION of both streams — one shuffle on user_id,
    * linear per user; see its scaladoc for the tie/NULL semantics, which
    * match this oracle's correlated subquery exactly). */
  val c11: Q = Q(
    "c11_join_asof",
    """SELECT p.event_id, p.user_id, p.ts,
      |  (SELECT MAX(g.ts) FROM events g
      |   WHERE g.user_id = p.user_id AND g.event_type = 'signup'
      |     AND g.ts <= p.ts) AS signup_ts
      |FROM events p
      |WHERE p.event_type = 'purchase'
      |ORDER BY p.event_id ASC NULLS LAST""".stripMargin,
    (s, dir) => {
      val e = Tables.events(s, dir)
      graft.api.Windows.asOf(
          left = e.filter(col("event_type") === "signup")
            .select("user_id", "ts"),
          right = e.filter(col("event_type") === "purchase")
            .select("event_id", "user_id", "ts"),
          keyCol = "user_id", tsCol = "ts", valueCol = "ts",
          outCol = "signup_ts")
        .orderBy(asc_nulls_last("event_id"))
    })

  /** c14 — forward as-of join: for each purchase, the EARLIEST signup ts at
    * or after it for the same user (`Windows.asOf` mode="forward" — the
    * mirror window of c11's backward mode, same union+running-window plan). */
  val c14: Q = Q(
    "c14_join_asof_fwd",
    """SELECT p.event_id, p.user_id, p.ts,
      |  (SELECT MIN(g.ts) FROM events g
      |   WHERE g.user_id = p.user_id AND g.event_type = 'signup'
      |     AND g.ts >= p.ts) AS next_signup_ts
      |FROM events p
      |WHERE p.event_type = 'purchase'
      |ORDER BY p.event_id ASC NULLS LAST""".stripMargin,
    (s, dir) => {
      val e = Tables.events(s, dir)
      graft.api.Windows.asOf(
          left = e.filter(col("event_type") === "signup")
            .select("user_id", "ts"),
          right = e.filter(col("event_type") === "purchase")
            .select("event_id", "user_id", "ts"),
          keyCol = "user_id", tsCol = "ts", valueCol = "ts",
          outCol = "next_signup_ts", mode = "forward")
        .orderBy(asc_nulls_last("event_id"))
    })

  /** c15 — nearest as-of join: the signup ts with the smallest absolute gap
    * to each purchase, tie → backward (`Windows.asOf` mode="nearest"; the
    * oracle mirrors the tie rule with a gap-then-direction ORDER BY). */
  val c15: Q = Q(
    "c15_join_asof_near",
    """SELECT p.event_id, p.user_id, p.ts,
      |  (SELECT g.ts FROM events g
      |   WHERE g.user_id = p.user_id AND g.event_type = 'signup'
      |   ORDER BY CASE WHEN g.ts <= p.ts THEN p.ts - g.ts
      |                 ELSE g.ts - p.ts END ASC,
      |            CASE WHEN g.ts <= p.ts THEN 0 ELSE 1 END ASC
      |   LIMIT 1) AS near_signup_ts
      |FROM events p
      |WHERE p.event_type = 'purchase'
      |ORDER BY p.event_id ASC NULLS LAST""".stripMargin,
    (s, dir) => {
      val e = Tables.events(s, dir)
      graft.api.Windows.asOf(
          left = e.filter(col("event_type") === "signup")
            .select("user_id", "ts"),
          right = e.filter(col("event_type") === "purchase")
            .select("event_id", "user_id", "ts"),
          keyCol = "user_id", tsCol = "ts", valueCol = "ts",
          outCol = "near_signup_ts", mode = "nearest")
        .orderBy(asc_nulls_last("event_id"))
    })

  /** c16 — bounded as-of join: c11's backward as-of with a 60-minute
    * tolerance (the vendor "max lookback" option) — a signup older than
    * the bound yields NULL. Same union+window plan; the bound is a
    * post-mask on the picked match (exact: the pick is already the
    * nearest, so if it exceeds the bound every candidate does). */
  val c16: Q = Q(
    "c16_join_asof_tol",
    """SELECT p.event_id, p.user_id, p.ts,
      |  (SELECT MAX(g.ts) FROM events g
      |   WHERE g.user_id = p.user_id AND g.event_type = 'signup'
      |     AND g.ts <= p.ts
      |     AND g.ts >= p.ts - INTERVAL 60 MINUTE) AS recent_signup_ts
      |FROM events p
      |WHERE p.event_type = 'purchase'
      |ORDER BY p.event_id ASC NULLS LAST""".stripMargin,
    (s, dir) => {
      val e = Tables.events(s, dir)
      graft.api.Windows.asOf(
          left = e.filter(col("event_type") === "signup")
            .select("user_id", "ts"),
          right = e.filter(col("event_type") === "purchase")
            .select("event_id", "user_id", "ts"),
          keyCol = "user_id", tsCol = "ts", valueCol = "ts",
          outCol = "recent_signup_ts", mode = "backward",
          tolerance = Some(expr("INTERVAL 60 MINUTES")))
        .orderBy(asc_nulls_last("event_id"))
    })

  /** c12 — self-join on a sequential key: consecutive-event pairs per user. */
  val c12: Q = Q.fromSql(
    "c12_join_self_seq",
    """SELECT e1.event_id AS id1, e2.event_id AS id2, e1.user_id,
      |  e1.event_type AS type1, e2.event_type AS type2
      |FROM events e1 JOIN events e2
      |  ON e2.event_id = e1.event_id + 1 AND e1.user_id = e2.user_id
      |ORDER BY id1 ASC NULLS LAST""".stripMargin)

  /** c17 — TPC-H Q3 shape: top-10 open orders by pending revenue for one
    * market segment — the classic filter→3-way-join→agg→top-k composite.
    * Both date filters reach the scans (pushdown), the dims broadcast
    * under AQE, and the final top-10 fuses to TakeOrderedAndProject (no
    * global sort materializes). */
  val c17: Q = Q.fromSql(
    "c17_join_topk_revenue",
    s"""SELECT l_orderkey, ${dsumSql("l_extendedprice * (1 - l_discount)")} AS revenue,
       |  o_orderdate
       |FROM customer, orders, lineitem
       |WHERE c_mktsegment = 'BUILDING'
       |  AND c_custkey = o_custkey AND l_orderkey = o_orderkey
       |  AND o_orderdate < TIMESTAMP '1996-03-15 00:00:00'
       |  AND l_shipdate  > TIMESTAMP '1996-03-15 00:00:00'
       |GROUP BY l_orderkey, o_orderdate
       |ORDER BY revenue DESC NULLS LAST, o_orderdate ASC NULLS LAST,
       |  l_orderkey ASC NULLS LAST
       |LIMIT 10""".stripMargin)

  /** c18 — TPC-H Q10 shape: top-20 customers by returned-item revenue in a
    * quarter. Four-table join where Catalyst broadcasts the 25-row nation
    * side and AQE sizes the customer⋈orders exchange; the final top-20 is
    * a TakeOrderedAndProject (no global sort). The composite proves the
    * join+agg+topk stack composes on a star schema — the 100 TB plan is
    * the same: fact-side filters (quarter, returnflag) reach the scans,
    * dimensions broadcast. */
  val c18: Q = Q(
    "c18_join_q10_returns",
    s"""SELECT c_custkey, ${dsumSql("l_extendedprice * (1 - l_discount)")} AS revenue,
       |  n_name
       |FROM customer, orders, lineitem, nation
       |WHERE c_custkey = o_custkey AND l_orderkey = o_orderkey
       |  AND o_orderdate >= TIMESTAMP '1995-10-01 00:00:00'
       |  AND o_orderdate <  TIMESTAMP '1996-01-01 00:00:00'
       |  AND l_returnflag = 'R' AND c_nationkey = n_nationkey
       |GROUP BY c_custkey, n_name
       |ORDER BY revenue DESC NULLS LAST, c_custkey ASC NULLS LAST
       |LIMIT 20""".stripMargin,
    (s, dir) => {
      val lo = lit("1995-10-01").cast("timestamp")
      val hi = lit("1996-01-01").cast("timestamp")
      Tables.customer(s, dir)
        .join(Tables.orders(s, dir)
                .filter(col("o_orderdate") >= lo && col("o_orderdate") < hi),
              col("c_custkey") === col("o_custkey"))
        .join(Tables.lineitem(s, dir).filter(col("l_returnflag") === "R"),
              col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(Tables.nation(s, dir)),
              col("c_nationkey") === col("n_nationkey"))
        .groupBy("c_custkey", "n_name")
        .agg(dsum(col("l_extendedprice") * (lit(1) - col("l_discount"))).as("revenue"))
        .select("c_custkey", "revenue", "n_name")
        .orderBy(desc_nulls_last("revenue"), asc_nulls_last("c_custkey"))
        .limit(20)
    })

  /** c19 — interval/point range join on the scale-safe binned plan: errors
    * within 2 hours after each purchase, per user. A raw `ON user AND ts
    * BETWEEN s AND e` plans BroadcastNestedLoopJoin (the c09 class of
    * bug); `operators.RangeJoin.binnedPointJoin` quantizes time into 1-hour
    * bins, replicates each interval to its ≤ 3 touched bins, maps each
    * point to its ONE bin, and equi-joins on (user, bin) + exact
    * post-filter — a plain hash exchange, no nested loop (Tier1SmokeSpec's
    * per-query plan check enforces exactly this). LEFT semantics: purchases with no
    * errors count 0 via NULL-skipping count. */
  val c19: Q = Q(
    "c19_join_range_binned",
    """SELECT p.event_id AS purchase_id, COUNT(e.event_id) AS n_errors_2h
      |FROM (SELECT user_id, event_id, ts FROM events
      |      WHERE event_type = 'purchase') p
      |LEFT JOIN (SELECT user_id, event_id, ts FROM events
      |           WHERE event_type = 'error') e
      |  ON p.user_id = e.user_id AND e.ts >= p.ts
      | AND e.ts < p.ts + INTERVAL 2 HOUR
      |GROUP BY p.event_id
      |ORDER BY purchase_id ASC NULLS LAST""".stripMargin,
    (s, dir) => {
      val ev = Tables.events(s, dir)
      val binUs = 3600L * 1000000L
      val iv = ev.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("event_id").as("purchase_id"),
                unix_micros(col("ts")).as("s0"))
        .withColumn("e0", col("s0") + 7200L * 1000000L)
      val pt = ev.filter(col("event_type") === "error")
        .select(col("user_id"), col("event_id").as("error_id"),
                unix_micros(col("ts")).as("t0"))
      graft.operators.RangeJoin
        .binnedPointJoin(iv, pt, "user_id", "s0", "e0", "t0", binUs,
                         idCols = Seq("purchase_id"))
        .groupBy("purchase_id")
        .agg(count(col("error_id")).as("n_errors_2h"))
        .orderBy(asc_nulls_last("purchase_id"))
    })

  def ops: Vector[Q] = Vector(c01, c02, c03, c04, c05, c06, c07, c08, c09, c10,
                              c11, c12, c14, c15, c16, c17, c18, c19)
}
