package graft.engine

/** SURVEY §2.1 blocks F (sort/limit/top-k) and G (set operations).
  *
  * f03's `ORDER BY … LIMIT` is planned as `TakeOrderedAndProjectExec` —
  * per-partition top-k then a k-row merge on the driver, never a full sort:
  * the only global-sort-free shape that survives 100 TB.
  */
object SortSetOps {

  /** f01 — multi-key sort, mixed direction, explicit null placement
    * (nulls injected with NULLIF so the placement is observable). */
  val f01: Q = Q.fromSql(
    "f01_sort_multi_nulls",
    """SELECT o_orderkey, NULLIF(o_orderstatus, 'P') AS status_n, o_totalprice
      |FROM orders
      |ORDER BY status_n ASC NULLS FIRST, o_totalprice DESC NULLS LAST,
      |         o_orderkey ASC NULLS LAST
      |LIMIT 500""".stripMargin)

  /** f02 — stable pagination: rows 101–150 of orders sorted by key. */
  val f02: Q = Q.fromSql(
    "f02_limit_offset",
    """SELECT o_orderkey, o_custkey, o_totalprice FROM orders
      |ORDER BY o_orderkey ASC NULLS LAST
      |LIMIT 50 OFFSET 100""".stripMargin)

  /** f03 — global top-20 by revenue (TakeOrderedAndProject, no full sort). */
  val f03: Q = Q.fromSql(
    "f03_topk_global",
    """SELECT l_orderkey, l_linenumber,
      |  ROUND(l_extendedprice * (1 - l_discount), 4) AS revenue
      |FROM lineitem
      |ORDER BY revenue DESC NULLS LAST, l_orderkey ASC NULLS LAST,
      |         l_linenumber ASC NULLS LAST
      |LIMIT 20""".stripMargin)

  /** g01 — bag union (UNION ALL) of urgent and high-priority order keys. */
  val g01: Q = Q.fromSql(
    "g01_union_all",
    """SELECT o_orderkey FROM orders WHERE o_orderpriority = '1-URGENT'
      |UNION ALL
      |SELECT o_orderkey FROM orders WHERE o_orderpriority = '2-HIGH'
      |ORDER BY o_orderkey ASC NULLS LAST""".stripMargin)

  /** g02 — set union (UNION DISTINCT) of the same two branches. */
  val g02: Q = Q.fromSql(
    "g02_union_distinct",
    """SELECT o_orderkey FROM orders WHERE o_orderpriority = '1-URGENT'
      |UNION
      |SELECT o_orderkey FROM orders WHERE o_orderpriority = '2-HIGH'
      |ORDER BY o_orderkey ASC NULLS LAST""".stripMargin)

  /** g03 — INTERSECT: customers with both an 'F' and an 'O' order. */
  val g03: Q = Q.fromSql(
    "g03_intersect",
    """SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'
      |INTERSECT
      |SELECT o_custkey FROM orders WHERE o_orderstatus = 'O'
      |ORDER BY o_custkey ASC NULLS LAST""".stripMargin)

  /** g04 — EXCEPT: customers with an 'O' order but never an 'F' order. */
  val g04: Q = Q.fromSql(
    "g04_except",
    """SELECT o_custkey FROM orders WHERE o_orderstatus = 'O'
      |EXCEPT
      |SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'
      |ORDER BY o_custkey ASC NULLS LAST""".stripMargin)

  def ops: Vector[Q] = Vector(f01, f02, f03, g01, g02, g03, g04)
}
