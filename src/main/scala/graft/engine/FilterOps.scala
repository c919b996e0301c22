package graft.engine

/** SURVEY §2.1 block B — projection / filter / predicates.
  *
  * All predicates stay declarative `Column` expressions so Catalyst can fold
  * constants, simplify booleans, and push residuals into the scan.
  */
object FilterOps {

  /** b01 — derived columns: revenue expression, alias, lossless cast.
    * Note: double→int casts are avoided cross-engine (DuckDB rounds, Spark
    * truncates); FLOOR+BIGINT is the portable form. */
  val b01: Q = Q.fromSql(
    "b01_project_expr",
    """SELECT l_orderkey, l_linenumber,
      |  ROUND(l_extendedprice * (1 - l_discount), 4) AS revenue,
      |  CAST(FLOOR(l_quantity) AS BIGINT) AS qty_floor
      |FROM lineitem
      |ORDER BY l_orderkey ASC NULLS LAST, l_linenumber ASC NULLS LAST,
      |         revenue ASC NULLS LAST, qty_floor ASC NULLS LAST""".stripMargin)

  /** b02 — compound predicate: AND/OR/NOT + IN + BETWEEN + LIKE over P⋈L. */
  val b02: Q = Q.fromSql(
    "b02_filter_compound",
    """SELECT l_orderkey, l_linenumber, p_partkey, p_type, l_quantity
      |FROM lineitem JOIN part ON l_partkey = p_partkey
      |WHERE (p_type LIKE 'PROMO%' OR p_type IN ('ECONOMY', 'SMALL'))
      |  AND l_quantity BETWEEN 10 AND 20
      |  AND NOT (l_returnflag = 'A')
      |ORDER BY l_orderkey ASC NULLS LAST, l_linenumber ASC NULLS LAST,
      |         p_partkey ASC NULLS LAST, l_quantity ASC NULLS LAST""".stripMargin)

  /** b03 — 3-valued logic: NULLIF-created nulls, IS [NOT] NULL, null-safe equality. */
  val b03: Q = Q.fromSql(
    "b03_filter_null3vl",
    """SELECT o_orderkey,
      |  NULLIF(o_orderstatus, 'P') AS status_np,
      |  (NULLIF(o_orderstatus, 'P') IS NULL) AS was_p,
      |  (NULLIF(o_orderstatus, 'P') IS NOT DISTINCT FROM 'F') AS nsafe_f
      |FROM orders
      |WHERE NULLIF(o_orderstatus, 'O') IS NOT NULL
      |ORDER BY o_orderkey ASC NULLS LAST""".stripMargin)

  /** b04 — CASE WHEN banding of o_totalprice with per-band counts. */
  val b04: Q = Q.fromSql(
    "b04_case_when",
    s"""SELECT
       |  CASE WHEN o_totalprice < 50000 THEN 'low'
       |       WHEN o_totalprice < 150000 THEN 'mid'
       |       ELSE 'high' END AS band,
       |  COUNT(*) AS n,
       |  ${Determinism.dsumSql("o_totalprice")} AS total
       |FROM orders
       |GROUP BY 1
       |ORDER BY band ASC NULLS LAST""".stripMargin)

  /** b05 — uncorrelated scalar subquery in a predicate: orders priced above
    * 1.5× the mean (threshold via exact decimal sum so both engines filter
    * on the bit-identical constant; a double AVG would drift in low bits and
    * could flip boundary rows). Declared through the SQL entry point (EP2)
    * to exercise Catalyst's scalar-subquery planning. */
  val b05: Q = Q.fromSql(
    "b05_scalar_subquery",
    """SELECT o_orderkey, o_totalprice FROM orders
      |WHERE o_totalprice >
      |  (SELECT CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE)
      |          / COUNT(*) * 1.5 FROM orders)
      |ORDER BY o_orderkey ASC NULLS LAST""".stripMargin)

  def ops: Vector[Q] = Vector(b01, b02, b03, b04, b05)
}
