package graft.engine

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.analysis.UnresolvedRelation
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, SubqueryAlias, UnresolvedWith}
import org.apache.spark.sql.graftbridge.Bridge

/** One declared Tier-1 query: the SURVEY §2.1 contract unit.
  *
  * @param name   key in `SparkEntry.queries` (e.g. "d02_agg_group_q1")
  * @param sql    equivalent DuckDB SQL over bare table names (the driver
  *               resolves `lineitem` etc. against the same parquet dir)
  * @param fn     the Spark implementation; must produce the SAME column names
  *               and the SAME total row order as `sql` (SURVEY §2 determinism
  *               rules — the driver hash-compares values after sorting columns
  *               by name). It is either bound from `sql` itself
  *               ([[Q.fromSql]]: Spark runs the oracle text) or hand-written.
  *               A body stays hand-written only when Spark cannot run the
  *               text, when the text's physical plan differs from the
  *               body's in shape (its exchanges, joins, windows, sorts and
  *               aggregates) or in the rows an exchange carries, when the
  *               body carries a join hint the text lacks, or when the body
  *               is the declared-query face of library code (an
  *               `api`/`operators` call the oracle gates at fixture scale),
  *               of a Spark expression, of a Scala UDF or of a guard that
  *               runs before the plan. Tier1SmokeSpec's per-query test fails
  *               by name on a hand-written body that Spark would plan
  *               identically from its text.
  */
final case class Q(name: String, sql: String, fn: (SparkSession, String) => DataFrame)

object Q {
  /** A declared query whose Spark body is its oracle SQL, bound by [[SqlBody]]. */
  def fromSql(name: String, sql: String): Q = Q(name, sql, SqlBody(sql))
}

/** The `fn` of a [[Q.fromSql]] query: parses `sql` with the session parser
  * and binds every relation named after one of the [[Tables.names]] to that
  * table under the call's `sfDir` — in the main query, in subquery
  * expressions and in CTE definitions (which `transformUpWithSubqueries`
  * does not reach: they are a field of `UnresolvedWith`, not a child). Each
  * table is loaded once per call; the analyzer de-duplicates repeated
  * references as it does for any self-join. No temp view is registered, so
  * two scale factors can share a session, and any other unknown name fails
  * in analysis (`TABLE_OR_VIEW_NOT_FOUND`).
  */
final case class SqlBody(sql: String) extends ((SparkSession, String) => DataFrame) {
  def apply(s: SparkSession, sfDir: String): DataFrame = {
    val loaded = scala.collection.mutable.Map.empty[String, LogicalPlan]
    def bind(plan: LogicalPlan): LogicalPlan = plan.transformUpWithSubqueries {
      case UnresolvedRelation(Seq(t), _, false) if Tables.names.contains(t.toLowerCase) =>
        val n = t.toLowerCase
        SubqueryAlias(n, loaded.getOrElseUpdate(n,
          Tables.table(s, sfDir, n).queryExecution.analyzed))
      case w: UnresolvedWith =>
        w.copy(cteRelations = w.cteRelations.map { case (n, cte, depth) =>
          (n, bind(cte).asInstanceOf[SubqueryAlias], depth) })
    }
    Bridge.sqlFrame(s, sql)(bind)
  }
}

/** Shared determinism helpers (SURVEY §2 rules 1–4). */
object Determinism {
  import org.apache.spark.sql.Column
  import org.apache.spark.sql.functions._

  /** Exact, order-independent sum of a double expression: route through
    * DECIMAL(18,6) so partial-aggregate merge order cannot perturb low bits
    * (double summation is order-dependent; decimal summation is exact in both
    * Spark and DuckDB). Result cast back to DOUBLE — identical bits on both
    * engines because the exact decimal→binary conversion is correctly rounded.
    */
  def dsum(e: Column): Column = sum(e.cast("decimal(18,6)")).cast("double")

  /** Matching DuckDB SQL fragment for [[dsum]]. */
  def dsumSql(e: String): String =
    s"CAST(SUM(CAST(($e) AS DECIMAL(18,6))) AS DOUBLE)"

  /** Order-independent average: exact decimal sum divided by count, rounded.
    * The division operands are bit-identical across engines, so the double
    * quotient and its rounding are too. */
  def davg(e: Column): Column =
    round(sum(e.cast("decimal(18,6)")).cast("double") / count(e), 4)

  def davgSql(e: String): String =
    s"ROUND(CAST(SUM(CAST(($e) AS DECIMAL(18,6))) AS DOUBLE) / COUNT($e), 4)"
}
