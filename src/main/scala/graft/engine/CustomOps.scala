package graft.engine

import org.apache.spark.sql.{Encoder, Encoders}
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions._

/** SURVEY §2.1 block L — custom execution surface (UDF / UDAF / UDTF).
  *
  * Each Catalyst extension point exercised on oracle-checkable semantics:
  *  - l01: registered scalar Scala UDF (upgrade path: native `Expression`
  *    with doGenCode — see graft.functions.NativeCharge for the codegen'd
  *    equivalent used by the bench).
  *  - l02: `Aggregator[IN,BUF,OUT]` with an exact-decimal buffer, so the
  *    merge order across partitions cannot perturb the result (the same
  *    trick Determinism.dsum plays inside the engine).
  *  - l03: generator (one row → many) via typed Dataset.flatMap.
  */
object CustomOps {

  /** Exact-decimal weighted-average buffer. */
  final case class WBuf(num: java.math.BigDecimal, den: java.math.BigDecimal)

  /** Discount-weighted average price: sum(p·d)/sum(d) with decimal(·,6)
    * summation — bit-stable under any partition merge order. */
  object WeightedAvgAgg extends Aggregator[(Double, Double), WBuf, Double] {
    private def dec6(x: Double) =
      new java.math.BigDecimal(x).setScale(6, java.math.RoundingMode.HALF_UP)
    override def zero: WBuf = WBuf(java.math.BigDecimal.ZERO, java.math.BigDecimal.ZERO)
    override def reduce(b: WBuf, in: (Double, Double)): WBuf =
      WBuf(b.num.add(dec6(in._1 * in._2)), b.den.add(dec6(in._2)))
    override def merge(a: WBuf, b: WBuf): WBuf =
      WBuf(a.num.add(b.num), a.den.add(b.den))
    override def finish(b: WBuf): Double = {
      val q = b.num.doubleValue() / b.den.doubleValue()
      new java.math.BigDecimal(q).setScale(4, java.math.RoundingMode.HALF_UP).doubleValue()
    }
    override def bufferEncoder: Encoder[WBuf] = Encoders.product[WBuf]
    override def outputEncoder: Encoder[Double] = Encoders.scalaDouble
  }

  /** l01 — TPC-H Q1 "charge" via a registered scalar Scala UDF.
    * Rounded at 6 (not 4): the product of three 2-decimal factors is
    * 6-decimal-exact, so rounding at 4 hits true ties where Spark
    * (shortest-repr) and DuckDB (exact binary expansion) disagree; at the
    * data's own precision no tie can occur. */
  val l01: Q = Q(
    "l01_udf_scalar",
    """SELECT l_orderkey, l_linenumber,
      |  ROUND(l_extendedprice * (1 - l_discount) * (1 + l_tax), 6) AS charge
      |FROM lineitem
      |ORDER BY l_orderkey ASC NULLS LAST, l_linenumber ASC NULLS LAST,
      |         charge ASC NULLS LAST""".stripMargin,
    (s, dir) => {
      val charge = udf((p: Double, d: Double, t: Double) => p * (1 - d) * (1 + t))
      Tables.lineitem(s, dir)
        .select(col("l_orderkey"), col("l_linenumber"),
                round(charge(col("l_extendedprice"), col("l_discount"), col("l_tax")), 6)
                  .as("charge"))
        .orderBy(asc_nulls_last("l_orderkey"), asc_nulls_last("l_linenumber"),
                 asc_nulls_last("charge"))
    })

  /** l02 — discount-weighted average price per returnflag via Aggregator/udaf. */
  val l02: Q = Q(
    "l02_udaf_aggregator",
    """SELECT l_returnflag,
      |  ROUND(CAST(SUM(CAST(l_extendedprice * l_discount AS DECIMAL(18,6))) AS DOUBLE)
      |      / CAST(SUM(CAST(l_discount AS DECIMAL(18,6))) AS DOUBLE), 4) AS wavg_price
      |FROM lineitem GROUP BY l_returnflag
      |ORDER BY l_returnflag ASC NULLS LAST""".stripMargin,
    (s, dir) => {
      val wavg = udaf(WeightedAvgAgg)
      Tables.lineitem(s, dir)
        .groupBy("l_returnflag")
        .agg(wavg(col("l_extendedprice"), col("l_discount")).as("wavg_price"))
        .orderBy(asc_nulls_last("l_returnflag"))
    })

  /** l03 — generator: word bigrams, one output row per adjacent token pair. */
  val l03: Q = Q(
    "l03_udtf_generator",
    """SELECT doc_id,
      |  UNNEST(list_transform(generate_series(1, len(t) - 1),
      |    g -> t[g] || ' ' || t[g+1])) AS bigram
      |FROM (SELECT doc_id, STRING_SPLIT(text, ' ') AS t FROM documents)
      |ORDER BY doc_id ASC NULLS LAST, bigram ASC NULLS LAST""".stripMargin,
    (s, dir) => {
      val sp = s
      import sp.implicits._
      Tables.documents(s, dir)
        .select(col("doc_id"), col("text")).as[(Long, String)]
        .flatMap { case (id, text) =>
          val t = text.split(" ", -1)
          (0 until t.length - 1).map(i => (id, t(i) + " " + t(i + 1)))
        }
        .toDF("doc_id", "bigram")
        .orderBy(asc_nulls_last("doc_id"), asc_nulls_last("bigram"))
    })

  /** l04 — typed Dataset.map with tuple Encoders (the Dataset[T] face of
    * the custom-execution surface; object (de)serialization happens per row
    * — keep off hot paths, which is why the engine's own operators stay in
    * the Column DSL). Rounded at 6 for the same 2dp×2dp-exactness reason
    * as l01. */
  val l04: Q = Q(
    "l04_typed_map",
    """SELECT l_orderkey, l_linenumber,
      |  ROUND(l_extendedprice * (1 - l_discount), 6) AS net
      |FROM lineitem
      |ORDER BY l_orderkey ASC NULLS LAST, l_linenumber ASC NULLS LAST,
      |         net ASC NULLS LAST""".stripMargin,
    (s, dir) => {
      val sp = s
      import sp.implicits._
      Tables.lineitem(s, dir)
        .select(col("l_orderkey"), col("l_linenumber"),
                col("l_extendedprice"), col("l_discount"))
        .as[(Long, Int, Double, Double)]
        .map { case (k, ln, p, d) => (k, ln, p * (1 - d)) }
        .toDF("l_orderkey", "l_linenumber", "net")
        .withColumn("net", round(col("net"), 6))
        .orderBy(asc_nulls_last("l_orderkey"), asc_nulls_last("l_linenumber"),
                 asc_nulls_last("net"))
    })

  /** l05 — typed KeyValueGroupedDataset.flatMapGroups: per-user event deltas
    * with an in-group sort (groups are per-user and bounded — ~70 rows at
    * sf0.1; for unbounded groups the window form (e03/e04) is the right
    * tool, this exists to exercise the typed group-iterator surface the
    * streaming state operators build on). */
  val l05: Q = Q(
    "l05_typed_flatmapgroups",
    """SELECT user_id, event_id,
      |  CAST(ROW_NUMBER() OVER w AS INT) AS seq_idx,
      |  value - COALESCE(LAG(value) OVER w, value) AS delta
      |FROM events
      |WINDOW w AS (PARTITION BY user_id ORDER BY event_id ASC NULLS LAST)
      |ORDER BY user_id ASC NULLS LAST, event_id ASC NULLS LAST""".stripMargin,
    (s, dir) => {
      val sp = s
      import sp.implicits._
      Tables.events(s, dir)
        .select(col("user_id"), col("event_id"), col("value"))
        .as[(Long, Long, Double)]
        .groupByKey(_._1)
        .flatMapGroups { (uid: Long, it: Iterator[(Long, Long, Double)]) =>
          val arr = it.toArray.sortBy(_._2)
          arr.indices.iterator.map { i =>
            val (_, eid, v) = arr(i)
            val delta = if (i == 0) 0.0 else v - arr(i - 1)._3
            (uid, eid, i + 1, delta)
          }
        }
        .toDF("user_id", "event_id", "seq_idx", "delta")
        .orderBy(asc_nulls_last("user_id"), asc_nulls_last("event_id"))
    })

  def ops: Vector[Q] = Vector(l01, l02, l03, l04, l05)
}
