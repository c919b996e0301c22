package graft

import org.apache.spark.sql.functions._
import graft.engine.ExtOps

/** Value-level checks for the round-2 extension block (ExtOps) on fixture +
  * synthetic data. The cross-engine hash check is selfcheck.py/t2; these pin
  * the semantics that DuckDB can't distinguish (e.g. WHICH rows an LSH
  * candidate set must contain). */
class ExtOpsSpec extends SparkSpec {

  test("e10 carries the last non-null purchase value forward per user") {
    val rows = ExtOps.e10.fn(spark, sf0001)
      .filter(col("user_id") === 0)
      .orderBy("event_id")
      .collect()
    // once a purchase is seen, last_purchase is never null again and only
    // changes on purchase events
    var seen: Option[Double] = None
    val events = graft.engine.Tables.events(spark, sf0001)
      .filter(col("user_id") === 0)
      .select("event_id", "event_type", "value")
      .collect()
      .map(r => r.getLong(0) -> (r.getString(1), r.getDouble(2)))
      .toMap
    rows.foreach { r =>
      val (typ, v) = events(r.getLong(0))
      if (typ == "purchase") seen = Some(v)
      assert(Option(r.get(2)).map(_.asInstanceOf[Double]) == seen,
             s"event ${r.getLong(0)}: expected $seen")
    }
  }

  test("i07 classifies every order exactly once and finds all four classes") {
    val m = ExtOps.i07.fn(spark, sf0001)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(m.keySet == Set("added", "deleted", "changed", "same"))
    val o = graft.engine.Tables.orders(spark, sf0001)
    val nA = o.filter(col("o_orderkey") % 3 =!= 0).count()
    val nB = o.filter(col("o_orderkey") % 5 =!= 1).count()
    val nBoth = o.filter(col("o_orderkey") % 3 =!= 0 && col("o_orderkey") % 5 =!= 1).count()
    assert(m("added") == nB - nBoth)
    assert(m("deleted") == nA - nBoth)
    assert(m("changed") + m("same") == nBoth)
  }

  test("k14/k15: token-set-identical docs collide on every band") {
    val sp = spark
    import sp.implicits._
    val docs = Seq(
      (1L, "alpha beta gamma", "s1"),
      (2L, "gamma beta alpha alpha", "s1"), // same token SET as 1
      (3L, "zeta eta theta", "s1"),
      (4L, "alpha beta gamma", "s2")        // identical but different block
    ).toDF("doc_id", "text", "source")
    docs.createOrReplaceTempView("ext_docs")
    // run the same signature shape as k14 against the synthetic frame
    val sig = docs
      .select(col("doc_id"), col("source"), explode(split(col("text"), " ")).as("t"))
      .groupBy("doc_id", "source")
      .agg(concat(
        min(md5(concat(lit("0:"), col("t")))), min(md5(concat(lit("1:"), col("t")))),
        min(md5(concat(lit("2:"), col("t")))), min(md5(concat(lit("3:"), col("t"))))).as("band"))
    val pairs = sig.as("a").join(sig.as("b"),
        col("a.band") === col("b.band") && col("a.source") === col("b.source") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id"), col("b.doc_id"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs == Set((1L, 2L))) // 4 blocked away by source, 3 disjoint
  }

  test("k16: a vector equal to a centroid assigns to it with sim 1.0") {
    val out = ExtOps.k16.fn(spark, sf0001).collect()
    assert(out.map(_.getLong(0)).toSeq == (0L to 7L), "8 centroids, ordered")
    // every centroid is its own nearest centroid -> contributes sim 1.0;
    // all members sum >= 1.0 and cluster sizes total the corpus
    assert(out.map(_.getLong(1)).sum ==
      graft.engine.Tables.embeddings(spark, sf0001).count())
    out.foreach(r => assert(r.getDouble(2) >= 1.0 - 1e-6))
  }

  test("h15 bitwise values match reference semantics") {
    val r = ExtOps.h15.fn(spark, sf0001)
      .filter(col("l_orderkey") === 7 && col("l_linenumber") === 1)
      .collect().head
    assert(r.getLong(2) == (7L & 255))
    assert(r.getLong(3) == (7L | 15))
    assert(r.getLong(4) == (7L ^ 1L))
    assert(r.getLong(5) == (7L << 2))
    assert(r.getLong(6) == (7L >> 1))
    assert(r.getInt(7) == java.lang.Long.bitCount(7L))
  }

  test("d16 arg aggregates pick the extreme-key rows") {
    val c = graft.engine.Tables.customer(spark, sf0001)
    val expect = c.orderBy(desc("c_custkey")).limit(1)
      .select("c_mktsegment", "c_name").collect().head
    val got = ExtOps.d16.fn(spark, sf0001)
      .filter(col("c_mktsegment") === expect.getString(0)).collect().head
    assert(got.getString(1) == expect.getString(1))
  }

  test("d28 timing grid: exact below 1024, 16ms buckets to 30s, 30s clamp") {
    import spark.implicits._
    val cases = Seq(
      0L -> 0L, 1L -> 1L, 1023L -> 1023L,       // exact region (1 ms)
      1024L -> 1024L, 1039L -> 1024L,           // first 16 ms bucket
      1040L -> 1040L, 29999L -> 29984L,         // grid region boundaries
      30000L -> 30000L, 45000L -> 30000L)       // clamp region
    val got = cases.map(_._1).toDF("cents")
      .select(org.apache.spark.sql.functions.col("cents"),
              graft.engine.Round8dOps.timingGrid.as("b"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    cases.foreach { case (in, want) => assert(got(in) == want, s"grid($in)") }
  }

  test("d28 quantiles sit on grid points and are ordered p50<=p90<=p99") {
    val r = graft.engine.Round8dOps.d28.fn(spark, sf0001).collect()
    assert(r.nonEmpty)
    r.foreach { row =>
      val (p50, p90, p99) = (row.getLong(1), row.getLong(2), row.getLong(3))
      assert(p50 <= p90 && p90 <= p99)
      Seq(p50, p90, p99).foreach { v =>
        assert(v <= 30000L && (v < 1024L || v == 30000L || v % 16 == 0), s"off-grid $v")
      }
    }
  }

  test("d28 scalar gridMs agrees with the Column grid over the full domain sweep") {
    import spark.implicits._
    val probe = ((0L to 2100L) ++ (29900L to 30100L) ++ Seq(45000L, 1000000L)).toSeq
    val viaCol = probe.toDF("cents")
      .select(org.apache.spark.sql.functions.col("cents"),
              graft.engine.Round8dOps.timingGrid.as("b"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    probe.foreach { v =>
      assert(viaCol(v) == graft.engine.Round8dOps.gridMs(v), s"grid($v)")
    }
  }

  test("j10 strict-order fold reaches the documented level on adversarial chains") {
    import spark.implicits._
    // (event-step sequence, expected funnel level): consecutive chain wins,
    // ANY intervening event aborts at the reached level, pre-chain noise
    // ignored, completed chains stay completed
    val cases = Seq(
      (Seq(1, 2, 3), 3), (Seq(1, 0, 2), 1), (Seq(0, 1, 2, 3), 3),
      (Seq(2, 1, 2, 3), 3), (Seq(1, 2, 2), 2), (Seq(1, 3), 1),
      (Seq(1, 2, 3, 1), 3), (Seq(0, 0), 0))
    val step =
      """CASE WHEN acc >= 10 THEN acc
        |     WHEN acc = 3 THEN 3
        |     WHEN acc = 0 THEN (CASE WHEN s = 1 THEN 1 ELSE 0 END)
        |     WHEN s = acc + 1 THEN acc + 1
        |     ELSE 10 + acc END""".stripMargin.replace("\n", " ")
    val got = cases.map(_._1).toDF("es")
      .select(expr(s"aggregate(es, 0, (acc, s) -> $step)").as("st"))
      .select(expr("CASE WHEN st >= 10 THEN st - 10 ELSE st END").as("lvl"))
      .collect().map(_.getInt(0)).toSeq
    assert(got == cases.map(_._2),
      s"fold levels: got $got want ${cases.map(_._2)}")
  }

  test("h30 geohash expression matches a reference bisection encoder") {
    val alpha = "0123456789bcdefghjkmnpqrstuvwxyz"
    // reference: the textbook FLOAT interval-bisection geohash (independent
    // of the production integer formula; the two can only disagree if a
    // coordinate lands within double-eps of a dyadic bisection midpoint,
    // and hundredth-degree inputs sit ≥ ~1e-4 from every non-coincident
    // midpoint while coincident ones are exact dyadics — see scaladoc)
    def ref(lonM: Long, latM: Long): String = {
      val lon = lonM / 100.0 - 180.0
      val lat = latM / 100.0 - 90.0
      var (lon0, lon1) = (-180.0, 180.0); var (lat0, lat1) = (-90.0, 90.0)
      val bits = new StringBuilder
      var even = true
      while (bits.length < 30) {
        if (even) {
          val mid = (lon0 + lon1) / 2
          if (lon >= mid) { bits += '1'; lon0 = mid } else { bits += '0'; lon1 = mid }
        } else {
          val mid = (lat0 + lat1) / 2
          if (lat >= mid) { bits += '1'; lat0 = mid } else { bits += '0'; lat1 = mid }
        }
        even = !even
      }
      (0 until 6).map { j =>
        alpha(java.lang.Integer.parseInt(bits.substring(j * 5, j * 5 + 5), 2))
      }.mkString
    }
    val rows = graft.engine.Round8fOps.h30.fn(spark, sf0001)
      .select("lon_m", "lat_m", "geohash").collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val want = ref(r.getLong(0), r.getLong(1))
      assert(r.getString(2) == want,
        s"geohash(${r.getLong(0)}, ${r.getLong(1)}): got ${r.getString(2)} want $want")
    }
  }
}
