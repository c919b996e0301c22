package graft

import org.apache.spark.sql.functions._
import graft.operators.Kmv

/** Pins for the round-9 surface: the exact-moment recipe (d32/d35 against
  * independent brute-force reference computations), the KMV sketch laws
  * (exact regime, merge-order invariance, agreement with the d34 SQL
  * formulation), and the strict-dedup funnel fold (SQL CASE vs the
  * streaming Scala step on adversarial chains). */
class Round9Spec extends SparkSpec {

  // ------------------------------------------------------------- d32

  test("d32 skew/kurt equals a brute-force two-pass reference at sf0.001") {
    val got = engine.Round9Ops.d32.fn(spark, sf0001).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getDouble(2), r.getDouble(3))))
      .toMap
    val rows = engine.Tables.lineitem(spark, sf0001)
      .select(col("l_returnflag"), col("l_quantity").cast("long"))
      .collect().map(r => r.getString(0) -> r.getLong(1))
    val want = rows.groupBy(_._1).map { case (rf, xs) =>
      val q = xs.map(_._2.toDouble)
      val n = q.length.toDouble
      val mean = q.sum / n
      // two-pass central moments — an INDEPENDENT formulation of the same
      // statistic (the query uses one-pass power sums)
      val m2 = q.map(x => (x - mean) * (x - mean)).sum / n
      val m3 = q.map(x => math.pow(x - mean, 3)).sum / n
      val m4 = q.map(x => math.pow(x - mean, 4)).sum / n
      rf -> ((q.length.toLong, m3 / (m2 * math.sqrt(m2)), m4 / (m2 * m2) - 3.0))
    }
    assert(got.keySet == want.keySet)
    got.foreach { case (rf, (n, sk, ku)) =>
      val (wn, wsk, wku) = want(rf)
      assert(n == wn)
      // the reference reassociates float sums, so compare to 1e-9 relative —
      // the CROSS-ENGINE contract (bit-exactness) is the selfcheck's job
      assert(math.abs(sk - wsk) <= 1e-9 * math.max(1.0, math.abs(wsk)),
             s"$rf skew: $sk vs $wsk")
      assert(math.abs(ku - wku) <= 1e-9 * math.max(1.0, math.abs(wku)),
             s"$rf kurt: $ku vs $wku")
    }
  }

  // ------------------------------------------------------------- d36

  test("d36 Welch t equals a brute-force two-pass reference at sf0.001") {
    val r = engine.Round9Ops.d36.fn(spark, sf0001).collect().head
    val (gn1, gn2, gt, gdof) =
      (r.getLong(0), r.getLong(1), r.getDouble(2), r.getDouble(3))
    val rows = engine.Tables.events(spark, sf0001)
      .where(col("event_type").isin("purchase", "click"))
      .select(col("event_type"),
              (col("value").cast("decimal(18,2)") * 100).cast("long"))
      .collect().map(r => r.getString(0) -> r.getLong(1).toDouble)
    def stats(t: String) = {
      val xs = rows.filter(_._1 == t).map(_._2)
      val n = xs.length.toDouble
      val m = xs.sum / n
      (xs.length.toLong, m, xs.map(x => (x - m) * (x - m)).sum / (n - 1.0))
    }
    val (n1, m1, v1) = stats("purchase")
    val (n2, m2, v2) = stats("click")
    val se1 = v1 / n1; val se2 = v2 / n2
    val t = (m1 - m2) / math.sqrt(se1 + se2)
    val dof = (se1 + se2) * (se1 + se2) /
      (se1 * se1 / (n1 - 1.0) + se2 * se2 / (n2 - 1.0))
    assert((gn1, gn2) == ((n1, n2)))
    assert(math.abs(gt - t) <= 1e-9 * math.max(1.0, math.abs(t)), s"t: $gt vs $t")
    assert(math.abs(gdof - dof) <= 1e-9 * dof, s"dof: $gdof vs $dof")
  }

  // ------------------------------------------------------------- d35

  test("d35 Mann-Whitney doubled-U equals a brute-force rank reference") {
    val got = engine.Round9Ops.d35.fn(spark, sf0001).collect()
      .map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))))
      .toMap
    val rows = engine.Tables.lineitem(spark, sf0001)
      .where(col("l_returnflag").isin("A", "R"))
      .select(col("l_linestatus"), col("l_returnflag"),
              col("l_quantity").cast("long"))
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2)))
    rows.groupBy(_._1).foreach { case (ls, xs) =>
      // brute-force midranks over the raw rows (the query uses the value
      // grid — independent formulation)
      val sorted = xs.map(x => (x._3, x._2)).sortBy(_._1)
      val dr = new Array[Double](sorted.length) // doubled midrank
      var i = 0
      while (i < sorted.length) {
        var j = i
        while (j < sorted.length && sorted(j)._1 == sorted(i)._1) j += 1
        val doubled = (i + 1) + j // (minRank + maxRank) with 1-based ranks
        (i until j).foreach(t => dr(t) = doubled.toDouble)
        i = j
      }
      val na = sorted.count(_._2 == "A").toLong
      val nr = sorted.length - na
      val dra = sorted.zipWithIndex.collect {
        case ((_, "A"), t) => dr(t)
      }.sum.toLong
      val u2a = dra - na * (na + 1)
      val (gna, gnr, gu2a, gu2r) = got(ls)
      assert((gna, gnr) == ((na, nr)), s"$ls group sizes")
      assert(gu2a == u2a, s"$ls u2_a: $gu2a vs $u2a")
      assert(gu2r == 2 * na * nr - u2a, s"$ls u2_r identity")
      assert(gu2a + gu2r == 2 * na * nr, s"$ls U identity")
    }
  }

  // ------------------------------------------------------------- d38

  test("d38 Theil's U equals a brute-force entropy reference at sf0.001") {
    val r = engine.Round9Ops.d38.fn(spark, sf0001).collect().head
    val rows = engine.Tables.lineitem(spark, sf0001)
      .select(col("l_returnflag"), col("l_linestatus"))
      .collect().map(r => (r.getString(0), r.getString(1)))
    val n = rows.length.toDouble
    val hx = -rows.groupBy(_._1).values.map { xs =>
      val p = xs.length / n; p * math.log(p)
    }.sum
    val hxy = -rows.groupBy(identity).map { case ((_, ls), xs) =>
      val ky = rows.count(_._2 == ls).toDouble
      (xs.length / n) * math.log(xs.length / ky)
    }.sum
    val u = (hx - hxy) / hx
    assert(r.getLong(0) == rows.length.toLong)
    assert(math.abs(r.getDouble(1) - hx) <= 1e-4, s"h_x ${r.getDouble(1)} vs $hx")
    assert(math.abs(r.getDouble(3) - u) <= 1e-4, s"U ${r.getDouble(3)} vs $u")
    assert(r.getDouble(3) >= 0.0 && r.getDouble(3) <= 1.0)
  }

  // ------------------------------------------------------------- d37

  test("d37 KS distance equals a brute-force CDF reference at sf0.001") {
    val got = engine.Round9Ops.d37.fn(spark, sf0001).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3))))
      .toMap
    val rows = engine.Tables.lineitem(spark, sf0001)
      .where(col("l_returnflag").isin("A", "R"))
      .select(col("l_linestatus"), col("l_returnflag"),
              col("l_quantity").cast("long"))
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2)))
    rows.groupBy(_._1).foreach { case (ls, xs) =>
      val as = xs.filter(_._2 == "A").map(_._3)
      val rs = xs.filter(_._2 == "R").map(_._3)
      val dnum = (1L to 50L).map { x =>
        math.abs(as.count(_ <= x).toLong * rs.length - rs.count(_ <= x).toLong * as.length)
      }.max
      val (gna, gnr, gd) = got(ls)
      assert((gna, gnr) == ((as.length.toLong, rs.length.toLong)), s"$ls sizes")
      assert(gd == dnum, s"$ls d_num: $gd vs $dnum")
    }
  }

  // ------------------------------------------------------------- d39

  test("d39 Spearman rho equals a brute-force midrank reference at sf0.001") {
    val got = engine.Round9Ops.d39.fn(spark, sf0001).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
    val rows = engine.Tables.lineitem(spark, sf0001)
      .select(col("l_linestatus"), col("l_quantity").cast("long"),
              (col("l_extendedprice").cast("decimal(18,2)") * 100).cast("long"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    rows.groupBy(_._1).foreach { case (ls, xs) =>
      def midranks(vs: Array[Long]): Array[Double] = {
        val sortedIdx = vs.zipWithIndex.sortBy(_._1)
        val out = new Array[Double](vs.length)
        var i = 0
        while (i < sortedIdx.length) {
          var j = i
          while (j < sortedIdx.length && sortedIdx(j)._1 == sortedIdx(i)._1) j += 1
          val mid = (i + 1 + j) / 2.0 // (minRank + maxRank) / 2, 1-based
          (i until j).foreach(t => out(sortedIdx(t)._2) = mid)
          i = j
        }
        out
      }
      val rx = midranks(xs.map(_._2))
      val ry = midranks(xs.map(_._3))
      val n = rx.length.toDouble
      val mx = rx.sum / n; val my = ry.sum / n
      val sxy = rx.indices.map(i => (rx(i) - mx) * (ry(i) - my)).sum
      val sxx = rx.map(v => (v - mx) * (v - mx)).sum
      val syy = ry.map(v => (v - my) * (v - my)).sum
      val rho = sxy / (math.sqrt(sxx) * math.sqrt(syy))
      val (gn, grho) = got(ls)
      assert(gn == rx.length.toLong)
      assert(math.abs(grho - rho) <= 1e-9, s"$ls rho: $grho vs $rho")
    }
  }

  // ------------------------------------------------------------- KMV

  test("KMV is exact below k and merge-order invariant") {
    val agg = Kmv(16)
    val keys = (0L until 200L).map(_ * 37 + 5)
    // exact regime: 12 distinct < k=16
    val small = keys.take(12) ++ keys.take(12)
    val bufS = small.foldLeft(agg.zero)((b, x) => agg.reduce(b, x))
    assert(agg.finish(bufS) == graft.operators.KmvResult(12, 12L))
    // merge-order invariance: fold in 8 random partitionings + merge in
    // shuffled order — bottom-k of a union is order-free, so ALL runs must
    // be identical (full determinism, not just bounded error)
    val rnd = new scala.util.Random(42)
    val results = (0 until 8).map { _ =>
      val parts = rnd.shuffle(keys).grouped(1 + rnd.nextInt(40)).toSeq
      val bufs = parts.map(_.foldLeft(agg.zero)((b, x) => agg.reduce(b, x)))
      agg.finish(rnd.shuffle(bufs).foldLeft(agg.zero)(agg.merge))
    }
    assert(results.distinct.size == 1, s"merge-order variance: $results")
    // estimator sanity: within 60% of truth at k=16 (loose statistical
    // bound; the VALUE is pinned by the d34 rank-window agreement below)
    assert(math.abs(results.head.estimate - 200L) <= 120L, s"$results")
  }

  test("d34's bounded-state Spark side equals an independent rank-window reference") {
    // the declared query's Spark side IS the Kmv aggregator; re-derive the
    // expected values from the FULL distinct hash set (the oracle's
    // formulation) in Scala and require exact agreement in both regimes
    for (dir <- Seq(sf0001, sf001)) { // exact at sf0.001, estimate at sf0.01
      val got = engine.Round9Ops.d34.fn(spark, dir)
        .collect().map(r => r.getString(0) -> ((r.getInt(1), r.getLong(2)))).toMap
      val want = engine.Tables.events(spark, dir)
        .select(col("event_type"), col("user_id")).collect()
        .map(r => r.getString(0) -> Kmv.hash(r.getLong(1)))
        .groupBy(_._1).map { case (t, xs) =>
          val hs = xs.map(_._2).distinct.sorted
          t -> ((math.min(hs.length, 64),
                 if (hs.length < 64) hs.length.toLong
                 else 63L * 4294967296L / hs(63)))
        }
      assert(got == want, s"$dir: query $got vs reference $want")
    }
  }

  // ------------------------------------------------------------- j11

  test("j11 strict-dedup fold: SQL CASE and streaming step agree on adversarial chains") {
    import spark.implicits._
    // (steps, expected level): a repeat of a MATCHED step interrupts; a
    // not-yet-reached step (purchase at level 1) and non-funnel events are
    // ignored; completed chains stay completed; pre-signup noise ignored
    val cases = Seq(
      (Seq(1, 2, 3), 3),       // clean chain
      (Seq(1, 3, 2, 3), 3),    // early purchase ignored at level 1
      (Seq(1, 1, 2, 3), 1),    // duplicate signup interrupts at 1
      (Seq(1, 2, 2, 3), 2),    // duplicate click interrupts at 2
      (Seq(1, 2, 1, 3), 2),    // signup repeat after click interrupts at 2
      (Seq(2, 3, 1, 2, 3), 3), // pre-signup noise ignored
      (Seq(1, 0, 2, 0, 3), 3), // non-funnel events never interrupt
      (Seq(1, 2, 3, 1, 1), 3), // interruptions after completion are moot
      (Seq(0, 2, 3), 0), (Seq(1, 3, 3), 1))
    val sqlStep =
      """CASE WHEN acc >= 10 THEN acc
        |     WHEN acc = 3 THEN 3
        |     WHEN acc = 0 THEN (CASE WHEN s = 1 THEN 1 ELSE 0 END)
        |     WHEN acc = 1 THEN (CASE WHEN s = 2 THEN 2 WHEN s = 1 THEN 11 ELSE 1 END)
        |     WHEN s = 3 THEN 3
        |     WHEN s = 1 OR s = 2 THEN 12
        |     ELSE acc END""".stripMargin.replace("\n", " ")
    val gotSql = cases.map(_._1).toDF("es")
      .select(expr(s"aggregate(es, 0, (acc, s) -> $sqlStep)").as("st"))
      .select(expr("CASE WHEN st >= 10 THEN st - 10 ELSE st END").as("lvl"))
      .collect().map(_.getInt(0)).toSeq
    assert(gotSql == cases.map(_._2), s"SQL fold: $gotSql")
    val gotScala = cases.map { case (es, _) =>
      val st = es.foldLeft(0)(streaming.StreamingDedupFunnel.step)
      if (st >= 10) st - 10 else st
    }
    assert(gotScala == cases.map(_._2), s"Scala fold: $gotScala")
  }
}
