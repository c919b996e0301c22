package graft

import org.apache.spark.sql.functions._

import graft.operators.{GreedyCover, PageRank}

/** Round-22 operator semantics: integer-exact PageRank (k73's engine) and
  * greedy max-coverage (k74's engine). The fixture-level oracle equality is
  * the selfcheck's job; these pin the operator CONTRACTS on hand graphs
  * where the expected values are independently derived in the test body
  * (closed form for regular graphs, a worked 2-round recurrence for the
  * star, the classic overlap counterexample for greedy).
  */
class Round22Spec extends SparkSpec {
  import spark.implicits._

  private val S = 1000000000000L

  /** The scaled-integer recurrence on a d-regular graph, where uniformity
    * makes it closed-form: every node keeps the same rank each round. */
  private def regularClosedForm(n: Long, d: Long, iters: Int): Long = {
    val init = S / n
    val base = (15L * init) / 100L
    var r = init
    for (_ <- 1 to iters) r = base + (85L * (d * (r / d))) / 100L
    r
  }

  test("PageRank: triangle (2-regular) matches the closed form, all 3 iters") {
    // symmetrized triangle: each node has out-degree 2
    val pairs = Seq((0L, 1L), (1L, 2L), (2L, 0L))
    val edges = (pairs ++ pairs.map(p => (p._2, p._1))).toDF("src", "dst")
    val got = PageRank.ranks(edges, "src", "dst", iters = 3)
      .orderBy("node").as[(Long, Long)].collect()
    val want = regularClosedForm(n = 3, d = 2, iters = 3)
    assert(got.toSeq == Seq((0L, want), (1L, want), (2L, want)))
    assert(want > 0L)
  }

  test("PageRank: star graph matches a hand-run 2-round recurrence") {
    // center 0, leaves 1..4, symmetrized: center outdeg 4, leaves outdeg 1
    val pairs = (1L to 4L).map(l => (0L, l))
    val edges = (pairs ++ pairs.map(p => (p._2, p._1))).toDF("src", "dst")
    val got = PageRank.ranks(edges, "src", "dst", iters = 2)
      .orderBy("node").as[(Long, Long)].collect().toMap

    // independent derivation, same integer rules
    val init = S / 5; val base = (15L * init) / 100L
    // round 1: center receives 4 leaf contributions (each r/1); each leaf
    // receives the center's r/4
    val c1 = base + (85L * (4L * init)) / 100L
    val l1 = base + (85L * (init / 4L)) / 100L
    // round 2
    val c2 = base + (85L * (4L * l1)) / 100L
    val l2 = base + (85L * (c1 / 4L)) / 100L
    assert(got(0L) == c2)
    (1L to 4L).foreach(l => assert(got(l) == l2))
    assert(c2 > l2, "the hub must out-rank the leaves")
  }

  test("PageRank: dangling node fails loudly, not by silent mass leak") {
    val edges = Seq((1L, 2L)).toDF("src", "dst") // 2 has no out-edge
    val e = intercept[IllegalArgumentException] {
      PageRank.ranks(edges, "src", "dst", iters = 1)
    }
    assert(e.getMessage.contains("dangling"))
  }

  test("GreedyCover: overlap makes greedy diverge from size ranking") {
    // A={x,y,z}, B={x,y,w}, C={u,v}: sizes 3,3,2 — size-ranking would take
    // A then B, but after A, B's marginal gain is 1 < C's 2. Greedy must
    // pick A (tie-break id), then C, then B with gain 1.
    val items = Seq(
      (1L, "x"), (1L, "y"), (1L, "z"),
      (2L, "x"), (2L, "y"), (2L, "w"),
      (3L, "u"), (3L, "v")).toDF("id", "item")
    val got = GreedyCover.select(items, "id", "item", k = 3)
      .orderBy("sel_rank").as[(Int, Long, Long)].collect().toSeq
    assert(got == Seq((1, 1L, 3L), (2, 3L, 2L), (3, 2L, 1L)))
  }

  test("GreedyCover: universe exhaustion returns fewer than k rows") {
    val items = Seq((1L, "a"), (2L, "a")).toDF("id", "item")
    val got = GreedyCover.select(items, "id", "item", k = 3)
      .orderBy("sel_rank").as[(Int, Long, Long)].collect().toSeq
    // round 1 takes id 1 (gain 1, tie-break); round 2: id 2's only item is
    // covered, so its gain group vanishes — selection stops at 1 row
    assert(got == Seq((1, 1L, 1L)))
  }

  test("PageRank law: total mass is conserved up to floor dust on seeded random graphs") {
    // each round loses < 1 per (edge contribution, damp division, base
    // floor): Σr_t ≥ S − t·(E + 2N); and never exceeds S. 10 seeded
    // random symmetric graphs, all sizes/shapes.
    val rnd = new scala.util.Random(42)
    for (_ <- 1 to 10) {
      val nV = 3 + rnd.nextInt(20)
      val raw = (0 until (nV * 2)).map(_ => (rnd.nextInt(nV).toLong, rnd.nextInt(nV).toLong))
        .filter(p => p._1 != p._2).distinct
      if (raw.nonEmpty) {
        val edges = (raw ++ raw.map(p => (p._2, p._1))).distinct.toDF("src", "dst")
        val e = edges.count()
        val iters = 3
        val ranks = PageRank.ranks(edges, "src", "dst", iters = iters)
        val total = ranks.agg(sum("r")).as[Long].collect().head
        val n = ranks.count()
        val S = 1000000000000L
        // init flooring also loses < N once at t=0
        val floorLoss = n + iters * (e + 2 * n)
        assert(total <= S, s"mass above scale: $total > $S")
        assert(total >= S - floorLoss,
          s"mass leak beyond floor dust: $total < $S - $floorLoss (n=$n, e=$e)")
        graft.operators.Materialize.release(ranks)
      }
    }
  }

  test("GreedyCover law: marginal gains are non-increasing (submodularity) on seeded random corpora") {
    val rnd = new scala.util.Random(7)
    for (_ <- 1 to 5) {
      val nDocs = 5 + rnd.nextInt(15)
      val rows = (1L to nDocs).flatMap { id =>
        val sz = 1 + rnd.nextInt(12)
        (0 until sz).map(_ => (id, s"g${rnd.nextInt(40)}"))
      }
      val got = GreedyCover.select(rows.toDF("id", "item"), "id", "item", k = 6)
        .orderBy("sel_rank").as[(Int, Long, Long)].collect().toSeq
      val gainSeq = got.map(_._3)
      assert(gainSeq == gainSeq.sortBy(-_),
        s"greedy gains must be non-increasing, got $gainSeq")
      assert(gainSeq.forall(_ > 0), "every selection must add coverage")
    }
  }

  test("row-order/partitioning invariance: PageRank and GreedyCover are pure functions of their input SETS") {
    // the k64 shuffle-determinism discipline: permuting and repartitioning
    // the input rows must reproduce identical outputs (rests on integer
    // sums being merge-order-independent and total-order argmax tie-breaks)
    val rnd = new scala.util.Random(11)
    val pairs = (0 until 30).map(_ => (rnd.nextInt(12).toLong, rnd.nextInt(12).toLong))
      .filter(p => p._1 != p._2).distinct
    val sym = (pairs ++ pairs.map(p => (p._2, p._1))).distinct
    val a = PageRank.ranks(sym.toDF("src", "dst"), "src", "dst", iters = 3)
      .orderBy("node").as[(Long, Long)].collect().toSeq
    val b = PageRank.ranks(
        rnd.shuffle(sym).toDF("src", "dst").repartition(7), "src", "dst", iters = 3)
      .orderBy("node").as[(Long, Long)].collect().toSeq
    assert(a == b, "PageRank must be invariant to input row order/partitioning")

    val items = (1L to 12L).flatMap(id => (0 until (3 + rnd.nextInt(6))).map(_ => (id, s"t${rnd.nextInt(25)}")))
    val g1 = GreedyCover.select(items.toDF("id", "item"), "id", "item", k = 4)
      .orderBy("sel_rank").as[(Int, Long, Long)].collect().toSeq
    val g2 = GreedyCover.select(rnd.shuffle(items).toDF("id", "item").repartition(5),
        "id", "item", k = 4)
      .orderBy("sel_rank").as[(Int, Long, Long)].collect().toSeq
    assert(g1 == g2, "GreedyCover must be invariant to input row order/partitioning")
  }

  test("k75 raking sweep laws: marginal hits target up to floor dust; balanced grid is a fixed point") {
    import graft.engine.Round22Ops
    val df = Seq(("s1", "a", 100L), ("s1", "b", 300L), ("s2", "a", 200L))
      .toDF("source", "lang", "m").withColumn("tsrc", lit(1000L))
    val swept = df.withColumn("m", expr(Round22Ops.srcSweep))
      .orderBy("source", "lang").select("m").as[Long].collect().toSeq
    // s1 (sum 400): 100*1000/400 = 250, 300*1000/400 = 750; s2: 200*1000/200 = 1000
    assert(swept == Seq(250L, 750L, 1000L))
    // fixed point: groups already summing to the target are unchanged
    val balanced = Seq(("s1", "a", 250L), ("s1", "b", 750L), ("s2", "a", 1000L))
      .toDF("source", "lang", "m").withColumn("tsrc", lit(1000L))
    val again = balanced.withColumn("m", expr(Round22Ops.srcSweep))
      .orderBy("source", "lang").select("m").as[Long].collect().toSeq
    assert(again == Seq(250L, 750L, 1000L))
    // floor dust: a group whose masses do not divide evenly lands in
    // [T - cells, T], never above
    val dusty = Seq(("s1", "a", 333L), ("s1", "b", 334L), ("s1", "c", 334L))
      .toDF("source", "lang", "m").withColumn("tsrc", lit(1000L))
    val d = dusty.withColumn("m", expr(Round22Ops.srcSweep))
      .agg(sum("m")).as[Long].collect().head
    assert(d <= 1000L && d >= 997L)
  }

  test("k75 on the fixture: every lang marginal hits its target up to floor dust") {
    val out = graft.engine.Round22Ops.k75.fn(spark, sf0001).collect()
    val byLang = out.groupBy(_.getString(1))
    val target = 1000000000L / byLang.size
    byLang.foreach { case (lang, rows) =>
      val marginal = rows.map(_.getLong(2)).sum
      assert(marginal <= target && marginal >= target - rows.length,
        s"lang $lang marginal $marginal vs target $target ± ${rows.length}")
    }
  }

  test("i13: all three bilinear delta terms are non-empty on the fixture (the composition is not vacuous)") {
    val o = graft.engine.Tables.orders(spark, sf0001)
      .select("o_orderkey", "o_orderdate")
    val l = graft.engine.Tables.lineitem(spark, sf0001)
      .select("l_orderkey", "l_shipdate")
    val aIsNew = coalesce(col("o_orderdate") >= lit("1999-01-01"), lit(false))
    val bIsNew = coalesce(col("l_shipdate") >= lit("1999-07-01"), lit(false))
    val t1 = o.filter(aIsNew).join(l.filter(!bIsNew),
      col("l_orderkey") === col("o_orderkey")).count()
    val t2 = o.filter(!aIsNew).join(l.filter(bIsNew),
      col("l_orderkey") === col("o_orderkey")).count()
    val t3 = o.filter(aIsNew).join(l.filter(bIsNew),
      col("l_orderkey") === col("o_orderkey")).count()
    assert(t1 > 0 && t2 > 0 && t3 > 0,
      s"every delta term must bite: dA*Bold=$t1, Aold*dB=$t2, dA*dB=$t3")
  }

  test("i13: the delta rule needs every cross term — dropping one breaks recompute equality") {
    import graft.api.Mv
    // A: (key, grp); B: (key, v). One old and one new row on each side
    // sharing key 1, so every quadrant joins.
    val aOld = Seq((1L, "g")).toDF("k", "grp")
    val aNew = Seq((1L, "g")).toDF("k", "grp") // second A-row for key 1
    val bOld = Seq((1L, 10.0)).toDF("k2", "v")
    val bNew = Seq((1L, 5.0)).toDF("k2", "v")
    def j(a: org.apache.spark.sql.DataFrame, b: org.apache.spark.sql.DataFrame) =
      a.join(b, col("k") === col("k2"))
    val keys = Seq("grp")
    def finalize(dv: org.apache.spark.sql.DataFrame) =
      Mv.finalizeState(Mv.merge(keys,
        Mv.aggState(j(aOld, bOld), keys, "v"),
        Mv.aggState(dv, keys, "v")), keys)
        .select("grp", "n", "sum_value").as[(String, Long, Double)].collect().toSeq
    val full = j(aOld.unionAll(aNew), bOld.unionAll(bNew))
      .groupBy("grp").agg(count(lit(1)).as("n"),
        sum(col("v").cast("decimal(18,6)")).cast("double").as("sum_value"))
      .as[(String, Long, Double)].collect().toSeq
    val composed = finalize(
      j(aNew, bOld).unionByName(j(aOld, bNew)).unionByName(j(aNew, bNew)))
    assert(composed == full, "the 3-term composition must equal recompute")
    val missingCross = finalize(j(aNew, bOld).unionByName(j(aOld, bNew)))
    assert(missingCross != full,
      "dropping the dA*dB term must break equality — the bilinear terms are load-bearing")
  }

  test("i14: outer-join delta composition equals recompute; the retraction term is load-bearing") {
    import graft.engine.Round22Ops
    import graft.api.Mv
    // hand graph exercising every transition: c1 old with old+new orders;
    // c2 old whose FIRST order arrives in the delta (the retraction case);
    // c3 old with no orders (padded row survives); c8 new with a new
    // order; c9 new with no orders (padded row appears in V_new)
    val a = Seq((1L, "s1"), (2L, "s1"), (3L, "s2"), (8L, "s2"), (9L, "s1"))
      .toDF("ck", "seg")
    val b = Seq((1L, 10.0, 1996), (1L, 20.0, 1998), (2L, 40.0, 1998),
                (8L, 5.0, 1998)).toDF("ok", "price", "yr")
    val aN = coalesce(col("ck") % 10 >= 8, lit(false))
    val bN = coalesce(col("yr") >= 1997, lit(false))
    val on = col("ok") === col("ck")
    def run(withRetraction: Boolean) =
      Mv.finalizeState(Round22Ops.outerJoinDeltaState(
          a, b, aN, bN, on, Seq("seg"), "price", withRetraction), Seq("seg"))
        .orderBy("seg").select("seg", "n", "sum_value")
        .as[(String, Long, Double)].collect().toSeq
    val full = a.join(b, on, "left").groupBy("seg")
      .agg(count(lit(1)).as("n"),
           sum(col("price").cast("decimal(18,6)")).cast("double").as("sum_value"))
      .orderBy("seg").as[(String, Long, Double)].collect().toSeq
    assert(full == Seq(("s1", 4L, 70.0), ("s2", 2L, 5.0)), s"hand expectation: $full")
    assert(run(withRetraction = true) == full)
    assert(run(withRetraction = false) != full,
      "dropping the padded-row retraction must break recompute equality")
  }

  test("i14: the retraction term bites on the fixture (first-match-in-delta customers exist)") {
    val a = graft.engine.Tables.customer(spark, sf0001).select("c_custkey")
    val b = graft.engine.Tables.orders(spark, sf0001)
      .select("o_custkey", "o_orderdate")
    val aIsNew = coalesce(col("c_custkey") % 10 >= 8, lit(false))
    val bIsNew = coalesce(col("o_orderdate") >= lit("1997-01-01"), lit(false))
    val on = col("o_custkey") === col("c_custkey")
    val bite = a.filter(!aIsNew)
      .join(b.filter(!bIsNew), on, "left_anti")
      .join(b.filter(bIsNew), on, "left_semi").count()
    assert(bite > 0, "the fixture must exercise the retraction term (cut mistuned?)")
  }

  test("GreedyCover: duplicate (id,item) rows do not inflate gains") {
    val items = Seq((1L, "a"), (1L, "a"), (1L, "b"), (2L, "c")).toDF("id", "item")
    val got = GreedyCover.select(items, "id", "item", k = 2)
      .orderBy("sel_rank").as[(Int, Long, Long)].collect().toSeq
    assert(got == Seq((1, 1L, 2L), (2, 2L, 1L)))
  }

  test("GreedyCover: NULL ids are require-rejected, not silently ordered (r17 ADVICE)") {
    // a NULL id would sort FIRST under Spark's asc() but LAST under
    // DuckDB's default — the reject keeps the engines from silently
    // diverging (and select() from NPEing on getLong)
    val items = Seq((Some(1L), "a"), (None: Option[Long], "b"))
      .toDF("id", "item")
    val e = intercept[IllegalArgumentException] {
      GreedyCover.select(items, "id", "item", k = 1)
    }
    assert(e.getMessage.contains("NULL"))
    // and the non-null subset still selects fine through the same path
    val ok = GreedyCover.select(items.filter(col("id").isNotNull), "id", "item", k = 1)
      .as[(Int, Long, Long)].collect().toSeq
    assert(ok == Seq((1, 1L, 1L)))
  }

  test("k75 weight guard: bit-identical to the bare div in-domain, loud out-of-domain (r17 ADVICE)") {
    val inDomain = Seq((7000000L, 3L), (123456789L, 1000000000L), (5L, 5L))
      .toDF("m", "m0")
    val got = inDomain.selectExpr(graft.engine.Round22Ops.weightPpmGuarded,
                                  "(m * 1000000) div m0")
      .as[(Long, Long)].collect()
    got.foreach { case (guarded, bare) => assert(guarded == bare) }

    // m0 = 0 (the G > S floor case): Spark used to NULL silently where
    // DuckDB raises; now both fail loudly
    val e = intercept[Exception] {
      Seq((7L, 0L)).toDF("m", "m0")
        .selectExpr(graft.engine.Round22Ops.weightPpmGuarded).collect()
    }
    assert(e.getMessage.contains("m0 floored to 0") ||
      Option(e.getCause).exists(_.getMessage.contains("m0 floored to 0")))
  }
}
