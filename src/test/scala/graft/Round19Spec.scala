package graft

/** Adversarial edge pins for the round-19 declared queries — cases the
  * fixture cannot force, exercised on synthesized frames through the REAL
  * declared plan bodies ([[graft.engine.Round19Ops]] — the h46Plan
  * discipline), plus the plan-shape guarantees the scale posture rests on.
  */
class Round19Spec extends SparkSpec {

  private def md5Hex1(id: Long): Char = {
    val d = java.security.MessageDigest.getInstance("MD5")
      .digest(id.toString.getBytes("UTF-8"))
    f"${(d(0) & 0xff)}%02x".charAt(0)
  }
  /** k17/k59 split membership, computed independently of any engine. */
  private def isTestId(id: Long): Boolean = md5Hex1(id) >= 'e'

  /** Spark's ROUND(x, 4) semantics (HALF_UP on the shortest decimal
    * rendering of the double — BigDecimal.valueOf). */
  private def r4(x: Double): Double =
    java.math.BigDecimal.valueOf(x)
      .setScale(4, java.math.RoundingMode.HALF_UP).doubleValue()

  /** Determinism.dsum's per-term DECIMAL(18,6) rounding. */
  private def d6(x: Double): java.math.BigDecimal =
    java.math.BigDecimal.valueOf(x)
      .setScale(6, java.math.RoundingMode.HALF_UP)

  // ------------------------------------------------------------------ k58

  test("k58 hand-computed weights: smoothing, sign, and the selected flag") {
    val sp = spark; import sp.implicits._
    // target source src0 holds only "q" tokens; non-target src9 holds only
    // "z" tokens plus one shared "a" in each — so q is target-exclusive,
    // z is raw-exclusive (ct = 0 → the add-1 smoothing is load-bearing),
    // and a is balanced.
    val docs = Seq(
      (1L, "q q q a", "src0"), (2L, "q q q a", "src0"),
      (3L, "z z z a", "src9"), (4L, "z z z a", "src9"))
      .toDF("doc_id", "text", "source")
    // corpus: q:6 z:6 a:4, nr=16; target: q:6 a:2, nt=8; v=3
    def llr(ct: Long, cr: Long): Double =
      math.log(((ct + 1).toDouble * (16 + 3)) / ((cr + 1).toDouble * (8 + 3)))
    val q = llr(6, 6); val z = llr(0, 6); val a = llr(2, 4)
    val expect = Map(
      1L -> r4((3 * q + a) / 4), 2L -> r4((3 * q + a) / 4),
      3L -> r4((3 * z + a) / 4), 4L -> r4((3 * z + a) / 4))
    val got = graft.engine.Round19Ops.k58Plan(docs).collect()
      .map(r => r.getLong(0) -> (r.getDouble(2), r.getInt(3))).toMap
    assert(got.keySet == expect.keySet)
    expect.foreach { case (id, m) =>
      assert(got(id)._1 == m, s"doc $id mean_llr: got ${got(id)._1}, want $m")
    }
    // target docs read strongly positive (selected), raw docs negative
    assert(got(1L)._1 > 0.005 && got(1L)._2 == 1, s"target doc: ${got(1L)}")
    assert(got(3L)._1 < 0 && got(3L)._2 == 0, s"raw doc: ${got(3L)}")
  }

  test("k58 plan: one token pass, tf exchange reused, no data-sized window") {
    val df = graft.engine.Round19Ops.k58.fn(spark, sf0001)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
      .split("== Initial Plan ==").head
    val explodes = "\\bGenerate\\b".r.findAllIn(p).length
    assert(explodes == 1,
      s"k58 must tokenize exactly once, found $explodes:\n$p")
    assert(p.contains("ReusedExchange"),
      s"the type-level tf exchange must be shared by the vocab regroup and " +
        s"the per-doc join — without reuse the Generate re-expands:\n$p")
    assert(!p.contains("Window"),
      s"k58 must not window-partition by a token key (the k48 lesson):\n$p")
  }

  // ------------------------------------------------------------------ k59

  // deterministic split members, discovered independently of the engine
  private lazy val testIds  = (0L to 300L).filter(isTestId)
  private lazy val trainIds = (0L to 300L).filterNot(isTestId)

  /** A filler token unique per (tag, i) — one WORD, so it forms no shared
    * shingle with anything else. */
  private def uniq(tag: String, i: Int): String = s"u${tag}x$i"

  private def runK59(docs: Seq[(Long, String)]): Map[Long, (Long, Option[Long], Int)] = {
    val sp = spark; import sp.implicits._
    graft.engine.Round19Ops.k59Plan(docs.toDF("doc_id", "text")).collect()
      .map(r => r.getLong(0) ->
        ((r.getLong(1), if (r.isNullAt(2)) None else Some(r.getLong(2)),
          r.getInt(3)))).toMap
  }

  test("k59 candidates: multi-shingle pair counted once, eval-eval and unblocked excluded") {
    val e1 = testIds(0); val e2 = testIds(1); val t1 = trainIds(0)
    val shared  = "s1 s2 s3 s4 s5"
    val shared2 = "w1 w2 w3 w4 w5"
    val docs = Seq(
      // e1 and t1 share TWO disjoint 5-token blocks (separated by unique
      // words so no cross-block window is shared) → still ONE candidate
      e1 -> s"$shared ${uniq("e1", 0)} $shared2",
      t1 -> s"$shared ${uniq("t1", 0)} $shared2",
      // e2 shares a block with e1 ONLY (eval×eval — must not pair)
      e2 -> s"p1 p2 p3 p4 p5 ${uniq("e2", 0)}",
      e1 + 1000 -> "irrelevant filler one two") // train doc, no overlap
    val got = runK59(docs.map { case (a, b) => (a.toLong, b) })
    // output = the test-split docs only
    assert(got.keySet == Set(e1, e2),
      s"exactly the test docs appear: ${got.keySet}")
    assert(got(e1)._1 == 1L, s"two shared shingles, one partner: ${got(e1)}")
    assert(got(e1)._2.isDefined && got(e1)._3 == 1,
      s"near-identical heads must flag: ${got(e1)}")
    assert(got(e2) == ((0L, None, 0)),
      s"eval-eval overlap must not produce candidates: ${got(e2)}")
  }

  test("k59 df cap: a shingle held by more than cap docs blocks nothing") {
    val e = testIds(0)
    val shared = "c1 c2 c3 c4 c5"
    // 21 train docs + the eval doc all share ONLY the capped shingle
    // (every other window crosses into a per-doc unique token)
    val docs = (e, s"$shared ${uniq("e", 0)}") +:
      trainIds.take(21).zipWithIndex.map { case (t, i) =>
        (t, s"$shared ${uniq("t", i)}")
      }
    val got = runK59(docs)
    assert(got(e) == ((0L, None, 0)),
      s"df=22 > cap=20 — the stop-shingle must not block: ${got(e)}")
    // control: with exactly cap holders (df = cap ≤ cap), it DOES block
    val got2 = runK59(docs.take(20)) // eval + 19 train → df = 20
    assert(got2(e)._1 == 19L && got2(e)._3 == 1,
      s"df=20 ≤ cap — all 19 train partners are candidates: ${got2(e)}")
  }

  test("k59 threshold boundary: distance exactly tau flags, tau+1 does not") {
    val e1 = testIds(0); val e2 = testIds(1)
    val t1 = trainIds(0); val t2 = trainIds(1)
    val sharedA = "a1 a2 a3 a4 a5"   // 14 chars
    val sharedB = "b1 b2 b3 b4 b5"
    // heads are "<shared> <word>"; the long words differ in exactly k
    // leading chars (same length ⇒ Levenshtein = k substitutions), all
    // within the 240-char head
    def word(k: Int, fill: Char, n: Int = 100): String =
      (fill.toString * k) + ("m" * (n - k))
    val docs = Seq(
      e1 -> s"$sharedA ${word(0, 'x')}",
      t1 -> s"$sharedA ${word(60, 'y')}",   // dist 60 = tau → contaminated
      e2 -> s"$sharedB ${word(0, 'x')}",
      t2 -> s"$sharedB ${word(61, 'y')}")   // dist 61 > tau → clean
    val got = runK59(docs)
    assert(got(e1) == ((1L, Some(60L), 1)), s"at tau: ${got(e1)}")
    assert(got(e2) == ((1L, Some(61L), 0)), s"above tau: ${got(e2)}")
  }

  test("k59 head granularity: divergence beyond 240 chars is invisible by declared semantics") {
    val e = testIds(0); val t = trainIds(0)
    val shared = "h1 h2 h3 h4 h5"
    val pad = "p" * 230 // shared + " " + pad fills the 240-char head
    val docs = Seq(
      e -> s"$shared $pad ${uniq("e", 0)} ${uniq("e", 1)}",
      t -> s"$shared $pad ${uniq("t", 0)} ${uniq("t", 1)}")
    val got = runK59(docs)
    assert(got(e) == ((1L, Some(0L), 1)),
      s"identical 240-char heads ⇒ distance 0 whatever follows: ${got(e)}")
  }

  test("k59 plan: one shingle pass + one pair emit, no cartesian anywhere") {
    val df = graft.engine.Round19Ops.k59.fn(spark, sf0001)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
      .split("== Initial Plan ==").head
    val explodes = "\\bGenerate\\b".r.findAllIn(p).length
    assert(explodes == 2,
      s"k59 must shingle once and emit pairs once, found $explodes:\n$p")
    assert(!p.contains("CartesianProduct") &&
             !p.contains("BroadcastNestedLoopJoin"),
      s"k59 joins are all digest/doc-keyed hash joins:\n$p")
  }

  // ------------------------------------------------------------------ k60

  private def runK60(rows: Seq[(Long, String, String)]) = {
    val sp = spark; import sp.implicits._
    graft.engine.Round19Ops.k60Plan(
      rows.toDF("doc_id", "text", "source")).collect()
  }

  test("k60 hand-computed spectrum: counts 4/2/1 against the decimal-exact OLS") {
    // one source, tokens: a ×4, b ×2, c ×1 → ranks 1, 2, 3
    val got = runK60(Seq((1L, "a a b c", "s1"), (2L, "a a b", "s1")))
    assert(got.length == 1)
    val r = got.head
    assert(r.getString(0) == "s1" && r.getLong(1) == 3L && r.getLong(2) == 7L)
    assert(r.getDouble(3) == r4(3.0 / 7))
    // replicate the plan's arithmetic exactly: per-term DECIMAL(18,6)
    // sums, then the closed form on doubles
    val xs = Seq(1.0, 2.0, 3.0).map(math.log)
    val ys = Seq(4.0, 2.0, 1.0).map(math.log)
    def s(ts: Seq[Double]) =
      ts.map(d6).reduce(_ add _).doubleValue()
    val (sx, sy) = (s(xs), s(ys))
    val sxy = s(xs.zip(ys).map { case (x, y) => x * y })
    val sxx = s(xs.map(x => x * x))
    val slope = (3 * sxy - sx * sy) / (3 * sxx - sx * sx)
    assert(r.getDouble(4) == r4(slope), s"slope: ${r.getDouble(4)} vs ${r4(slope)}")
    assert(r.getDouble(5) == r4((sy - slope * sx) / 3))
    assert(r.getDouble(4) < 0, "a falling spectrum fits a negative slope")
  }

  test("k60 uniform spectrum: slope is exactly +0.0 (canonicalized), never -0.0") {
    val got = runK60(Seq((1L, "a b c d", "s1")))
    val slope = got.head.getDouble(4)
    assert(slope == 0.0)
    assert(java.lang.Double.doubleToRawLongBits(slope) == 0L,
      "the + 0.0 canonicalization must yield positive zero bits")
  }

  test("k60 single-type source: the 0/0 fit is NULL in both engines (spec-pinned)") {
    val got = runK60(Seq((1L, "a a a", "s1"), (2L, "x y z", "s2")))
    val byS = got.map(r => r.getString(0) -> r).toMap
    assert(byS("s1").isNullAt(4) && byS("s1").isNullAt(5),
      "sxx = sx = 0 ⇒ NULL slope/intercept")
    assert(!byS("s2").isNullAt(4), "the multi-type source still fits")
  }

  test("k60 doc-order invariance: the spectrum aggregate sees no row order") {
    val a = Seq((1L, "a a b", "s1"), (2L, "b c a", "s1"), (3L, "c a a", "s2"))
    assert(runK60(a).map(_.toString).toSeq ==
      runK60(a.reverse).map(_.toString).toSeq)
  }

  // ------------------------------------------------------------------ k61

  private def runK61(docs: Seq[(Long, String)]): Map[Long, (Long, Long, Double, Int)] = {
    val sp = spark; import sp.implicits._
    graft.engine.Round19Ops.k61Plan(docs.toDF("doc_id", "text")).collect()
      .map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getDouble(3), r.getInt(4)))).toMap
  }

  test("k61 novelty classes: memorized, partial, fully novel; test-test sharing stays novel") {
    val e1 = testIds(0); val e2 = testIds(1); val e3 = testIds(2)
    val e4 = testIds(3); val t1 = trainIds(0)
    val train5 = "m1 m2 m3 m4 m5"        // the train-held 5-gram
    val shared = "v1 v2 v3 v4 v5"        // held only by TWO TEST docs
    val docs = Seq(
      t1 -> s"$train5 ${uniq("t", 0)}",
      e1 -> train5,                       // every 5-gram in train → memorized
      // 6 tokens = 2 windows: [1..5] in train, [2..6] novel → novelty 0.5
      e2 -> s"$train5 ${uniq("e2", 0)}",
      e3 -> s"$shared ${uniq("e3", 0)}",  // shares only with e4 (test)
      e4 -> s"$shared ${uniq("e4", 0)}")
    val got = runK61(docs)
    assert(got.keySet == Set(e1, e2, e3, e4), s"test docs only: ${got.keySet}")
    assert(got(e1) == ((1L, 0L, 0.0, 1)), s"fully memorized: ${got(e1)}")
    assert(got(e2) == ((2L, 1L, 0.5, 0)), s"partial: ${got(e2)}")
    // test-test sharing must NOT count as train coverage
    assert(got(e3) == ((2L, 2L, 1.0, 0)), s"test-test stays novel: ${got(e3)}")
  }

  test("k61 occurrence weighting: a repeated test 5-gram counts per occurrence") {
    val e = testIds(0); val t = trainIds(0)
    val g = "r1 r2 r3 r4 r5"
    // e = g ⧺ unique ⧺ g: windows [1..5] and [7..11] both equal g (2
    // occurrences of ONE digest), plus 5 mixed windows crossing the
    // unique token — 7 windows, 2 memorized occurrences
    val docs = Seq(t -> s"$g ${uniq("t", 0)}",
                   e -> s"$g ${uniq("e", 0)} $g")
    val got = runK61(docs)
    assert(got(e)._1 == 7L && got(e)._2 == 5L,
      s"2 of 7 occurrences covered: ${got(e)}")
    assert(got(e)._3 == r4(5.0 / 7), s"novelty: ${got(e)}")
  }

  test("k61 plan: two COMPLEMENTARY split-pruned passes totaling one corpus shingling") {
    val df = graft.engine.Round19Ops.k61.fn(spark, sf0001)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
      .split("== Initial Plan ==").head
    // deliberately TWO Generates — each over a disjoint split half (the
    // one place the single-Generate discipline loses: a shared unfiltered
    // frame would push the whole corpus through the per-doc aggregate);
    // the split predicate must prune below BOTH Generates
    assert("\\bGenerate\\b".r.findAllIn(p).length == 2,
      s"k61 shingles each split half once:\n$p")
    val filters = p.linesIterator.filter(_.contains("Filter ")).toSeq
    assert(filters.exists(_.contains(">= e")) &&
             filters.exists(_.contains("< e")),
      s"both halves must prune on the split below their Generate:\n$p")
    assert(!p.contains("CartesianProduct") &&
             !p.contains("BroadcastNestedLoopJoin"), s"hash joins only:\n$p")
  }

  // ------------------------------------------------------------------ k62

  private def runK62(rows: Seq[(Long, String, String)]) = {
    val sp = spark; import sp.implicits._
    graft.engine.Round19Ops.k62Plan(
      rows.toDF("doc_id", "text", "source")).collect()
  }

  test("k62 identical sources: every source equals the corpus, KL exactly 0") {
    val got = runK62(Seq((1L, "a a b", "s1"), (2L, "a a b", "s2")))
    assert(got.length == 2)
    got.foreach { r =>
      assert(r.getDouble(3) == 0.0, s"KL(p‖p) = 0: $r")
    }
  }

  test("k62 hand-computed divergence against the decimal-exact terms") {
    // s1: a×3 b×1 (n=4); s2: a×1 b×3 (n=4); corpus: a×4 b×4 (tot=8)
    val got = runK62(Seq((1L, "a a a b", "s1"), (2L, "a b b b", "s2")))
      .map(r => r.getString(0) -> r).toMap
    def term(c: Long, n: Long, ct: Long, tot: Long) =
      d6((c.toDouble / n) * math.log((c.toDouble * tot) / (ct.toDouble * n)))
    val kl = term(3, 4, 4, 8).add(term(1, 4, 4, 8)).doubleValue()
    assert(got("s1").getLong(1) == 2L && got("s1").getLong(2) == 4L)
    assert(got("s1").getDouble(3) == kl, s"s1: ${got("s1")} vs $kl")
    // symmetric construction ⇒ identical divergence
    assert(got("s2").getDouble(3) == kl, s"s2: ${got("s2")}")
    assert(kl > 0, "diverging sources must read positive")
  }

  test("k62 plan: one token pass, vocab regroups reuse the exchange") {
    val df = graft.engine.Round19Ops.k62.fn(spark, sf0001)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
      .split("== Initial Plan ==").head
    assert("\\bGenerate\\b".r.findAllIn(p).length == 1,
      s"k62 must tokenize exactly once:\n$p")
    assert(p.contains("ReusedExchange"),
      s"cf/ns/tt must reuse the (source, token) exchange:\n$p")
    assert(!p.contains("Window"), s"k62 is windows-free:\n$p")
  }

  // ------------------------------------------------------------------ k63

  private def runK63(docs: Seq[(Long, String)]): Map[Long, (Long, Long, String)] = {
    val sp = spark; import sp.implicits._
    graft.engine.Round19Ops.k63Plan(docs.toDF("doc_id", "text")).collect()
      .map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getString(3)))).toMap
  }

  test("k63 rewrite: untouched verbatim, full coverage empties, spans union") {
    val e = testIds(0)
    val t1 = trainIds(0); val t2 = trainIds(1); val t3 = trainIds(2)
    val w = (1 to 21).map(i => s"w$i") // shared 21 tokens
    val clean = (1 to 25).map(i => uniq("c", i))
    val docs = Seq(
      e  -> w.mkString(" "),                       // test: holds [1..20] AND [2..21]
      t1 -> w.mkString(" "),                       // both spans hit → union = all 21
      t2 -> (w.take(20) ++ clean.take(5)).mkString(" "), // only [1..20] shared → 20 removed, 5 kept
      t3 -> clean.mkString(" "))                   // no overlap → verbatim
    val got = runK63(docs)
    assert(got.keySet == Set(t1, t2, t3), s"train docs only: ${got.keySet}")
    assert(got(t1) == ((21L, 21L, "")),
      s"overlapping spans union to full coverage, empty string: ${got(t1)}")
    assert(got(t2) == ((25L, 20L, clean.take(5).mkString(" "))),
      s"partial: exactly the covered prefix goes: ${got(t2)}")
    assert(got(t3) == ((25L, 0L, clean.mkString(" "))),
      s"untouched doc reproduces its text verbatim: ${got(t3)}")
  }

  test("k63 sub-width train docs are never touched and still appear") {
    val e = testIds(0); val t = trainIds(0)
    val short = (1 to 19).map(i => s"s$i").mkString(" ") // < 20 tokens
    val got = runK63(Seq(e -> ((1 to 25).map(i => s"s$i").mkString(" ")),
                         t -> short))
    // the test doc CONTAINS the train doc's text as a prefix, but a
    // sub-width doc has no 20-token span to match — verbatim survival
    assert(got(t) == ((19L, 0L, short)), s"sub-width: ${got(t)}")
  }

  test("k63 plan: two split-pruned shingle passes, map-side rewrite, no cartesian") {
    val df = graft.engine.Round19Ops.k63.fn(spark, sf0001)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
      .split("== Initial Plan ==").head
    assert("\\bGenerate\\b".r.findAllIn(p).length == 2,
      s"one shingling per split half (the k61 discipline):\n$p")
    assert(!p.contains("CartesianProduct") &&
             !p.contains("BroadcastNestedLoopJoin"), s"hash joins only:\n$p")
    assert(!p.contains("Window"),
      s"the rewrite is map-side array HOFs, never a window:\n$p")
  }

  // ------------------------------------------------------------------ k64

  private def runK64(rows: Seq[(Long, String)]): Seq[(Long, String, Long, Long)] = {
    val sp = spark; import sp.implicits._
    graft.engine.Round19Ops.k64Plan(
      rows.map { case (id, src) => (id, "x", src) }
        .toDF("doc_id", "text", "source")).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
      .toSeq
  }

  test("k64 interleave: round-robin across equal sources, compaction on exhaustion") {
    // sources A (3 docs) and B (1 doc): key layout A→1,3,5 B→2 under
    // S=2, so the global order is A₁ B₁ A₂ A₃ — positions contiguous
    // 1..4 (B's missing later slots never leave gaps)
    val got = runK64(Seq((10L, "A"), (11L, "A"), (12L, "A"), (20L, "B")))
    assert(got.map(_._4).sorted == Seq(1L, 2L, 3L, 4L),
      s"positions must be contiguous 1..N: $got")
    val byPos = got.sortBy(_._4).map(_._2)
    assert(byPos == Seq("A", "B", "A", "A"),
      s"round-robin then compaction: $byPos")
    // within each source, global order follows src_rank
    val aOrder = got.filter(_._2 == "A").sortBy(_._4).map(_._3)
    assert(aOrder == Seq(1L, 2L, 3L), s"A's ranks in position order: $aOrder")
  }

  test("k64 determinism: row order and partitioning never change the schedule") {
    val rows = (1L to 40L).map(i => (i, s"s${i % 4}"))
    val a = runK64(rows).sortBy(_._1)
    val b = runK64(scala.util.Random.shuffle(rows)).sortBy(_._1)
    assert(a == b, "the schedule is a pure function of (doc_id, source)")
  }

  test("k64 hash shuffle: the within-source order is the md5 order, not doc_id order") {
    val rows = (1L to 8L).map(i => (i, "s"))
    val got = runK64(rows)
    val byRank = got.sortBy(_._3).map(_._1)
    assert(byRank != (1L to 8L).toSeq,
      s"hash order must differ from insertion order: $byRank")
    val expect = (1L to 8L).sortBy(i =>
      java.security.MessageDigest.getInstance("MD5")
        .digest(i.toString.getBytes("UTF-8"))
        .map(b => f"${b & 0xff}%02x").mkString)
    assert(byRank == expect, s"and equal the independent md5 sort: $byRank")
  }

  // ------------------------------------------------------------------ k65

  private def runK65(docs: Seq[(Long, String)]): Map[Long, (String, Long)] = {
    val sp = spark; import sp.implicits._
    graft.engine.Round19Ops.k65Plan(docs.toDF("doc_id", "text")).collect()
      .map(r => r.getLong(0) -> ((r.getString(1), r.getLong(2)))).toMap
  }

  test("k65 verdicts: corpus precedence, batch keep-min, set-normalized key, admitted self") {
    val t1 = trainIds(0)
    val eA = testIds(0) min testIds(1); val eB = testIds(0) max testIds(1)
    val eC = testIds(2); val eD = testIds(3)
    val docs = Seq(
      t1 -> "a b c",
      // eA: shuffled order AND repeated tokens — the SET key matches the
      // corpus doc; it also duplicates eB in-batch, but corpus wins
      eA -> "c b a a",
      eB -> "a c b",
      // eC/eD share a batch-only key → min admitted, max dup_in_batch
      eC -> "x y z",
      eD -> "z y x") // note: eC < eD not guaranteed — normalize below
    val got = runK65(docs)
    assert(got(eA) == (("dup_of_corpus", t1)),
      s"corpus dup wins over batch dup, canonical is the corpus holder: ${got(eA)}")
    assert(got(eB) == (("dup_of_corpus", t1)), s"every holder of a corpus key: ${got(eB)}")
    val (lo, hi) = (eC min eD, eC max eD)
    assert(got(lo) == (("admitted", lo)), s"batch min admits as itself: ${got(lo)}")
    assert(got(hi) == (("dup_in_batch", lo)), s"batch dup canonicalizes to min: ${got(hi)}")
  }

  test("k65 the standing corpus is never re-judged; unique arrivals admit") {
    val t1 = trainIds(0); val e = testIds(0)
    val got = runK65(Seq(t1 -> "p q r", e -> "only new words here"))
    assert(got.keySet == Set(e), s"train docs never appear: ${got.keySet}")
    assert(got(e) == (("admitted", e)), s"unique arrival: ${got(e)}")
  }

  // ------------------------------------------------------------------ k66

  test("k66 buckets: identical docs read m=4/J=1; a crafted pair lands in its computed bucket") {
    val sp = spark; import sp.implicits._
    def md5hex(s: String) = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map(b => f"${b & 0xff}%02x").mkString
    def mh(i: Int, toks: Set[String]) = toks.map(t => md5hex(s"$i:$t")).min
    val (ta, tb) = (Set("a", "b", "c"), Set("a", "b", "d"))
    val expectedM = (0 to 3).count(i => mh(i, ta) == mh(i, tb))
    val docs = Seq(
      (1L, "a b c", "s"), (2L, "a b d", "s"),   // J = 2/4
      (3L, "q r s", "s"), (4L, "q r s", "s"))   // identical → m=4, J=1
      .toDF("doc_id", "text", "source")
    val pairs = graft.api.Dedup.tokenJaccardPairsAuto(
      docs, "doc_id", "text", "source", 0.0)
    val got = graft.engine.Round19Ops.k66Plan(docs, pairs).collect()
      .map(r => r.getInt(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
    assert(got(4) == ((1L, 1.0)), s"the identical pair: ${got.get(4)}")
    assert(got(expectedM)._2 == 0.5 || got(expectedM)._1 >= 1L,
      s"the J=0.5 pair sits in its signature-computed bucket $expectedM: $got")
    assert(got.values.map(_._1).sum == 2L, s"every pair in exactly one bucket: $got")
  }

  test("k66 fixture calibration: mean true Jaccard increases with the match count") {
    val rows = graft.engine.Round19Ops.k66.fn(spark, sf0001).collect()
      .map(r => r.getInt(0) -> r.getDouble(2)).sortBy(_._1)
    assert(rows.length >= 3, s"multiple buckets populate: ${rows.toSeq}")
    rows.sliding(2).foreach { case Array((m1, j1), (m2, j2)) =>
      assert(j1 < j2, s"monotone calibration broken at $m1→$m2: $j1 vs $j2")
    }
  }

  // ------------------------------------------------------------------ k67

  test("k67 sweep: hand-computed curve, empty grid rows survive with zeros") {
    val sp = spark; import sp.implicits._
    val pairs = Seq((1L, 2L, 0.95), (1L, 3L, 0.65), (4L, 5L, 0.55))
      .toDF("id1", "id2", "jaccard")
    val got = graft.engine.Round19Ops.k67Plan(pairs).collect()
      .map(r => r.getDouble(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    assert(got(0.5) == ((3L, 5L, 3L)), s"grid min sees everything: ${got(0.5)}")
    assert(got(0.6) == ((2L, 3L, 2L)), s"0.6: ${got(0.6)}")
    assert(got(0.7) == ((1L, 2L, 1L)), s"0.7: ${got(0.7)}")
    assert(got(0.9) == ((1L, 2L, 1L)), s"0.9: ${got(0.9)}")
    // a grid threshold nothing reaches still emits its zero row
    val empty = graft.engine.Round19Ops.k67Plan(
      Seq((1L, 2L, 0.55)).toDF("id1", "id2", "jaccard")).collect()
      .map(r => r.getDouble(0) -> r.getLong(1)).toMap
    assert(empty(0.9) == 0L && empty(0.5) == 1L,
      s"zero rows survive the left join: $empty")
  }

  test("k67 keep-min: a doc that is both a keeper and a loser counts removed once") {
    val sp = spark; import sp.implicits._
    // doc 2 loses to 1 (id2 side) AND keeps against 3 (id1 side): it is
    // removed exactly once; doc 3 removed via 2
    val pairs = Seq((1L, 2L, 0.8), (2L, 3L, 0.8)).toDF("id1", "id2", "jaccard")
    val got = graft.engine.Round19Ops.k67Plan(pairs).collect()
      .map(r => r.getDouble(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3))))
      .toMap
    assert(got(0.8) == ((2L, 3L, 2L)),
      s"docs {1,2,3}, removed {2,3}: ${got(0.8)}")
  }

  test("k67 fixture curve is monotone non-increasing in the threshold") {
    val rows = graft.engine.Round19Ops.k67.fn(spark, sf0001).collect()
      .map(r => (r.getDouble(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .sortBy(_._1)
    assert(rows.length == 5)
    rows.sliding(2).foreach { case Array(a, b) =>
      assert(a._2 >= b._2 && a._3 >= b._3 && a._4 >= b._4,
        s"tightening tau cannot grow any count: $a vs $b")
    }
    assert(rows.head._2 > 0, "the grid minimum sees the near-dup mass")
  }

  // ------------------------------------------------------------------ k68

  test("k68 drift: hand-computed shares, zero-sum drift, keep-min survivors") {
    val sp = spark; import sp.implicits._
    // source A: docs 1 (4 tokens, kept) and 2 (6 tokens, removed as a dup
    // of 1); source B: doc 3 (10 tokens, untouched).
    // before: A 10/20, B 10/20; after: A 4/14, B 10/14
    val docs = Seq(
      (1L, "a b c d", "A"), (2L, "a b c d e f", "A"),
      (3L, "p q r s t u v w x y", "B")).toDF("doc_id", "text", "source")
    val pairs = Seq((1L, 2L, 0.85)).toDF("id1", "id2", "jaccard")
    val got = graft.engine.Round19Ops.k68Plan(docs, pairs).collect()
      .map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4),
          r.getDouble(5), r.getDouble(6), r.getDouble(7)))).toMap
    def r4(x: Double) = BigDecimal(x)
      .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(got("A") == ((2L, 1L, 10L, 4L, 0.5, r4(4.0 / 14),
                         r4(4.0 / 14 - 0.5))), s"A: ${got("A")}")
    assert(got("B") == ((1L, 1L, 10L, 10L, 0.5, r4(10.0 / 14),
                         r4(10.0 / 14 - 0.5))), s"B: ${got("B")}")
    // drift is zero-sum up to rounding
    assert(math.abs(got.values.map(_._7).sum) < 2e-4,
      s"shares redistribute, they don't leak: ${got.values.map(_._7)}")
  }

  test("k68 no-dedup corpus: shares identical, drift exactly +0.0") {
    val sp = spark; import sp.implicits._
    val docs = Seq((1L, "a b", "A"), (2L, "c d", "B"))
      .toDF("doc_id", "text", "source")
    val empty = Seq.empty[(Long, Long, Double)].toDF("id1", "id2", "jaccard")
    val got = graft.engine.Round19Ops.k68Plan(docs, empty).collect()
    got.foreach { r =>
      assert(r.getDouble(5) == r.getDouble(6), s"shares unchanged: $r")
      assert(java.lang.Double.doubleToRawLongBits(r.getDouble(7)) == 0L,
        s"drift is positive zero bits: $r")
    }
  }

  test("k60 plan: join-free, one token pass, the only window is vocab-sized per source") {
    val df = graft.engine.Round19Ops.k60.fn(spark, sf0001)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
      .split("== Initial Plan ==").head
    assert(!p.contains("Join"), s"k60 must be join-free:\n$p")
    assert("\\bGenerate\\b".r.findAllIn(p).length == 1,
      s"k60 must tokenize exactly once:\n$p")
    assert("\\bWindow\\b".r.findAllIn(p).length == 1,
      s"one rank window over the (source, type) spectrum:\n$p")
  }
}
