package graft

/** Adversarial edge pins for the round-17 declared queries — cases the
  * fixture cannot force, exercised on synthesized frames through the REAL
  * declared plan bodies ([[graft.engine.Round17Ops]] — the h46Plan
  * discipline: the spec drives the shipped plan, not a hand copy that
  * regressions could silently diverge from). */
class Round17Spec extends SparkSpec {

  private def tok(prefix: String, n: Int): Seq[String] =
    (1 to n).map(i => s"$prefix$i")

  // ------------------------------------------------------------------ k48

  test("k48 bigram nll: MLE arithmetic, within-doc multiplicity, short-doc absence") {
    val sp = spark
    import sp.implicits._
    // corpus: c(a,b) = 2 (both from doc 1), c(b,a) = 1, c(a,c) = 1;
    // heads a = 3 (a,b twice + a,c once), b = 1.
    //   doc 1 "a b a b": bigrams (a,b)x2 + (b,a)x1 — the (a,b) TYPE carries
    //     multiplicity 2, so the doc mean must weight it twice:
    //     -[2 ln(2/3) + 1 ln(1/1)] / 3 = 0.2703
    //   doc 2 "a c": -ln(1/3) = 1.0986
    //   doc 3 "z": single token, no bigrams — absent from the output.
    val docs = Seq((1L, "a b a b"), (2L, "a c"), (3L, "z"))
      .toDF("doc_id", "text")
    val got = graft.engine.Round17Ops.k48Plan(docs).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2), r.getInt(3))))
      .toMap
    assert(got.keySet == Set(1L, 2L), s"single-token doc must be absent: $got")
    val exp1 = BigDecimal(-(2 * math.log(2.0 / 3) + math.log(1.0)) / 3)
      .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(got(1L) == ((3L, exp1, 0)),
      s"repeated bigram must count with multiplicity: ${got(1L)} vs $exp1")
    assert(got(2L) == ((1L, 1.0986, 0)), s"doc 2: ${got(2L)}")
  }

  test("k48 flag: a uniformly-novel-transition doc crosses the 3.45 gate") {
    val sp = spark
    import sp.implicits._
    // 32 docs all opening with head token h followed by a UNIQUE second
    // token: every bigram has count 1 over a head count of 32, so each
    // doc's mean nll is exactly ln 32 = 3.4657 > 3.45 — the flag must
    // fire on all of them (and the threshold provably bites).
    val docs = (1 to 32).map(i => (i.toLong, s"h w$i")).toDF("doc_id", "text")
    val got = graft.engine.Round17Ops.k48Plan(docs).collect()
    assert(got.length == 32)
    assert(got.forall(_.getDouble(2) == 3.4657), s"ln 32: ${got.head}")
    assert(got.forall(_.getInt(3) == 1), "all docs must be flagged")
  }

  test("k48 plan: one bigram pass, no data-sized window, tf exchange reused") {
    val df = graft.engine.Round17Ops.k48.fn(spark, sf0001)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
      .split("== Initial Plan ==").head
    val explodes = "\\bGenerate\\b".r.findAllIn(p).length
    assert(explodes == 1,
      s"k48 must extract bigrams exactly once, found $explodes:\n$p")
    // the r14 shipped plan computed ct/ht as windows partitioned by the
    // bare token key — a Zipf head's partition is corpus-sized and
    // WindowExec cannot be skew-split (r14 judge finding). The corpus
    // rates must be vocab-sized hash aggregates joined back instead.
    assert(!p.contains("Window"),
      s"k48 must not window-partition by a bare token key:\n$p")
    assert(p.contains("ReusedExchange"),
      s"the tf (doc, a, b) exchange must be shared by cf/hf — without the " +
        s"reuse the bigram Generate re-expands per consumer:\n$p")
  }

  // ------------------------------------------------------------------ k49

  test("k49 buckets: cutoff ties share a bucket (the non-NTILE pin), per-source cutoffs") {
    val sp = spark
    import sp.implicits._
    // global token counts: a=6, b=5, c=1 over 12 → scores are fully
    // hand-computable. Source A: three docs tied at -ln(6/12) = 0.6931,
    // then -ln(5/12) = 0.8755, then -ln(1/12) = 2.4849. With n = 5 the
    // head cutoff is the score at rank ceil(5/3) = 2, which sits INSIDE
    // the tie → ALL THREE tied docs are head (NTILE(3) would push doc 3
    // into the middle tile by position — the declared semantics are
    // cutoff-based precisely so ties never split). Source B gets its own
    // cutoffs: one doc per bucket.
    val docs = Seq(
      (1L, "A", "a"), (2L, "A", "a"), (3L, "A", "a"),
      (4L, "A", "b"), (5L, "A", "c"),
      (6L, "B", "a a"), (7L, "B", "a b"), (8L, "B", "b b b")
    ).toDF("doc_id", "source", "text")
    val got = graft.engine.Round17Ops.k49Plan(docs).collect()
      .map(r => r.getLong(0) -> ((r.getDouble(2), r.getString(3)))).toMap
    assert(got(1L)._2 == "head" && got(2L)._2 == "head" && got(3L)._2 == "head",
      s"all docs tied at the cutoff score must share the head bucket: $got")
    assert(got(4L)._2 == "middle" && got(5L)._2 == "tail", s"A tail: $got")
    assert(got(6L)._2 == "head" && got(7L)._2 == "middle" && got(8L)._2 == "tail",
      s"source B buckets independently: $got")
    // corpus counts: a=6, b=5, c=1 over 12 tokens
    assert(got(1L)._1 == 0.6931 && got(5L)._1 == 2.4849, s"scores: $got")
  }

  test("k49 plan: no NTILE, cutoffs broadcast back") {
    val df = graft.engine.Round17Ops.k49.fn(spark, sf0001)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
      .split("== Initial Plan ==").head
    assert(!p.toLowerCase.contains("ntile"),
      s"k49 must bucket via cutoffs, never a positional NTILE:\n$p")
    assert(p.contains("BroadcastHashJoin"),
      s"the sources-sized cutoff frame must broadcast:\n$p")
  }

  // ------------------------------------------------------------------ k50

  test("k50 canonical: quality argmax, doc_id tie-break, singleton kept; kept == clusters") {
    val sp = spark
    import sp.implicits._
    val labels = Seq((10L, 10L), (11L, 10L), (12L, 10L), (20L, 20L))
      .toDF("doc_id", "cluster_id")
    // cluster 10: doc 11 and 12 tie on n_chars = 9 → canonical must be
    // the SMALLER doc_id (11); doc 10's n_chars = 5 loses even though it
    // is the cluster label (keep-min would pick 10 — the k01/k23 rule
    // this query deliberately replaces). Singleton 20 keeps itself.
    val quality = Seq((10L, 5L), (11L, 9L), (12L, 9L), (20L, 1L))
      .toDF("doc_id", "n_chars")
    val got = graft.engine.Round17Ops.k50Plan(labels, quality).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getInt(3))))
      .toMap
    assert(got(10L) == ((10L, 11L, 0)), s"label loses to quality: ${got(10L)}")
    assert(got(11L) == ((10L, 11L, 1)), s"tie breaks to min doc_id: ${got(11L)}")
    assert(got(12L) == ((10L, 11L, 0)), s"tie loser dropped: ${got(12L)}")
    assert(got(20L) == ((20L, 20L, 1)), s"singleton kept: ${got(20L)}")
    assert(got.values.count(_._3 == 1) == got.values.map(_._1).toSet.size,
      "kept count must equal cluster count")
  }

  test("k50 plan: argmax is a struct-max hash agg — no window, no sort before the join-back") {
    val sp = spark
    import sp.implicits._
    val labels = Seq((1L, 1L), (2L, 1L)).toDF("doc_id", "cluster_id")
    val quality = Seq((1L, 3L), (2L, 7L)).toDF("doc_id", "n_chars")
    val df = graft.engine.Round17Ops.k50Plan(labels, quality)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
      .split("== Initial Plan ==").head
    assert(!p.contains("Window"),
      s"k50's survivor pick is max(struct), never a rank window:\n$p")
  }

  // ------------------------------------------------------------------ k53

  test("k53 overlap matrix: 3-way digest emits all pairs once; within-source repeats collapse") {
    val sp = spark
    import sp.implicits._
    val s20 = tok("s", 20).mkString(" ") // shared by A (twice), B, C
    val t20 = tok("t", 20).mkString(" ") // shared by A and B only
    val u20 = tok("u", 20).mkString(" ") // A only — contributes nothing
    val docs = Seq(
      (1L, "A", s20), (2L, "A", s20), (3L, "A", t20), (4L, "A", u20),
      (5L, "B", s20), (6L, "B", t20),
      (7L, "C", s20)
    ).toDF("doc_id", "source", "text")
    val got = graft.engine.Round17Ops.k53Plan(docs).collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    // the 3-source span contributes one count to each of the 3 pairs
    // (i < j over the sorted set — no (B, A) mirror, no (A, A) self);
    // A's duplicate holding of s20 collapses via the DISTINCT
    assert(got == Map(("A", "B") -> 2L, ("A", "C") -> 1L, ("B", "C") -> 1L),
      s"pair emission: $got")
  }

  test("k53 plan: one shingle pass, pair emission join-free") {
    val df = graft.engine.Round17Ops.k53.fn(spark, sf0001)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
      .split("== Initial Plan ==").head
    val explodes = "\\bGenerate\\b".r.findAllIn(p).length
    assert(explodes == 2,
      s"k53 shingles once and emits pairs once (two Generates), found $explodes:\n$p")
    assert(!p.contains("Join"),
      s"k53 must not self-join the digest frame (the oracle does):\n$p")
  }

  // ------------------------------------------------------------------ k54

  test("k54 OOV: boundary tie decided by token ASC; OOV mass weights multiplicity") {
    val sp = spark
    import sp.implicits._
    // corpus counts: x=4, a=3, b=3 — at V=2 the second slot is a COUNT
    // TIE between a and b, and the token-ASC rule must admit 'a' and
    // exclude 'b'. doc 1 "x b b": 2 of 3 tokens OOV (multiplicity
    // weighted); doc 2 "x a a": fully in-vocab → 0.0; doc 3 "b a x x":
    // b OOV once.
    val docs = Seq((1L, "x b b"), (2L, "x a a"), (3L, "b a x x"))
      .toDF("doc_id", "text")
    val got = graft.engine.Round17Ops.k54Plan(docs, 2).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getDouble(3))))
      .toMap
    assert(got(1L) == ((3L, 2L, 0.6667)), s"multiplicity: ${got(1L)}")
    assert(got(2L) == ((3L, 0L, 0.0)), s"all in vocab: ${got(2L)}")
    assert(got(3L) == ((4L, 1L, 0.25)),
      s"tie must admit 'a' (token ASC), exclude 'b': ${got(3L)}")
  }

  test("k54 plan: vocab is a V-sized TakeOrdered broadcast, no global sort before the limit") {
    val df = graft.engine.Round17Ops.k54.fn(spark, sf0001)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
      .split("== Initial Plan ==").head
    assert(p.contains("TakeOrderedAndProject"),
      s"top-V must be a TakeOrderedAndProject, not a full sort + limit:\n$p")
    assert(p.contains("BroadcastHashJoin"),
      s"the V-row vocab must broadcast:\n$p")
    val explodes = "\\bGenerate\\b".r.findAllIn(p).length
    assert(explodes == 1,
      s"the corpus is tokenized ONCE — the vocab branch must reuse the tf exchange:\n$p")
    assert(p.contains("ReusedExchange"),
      s"the tf (doc, t) exchange must be reused by the vocab branch:\n$p")
  }

  // ------------------------------------------------------------------ k55

  test("k55 removal mass: overlapping regions merge; min holder keeps its tokens") {
    val sp = spark
    import sp.implicits._
    // doc 1: 29 tokens; window st=1 is shared with doc 2, window st=10
    // with doc 3, windows st=2..9 are unique. The two covered intervals
    // [1,20] and [10,29] OVERLAP — the union must be 29 tokens, not 40
    // (the double-count a naive span-sum would make). Doc 1 is the min
    // holder of both digests → removes NOTHING (n_removed = 0). Docs 2
    // and 3 each hold one shared window inside 25 tokens → 20 removable.
    val a = tok("a", 29)
    val doc1 = a.mkString(" ")
    val doc2 = (a.take(20) ++ tok("f", 5)).mkString(" ")
    val doc3 = (a.slice(9, 29) ++ tok("g", 5)).mkString(" ")
    val docs = Seq((1L, doc1), (2L, doc2), (3L, doc3)).toDF("doc_id", "text")
    val got = graft.engine.Round17Ops.k55Plan(docs).collect()
      .map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4)))).toMap
    assert(got(1L) == ((29L, 29L, 0L, 0.0)),
      s"overlap union is 29 (not 40) and the min holder keeps all: ${got(1L)}")
    assert(got(2L) == ((25L, 20L, 20L, 0.8)), s"doc 2: ${got(2L)}")
    assert(got(3L) == ((25L, 20L, 20L, 0.8)), s"doc 3: ${got(3L)}")
  }

  test("k55 union law: sweep equals brute-force bitset over random overlap structures") {
    val sp = spark
    import sp.implicits._
    // doc 1 is a 60-token master of DISTINCT tokens (every window unique);
    // for each chosen start st a partner doc holds EXACTLY master[st..st+19]
    // (20 tokens, one window), so doc 1's duplicated positions are exactly
    // the chosen set and its covered-token union is brute-force computable.
    // Ten seeded-random sets exercise disjoint / adjacent / nested /
    // chained overlaps the deterministic pin cannot enumerate.
    val rnd = new scala.util.Random(42)
    val master = tok("m", 60)
    (1 to 10).foreach { trial =>
      val starts = (1 to 41).filter(_ => rnd.nextDouble() < 0.15) match {
        case Nil => Seq(1 + rnd.nextInt(41))
        case s => s
      }
      val partners = starts.zipWithIndex.map { case (st, i) =>
        ((i + 2).toLong, master.slice(st - 1, st + 19).mkString(" "))
      }
      val docs = ((1L, master.mkString(" ")) +: partners).toDF("doc_id", "text")
      val expected = starts.flatMap(st => st until (st + 20)).toSet.size.toLong
      val row = graft.engine.Round17Ops.k55Plan(docs).collect()
        .find(_.getLong(0) == 1L).get
      assert(row.getLong(2) == expected && row.getLong(3) == 0L,
        s"trial $trial starts=$starts: got (dup=${row.getLong(2)}, " +
          s"removed=${row.getLong(3)}), brute-force union=$expected")
    }
  }

  test("k55 plan: join-free — one shingle pass, one class-tag explode, sweep windows") {
    val df = graft.engine.Round17Ops.k55.fn(spark, sf0001)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
      .split("== Initial Plan ==").head
    val explodes = "\\bGenerate\\b".r.findAllIn(p).length
    assert(explodes == 2,
      s"k55 shingles once and class-tags once (two Generates), found $explodes:\n$p")
    assert(!p.contains("Join"),
      s"k55 is join-free (dup via digest window, faces via class pivot):\n$p")
  }

  // ------------------------------------------------------------------ k51

  test("k51 mixture: share/rate/epochs arithmetic on exact token masses") {
    val sp = spark
    import sp.implicits._
    // s1: 30 tokens over two docs, s2: 10 over one → tot 40, target 20.
    //   s1 share 0.75, rate min(1, 20/30) = 0.6667, epochs ceil(2/3) = 1
    //   s2 share 0.25, rate 1.0 (capped), epochs ceil(2.0) = 2
    val docs = Seq(
      (1L, "s1", Seq.fill(10)("t").mkString(" ")),
      (2L, "s1", Seq.fill(20)("t").mkString(" ")),
      (3L, "s2", Seq.fill(10)("t").mkString(" "))
    ).toDF("doc_id", "source", "text")
    val got = graft.engine.Round17Ops.k51Plan(docs).collect()
      .map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getDouble(3), r.getDouble(4),
          r.getLong(5)))).toMap
    assert(got("s1") == ((30L, 2L, 0.75, 0.6667, 1L)), s"s1: ${got("s1")}")
    assert(got("s2") == ((10L, 1L, 0.25, 1.0, 2L)), s"s2: ${got("s2")}")
  }

  test("k52 semantic decontam: identical cross-split pair flags; witness ties to min train id") {
    val sp = spark
    import sp.implicits._
    // split classes come from md5(vec_id) — ids chosen so the class is
    // forced (the Round16Spec table): 0/2 train, 3/5 test, 10 val.
    //   vec 3 duplicates train vec 0 exactly → max_sim 1.0, flagged;
    //   vec 5 is orthogonal to BOTH train vecs → a 0.0 argmax TIE whose
    //     witness must break to the MIN train id (0);
    //   vec 10 sits at cosine 0.6 to train 0 — near but under the 0.999
    //     spec threshold, so reported clean with its witness.
    // train vectors are mutually orthogonal so no pair is ambiguous.
    val emb = Seq(
      (0L, Seq(1f, 0f, 0f, 0f)), (2L, Seq(0f, 0f, 1f, 0f)),
      (3L, Seq(1f, 0f, 0f, 0f)), (5L, Seq(0f, 1f, 0f, 0f)),
      (10L, Seq(0.6f, 0.8f, 0f, 0f))
    ).toDF("vec_id", "embedding")
    val got = graft.engine.Round17Ops.k52Plan(emb, 0.999).collect()
      .map(r => r.getLong(0) ->
        ((r.getString(1), r.getDouble(2), r.getLong(3), r.getInt(4)))).toMap
    assert(got.keySet == Set(3L, 5L, 10L), s"eval rows only: $got")
    assert(got(3L) == (("test", 1.0, 0L, 1)), s"exact dup flags: ${got(3L)}")
    assert(got(5L) == (("test", 0.0, 0L, 0)),
      s"argmax tie must break to min train id: ${got(5L)}")
    assert(got(10L) == (("val", 0.6, 0L, 0)),
      s"near-but-under-threshold stays clean: ${got(10L)}")
  }

  test("k52 plan: argmax is a hash agg over the Cartesian — no window, train side broadcast") {
    val df = graft.engine.Round17Ops.k52.fn(spark, sf0001)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
      .split("== Initial Plan ==").head
    assert(!p.contains("Window"),
      s"k52's per-eval max is max(struct), never a rank window:\n$p")
    assert(p.contains("Broadcast"),
      s"the train side must materialize through a broadcast barrier:\n$p")
  }

  test("k51 plan: map-only counting — no explode, broadcast-only joins") {
    val df = graft.engine.Round17Ops.k51.fn(spark, sf0001)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
      .split("== Initial Plan ==").head
    assert(!p.contains("Generate"),
      s"k51 counts tokens via size(split), never an explode:\n$p")
    assert(!p.contains("SortMergeJoin") && !p.contains("ShuffledHashJoin"),
      s"k51's only join is the 1-row total broadcast:\n$p")
  }
}
