package graft

import org.apache.spark.sql.functions._

/** Adversarial edge pins for the round-18 declared queries — cases the
  * fixture cannot force, exercised on synthesized frames through the REAL
  * declared plan bodies ([[graft.engine.Round18Ops]] — the h46Plan
  * discipline), plus the [[graft.operators.Bpe]] operator contract. */
class Round18Spec extends SparkSpec {

  private def tok(prefix: String, n: Int): Seq[String] =
    (1 to n).map(i => s"$prefix$i")

  // ------------------------------------------------------------------ k56

  /** Scala brute force of k56's declared statistic: per doc, the max
    * window length (≥ 20, ≤ 1279) whose exact text appears in ANOTHER
    * doc — independent of every mechanism the plan uses. */
  private def bruteMaxDup(docs: Seq[(Long, String)]): Map[Long, Int] = {
    val toks = docs.map { case (id, t) => id -> t.split(" ").toVector }
    val wins: Map[Long, Set[String]] = toks.map { case (id, ts) =>
      id -> (for {
        l <- 20 to math.min(ts.length, 1279)
        i <- 0 to ts.length - l
      } yield ts.slice(i, i + l).mkString(" ")).toSet
    }.toMap
    wins.flatMap { case (id, ws) =>
      val others = wins.collect { case (o, w2) if o != id => w2 }
        .foldLeft(Set.empty[String])(_ union _)
      val dup = ws.filter(others.contains)
      if (dup.isEmpty) None
      else Some(id -> dup.map(_.count(_ == ' ') + 1).max)
    }
  }

  private def runK56(docs: Seq[(Long, String)]): Map[Long, Long] = {
    val sp = spark
    import sp.implicits._
    graft.engine.Round18Ops.k56Plan(docs.toDF("doc_id", "text")).collect()
      .map(r => r.getLong(0) -> r.getLong(2)).toMap
  }

  test("k56 exactness: covered-token mass (k55) overestimates the longest substring, k56 does not") {
    // doc 1: 29 tokens; doc 2 holds tokens 1..20, doc 3 holds 10..29.
    // EVERY token of doc 1 sits inside some duplicated window (k55's
    // covered union = 29 tokens), but no SINGLE partner holds any
    // 21-token window of it — the true longest duplicated substring is
    // exactly 20 for all three docs. Multi-partner coverage and maximal
    // duplicated substring are different statistics; k56 is the latter.
    val a = tok("a", 29)
    val docs = Seq(
      (1L, a.mkString(" ")),
      (2L, (a.take(20) ++ tok("f", 5)).mkString(" ")),
      (3L, (a.slice(9, 29) ++ tok("g", 5)).mkString(" ")))
    assert(runK56(docs) == Map(1L -> 20L, 2L -> 20L, 3L -> 20L))
    // and the same corpus through k55 reads 29 covered tokens for doc 1
    // — the declared divergence between coverage and exact substring
    val sp = spark
    import sp.implicits._
    val k55 = graft.engine.Round17Ops.k55Plan(docs.toDF("doc_id", "text"))
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(k55(1L) == 29L, s"k55 must report the 29-token union: $k55")
  }

  test("k56 brackets: in-bracket refinement (55), boundary widths (39, 40), level-2 (100)") {
    // single-partner duplicates of exact planted lengths across the
    // ladder: 39 = level 0 + δ19, 40 = level 1 + δ0, 55 = level 1 + δ15,
    // 100 = level 2 + δ20 — each must come back EXACTLY
    for (m <- Seq(39, 55, 40, 100)) {
      val master = tok("m", 120)
      val docs = Seq(
        (1L, master.mkString(" ")),
        (2L, (tok("x", 7) ++ master.slice(10, 10 + m) ++ tok("y", 6))
          .mkString(" ")))
      val got = runK56(docs)
      assert(got == Map(1L -> m.toLong, 2L -> m.toLong),
        s"planted $m-token duplicate: $got")
    }
  }

  test("k56 non-consecutive high-level runs: two partners at level 1 do not splice") {
    // doc 1: 60 tokens; doc 2 = tokens 1..40, doc 3 = tokens 21..60.
    // At level 1 (w=40) doc 1's dup positions are {1, 21} — NOT a run —
    // so no δ probe may fire and the answer is exactly 40 (no single
    // partner holds more than 40 consecutive tokens of doc 1).
    val a = tok("a", 60)
    val docs = Seq(
      (1L, a.mkString(" ")),
      (2L, a.take(40).mkString(" ")),
      (3L, a.drop(20).mkString(" ")))
    assert(runK56(docs) == Map(1L -> 40L, 2L -> 40L, 3L -> 40L))
  }

  test("k56 population: dup-free and sub-width docs absent; within-doc repetition is not dup") {
    val docs = Seq(
      (1L, tok("u", 30).mkString(" ")),                    // unique, absent
      (2L, tok("s", 10).mkString(" ")),                    // sub-width, absent
      (3L, (tok("r", 15) ++ tok("r", 15)).mkString(" ")))  // self-repeat only
    assert(runK56(docs) == Map.empty,
      "no cross-doc duplicate ⇒ no rows (within-doc repetition excluded)")
  }

  test("k56 ladder cap: a 1300-token shared prefix reports exactly 1279") {
    val a = tok("c", 1310)
    val docs = Seq(
      (1L, a.mkString(" ")),
      (2L, (a.take(1300) :+ "zz").mkString(" ")))
    val got = runK56(docs)
    assert(got == Map(1L -> 1279L, 2L -> 1279L),
      s"lengths probe up to the declared 1279 cap: $got")
  }

  test("k56 law: plan equals brute force on random planted-overlap corpora") {
    val rnd = new scala.util.Random(421)
    (1 to 8).foreach { trial =>
      val master = tok("m", 80)
      // partners copy random slices (some below the 20 threshold, some
      // overlapping each other), plus noise docs sharing nothing
      val partners = (1 to 4).map { i =>
        val len = 12 + rnd.nextInt(50)
        val st = rnd.nextInt(80 - len)
        ((i + 1).toLong,
          (tok(s"p$i", 1 + rnd.nextInt(8)) ++ master.slice(st, st + len) ++
            tok(s"q$i", 1 + rnd.nextInt(8))).mkString(" "))
      }
      val noise = Seq((9L, tok("n", 25 + rnd.nextInt(30)).mkString(" ")))
      val docs = ((1L, master.mkString(" ")) +: partners) ++ noise
      val exp = bruteMaxDup(docs).map { case (k, v) => k -> v.toLong }
      val got = runK56(docs)
      assert(got == exp, s"trial $trial: got $got, brute force $exp")
    }
  }

  test("k56 plan: join-free — ladder explode + probe emission, two Generates") {
    val df = graft.engine.Round18Ops.k56.fn(spark, sf0001)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
      .split("== Initial Plan ==").head
    val explodes = "\\bGenerate\\b".r.findAllIn(p).length
    assert(explodes == 2,
      s"k56 explodes the ladder once and the probes once, found $explodes:\n$p")
    assert(!p.contains("Join"),
      s"k56 is join-free (dup + composites via digest windows; the oracle joins):\n$p")
  }

  // ------------------------------------------------------------------ k57

  test("k57 pricing: hand-computed pieces under the frozen merges; ratio") {
    val sp = spark
    import sp.implicits._
    // 'merge' → (e,r) → m,er,g,e → (m,er) → mer,g,e = 3 pieces (the
    // chained merge: rule 6 consumes rule 1's output). 'stream' →
    // (s,t) → st,r,e,a,m = 5. 'the' → no rule applies = 3.
    val docs = Seq((1L, "the merge stream")).toDF("doc_id", "text")
    val got = graft.engine.Round18Ops.k57Plan(
      docs, graft.engine.Round18Ops.Merges).collect()
    assert(got.length == 1)
    val r = got.head
    assert((r.getLong(1), r.getLong(2), r.getDouble(3)) == ((3L, 11L, 3.6667)),
      s"3 + 3 + 5 pieces over 3 tokens: $r")
  }

  test("k57 plan: map-only — zero Generate, zero Join") {
    val df = graft.engine.Round18Ops.k57.fn(spark, sf0001)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
      .split("== Initial Plan ==").head
    assert(!p.contains("Generate"),
      s"k57 folds pieces inside per-row HOFs, never an explode:\n$p")
    assert(!p.contains("Join"), s"k57 is single-table map-only:\n$p")
  }

  // ------------------------------------------------------------------ Bpe

  test("bpe encode: greedy leftmost within a rule; sequential rule order") {
    import graft.operators.Bpe
    val m = Seq("x" -> "x")
    // greedy leftmost: x x x → (xx) x, the third x does NOT re-merge
    assert(Bpe.encode("xxx", m) == Vector("xx", "x"))
    assert(Bpe.encode("xxxx", m) == Vector("xx", "xx"))
    // chained rules apply in order; a later rule cannot re-enable an
    // earlier one (rule operands are formed by earlier rules only)
    val m2 = Seq("e" -> "r", "m" -> "er")
    assert(Bpe.encode("merge", m2) == Vector("mer", "g", "e"))
    // reversing the order starves the chain — order is semantics
    assert(Bpe.encode("merge", m2.reverse) == Vector("m", "er", "g", "e"))
  }

  /** Reference piece count of a text: its ' '-split words (empty ones
    * kept) priced by the reference encode. */
  private def refPieces(text: String, merges: Seq[(String, String)]): Long =
    text.split(" ", -1).map(w => graft.operators.Bpe.encode(w, merges).length.toLong).sum

  test("bpe pieces ≡ reference encode on random words and edge texts") {
    val sp = spark
    import sp.implicits._
    import graft.operators.Bpe
    import graft.functions.{BpeMergeTable, BpePiecesExpression}
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.sql.types.StringType
    val merges = graft.engine.Round18Ops.Merges
    val rnd = new scala.util.Random(77)
    val alphabet = "erinowstmalu"
    val words = (1 to 60).map(_ =>
      (1 to (2 + rnd.nextInt(9))).map(_ =>
        alphabet(rnd.nextInt(alphabet.length))).mkString)
    val smiley = "\uD83D\uDE00" // U+1F600, a supplementary-plane code point
    // empty, leading / trailing / double / lone spaces, a supplementary
    // code point, a precomposed accented letter (U+00E9)
    val edges = Seq("", " stream", "stream ", "the  merge", " ",
      s"x${smiley}er", "\u00e9er", s"caf\u00e9 $smiley$smiley", "merge")
    val texts: Seq[Option[String]] = (words ++ edges).map(Option(_)) :+ None
    val m2 = Seq("e" -> "r", "m" -> "er")
    val wide = Seq("\u00e9" -> "er", smiley -> smiley)
    val df = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("id", "text")
    Seq(merges, m2, m2.reverse, wide).foreach { m =>
      val got = df.select(col("id"), Bpe.pieces(col("text"), m)).collect()
        .map(r => r.getLong(0) -> Option.when(!r.isNullAt(1))(r.getLong(1))).toMap
      texts.zipWithIndex.foreach { case (t, i) =>
        val want = t.map(refPieces(_, m))
        assert(got(i.toLong) == want, s"codegen'd pieces must equal the reference on $t under $m")
        val interp = BpePiecesExpression(Literal.create(t.orNull, StringType), BpeMergeTable(m))
        assert(Option(interp.eval()) == want, s"interpreted pieces on $t under $m")
      }
    }
    // the reference split itself: code points, an empty word is 1 piece
    // (what Spark's split(w, '') and DuckDB's STRING_SPLIT(w, '') give)
    assert(Bpe.encode("", merges) == Vector(""))
    assert(Bpe.encode(s"x${smiley}er", merges) == Vector("x", smiley, "er"))
    assert(refPieces("merge", m2) == 3 && refPieces("merge", m2.reverse) == 4)
    // the array form Bpe.train re-encodes with ≡ the reference encode
    val enc = (words ++ edges).toDF("w")
      .select(col("w"), Bpe.encodeSymbols(split(col("w"), ""), merges)).collect()
    enc.foreach { r =>
      assert(r.getSeq[String](1).toVector == Bpe.encode(r.getString(0), merges),
        s"array-form fold must equal the reference on '${r.getString(0)}'")
    }
  }

  test("bpe train: classic corpus merges; pinned tie rule; early stop") {
    val sp = spark
    import sp.implicits._
    import graft.operators.Bpe
    // pair counts: (e,s)=9 (newest 6 + widest 3) ties (s,t)=9 — the
    // (count DESC, left ASC, right ASC) rule must pick (e,s) first,
    // then (es,t)=9 merges the chain
    val corpus = Seq(("low", 5L), ("lower", 2L), ("newest", 6L),
      ("widest", 3L)).toDF("w", "f")
    val merges = Bpe.train(corpus, "w", "f", 2)
    assert(merges == Seq("e" -> "s", "es" -> "t"), s"got $merges")
    // tie between (a,b) and (c,d): lexicographic left decides
    val tie = Seq(("ab", 3L), ("cd", 3L)).toDF("w", "f")
    assert(Bpe.train(tie, "w", "f", 2) == Seq("a" -> "b", "c" -> "d"))
    // early stop: single-char words have no pairs
    val flat = Seq(("a", 5L), ("b", 2L)).toDF("w", "f")
    assert(Bpe.train(flat, "w", "f", 3) == Seq.empty)
  }

  test("bpe train reproduces the frozen k57 merge table from the fixture corpus") {
    val docs = graft.engine.Tables.documents(spark, sf001)
    val wf = docs
      .select(explode(split(col("text"), " ")).as("w"))
      .groupBy("w").agg(count(lit(1)).as("f"))
    val merges = graft.operators.Bpe.train(wf, "w", "f", 8)
    assert(merges == graft.engine.Round18Ops.Merges,
      s"the frozen table is the pinned-tie-rule training output: $merges")
  }

  test("bpe oracle replace-chain ≡ fold on every fixture vocabulary word") {
    // the k57 ORACLE rewrites '  a  b  ' renderings with nested REPLACE;
    // its equivalence to the fold encode is corpus-dependent — pin it
    // exhaustively over the whole fixture vocabulary (31 words)
    import graft.operators.Bpe
    val merges = graft.engine.Round18Ops.Merges
    val table = graft.functions.BpeMergeTable(merges)
    val vocab = graft.engine.Tables.documents(spark, sf001)
      .select(explode(split(col("text"), " ")).as("w"))
      .distinct().collect().map(_.getString(0))
    assert(vocab.nonEmpty)
    vocab.foreach { w =>
      var s = "  " + w.toVector.map(_.toString).mkString("  ") + "  "
      merges.foreach { case (a, b) => s = s.replace(s" $a  $b ", s" $a$b ") }
      val pieces = s.split("  ", -1).length - 2
      assert(pieces == Bpe.encode(w, merges).length,
        s"replace-chain and fold disagree on '$w'")
      assert(pieces == graft.functions.BpeFold.pieces(
          org.apache.spark.unsafe.types.UTF8String.fromString(w), table),
        s"replace-chain and the native worker disagree on '$w'")
    }
  }
}
