package graft

import org.scalacheck.{Gen, Properties}
import org.scalacheck.Prop.forAll
import graft.connectors.{CdcEvent, ClickHouseDdl, JdbcSourceConfig, Sinks}
import org.apache.spark.sql.types._

/** SURVEY §5.5 property tests — pure laws (no Spark job per case, so
  * thousands of generated cases stay cheap). The Spark-level layout-
  * invariance laws live in DeterminismSpec.
  */
object GraftProperties extends Properties("graft") {

  private val genEvent: Gen[CdcEvent] = for {
    key <- Gen.choose(0L, 5L)
    pos <- Gen.choose(0L, 1000L)
    ts <- Gen.choose(0L, 100L)
    op <- Gen.oneOf("c", "u", "d")
  } yield CdcEvent(key, pos, ts, op, s"p$pos")

  /** The CDC winner rule is a total order: independent of arrival order. */
  property("cdc winner is arrival-order independent") =
    forAll(Gen.listOfN(20, genEvent)) { events =>
      def winner(es: Seq[CdcEvent]): Map[Long, CdcEvent] =
        es.groupBy(_.key).view.mapValues(_.maxBy(e => (e.tsMicros, e.position))).toMap
      // positions are unique per log in reality; keep ties possible here and
      // compare only on the (ts, position) winner key, which IS the rule
      val a = winner(events).view.mapValues(e => (e.tsMicros, e.position)).toMap
      val b = winner(events.reverse).view.mapValues(e => (e.tsMicros, e.position)).toMap
      a == b
    }

  private val genDataType: Gen[DataType] = {
    val prim = Gen.oneOf[DataType](BooleanType, ByteType, ShortType, IntegerType,
      LongType, FloatType, DoubleType, StringType, BinaryType, DateType,
      TimestampType, DecimalType(18, 4))
    Gen.sized { _ =>
      Gen.frequency(
        8 -> prim,
        1 -> prim.map(ArrayType(_)),
        1 -> Gen.zip(prim, prim).map { case (k, v) => MapType(k, v) })
    }
  }

  /** The §1.2 type matrix is total over supported types and never emits
    * Nullable(Array/Map). */
  property("ClickHouse type mapping is total and nullability-legal") =
    forAll(genDataType, Gen.oneOf(true, false)) { (dt, nullable) =>
      val rendered = ClickHouseDdl.field(StructField("c", dt, nullable))
      rendered.nonEmpty &&
        !(rendered.startsWith("Nullable(Array") || rendered.startsWith("Nullable(Map"))
    }

  /** Backoff schedules are monotone non-decreasing and capped. */
  property("sink backoff monotone and capped") =
    forAll(Gen.choose(0, 10), Gen.choose(1L, 60000L)) { (retries, base) =>
      val s = Sinks.ClickHouseWriteConfig("u", "t", maxRetries = retries,
        retryBackoffMs = base).backoffSchedule
      s.length == retries &&
        s.zip(s.drop(1)).forall { case (a, b) => a <= b } &&
        s.forall(_ <= math.max(30000L, base))
    }

  /** Partitioned JDBC configs always carry complete bound information. */
  property("jdbc options complete iff partitioned") =
    forAll(Gen.option(Gen.choose(0L, 100L)), Gen.choose(1, 64)) { (lower, nPart) =>
      lower match {
        case Some(l) =>
          val o = JdbcSourceConfig("jdbc:mysql://h/db", "t",
            partitionColumn = Some("id"), lowerBound = Some(l),
            upperBound = Some(l + 10), numPartitions = nPart).options
          o.contains("partitionColumn") && o("numPartitions") == nPart.toString
        case None =>
          val o = JdbcSourceConfig("jdbc:mysql://h/db", "t").options
          !o.contains("partitionColumn")
      }
    }

  /** Salt values from any row land in [0, n). */
  property("crc32-based salt stays in range") =
    forAll(Gen.choose(1, 64), Gen.alphaNumStr) { (n, s) =>
      val crc = new java.util.zip.CRC32()
      crc.update(s.getBytes("UTF-8"))
      val salt = java.lang.Math.floorMod(crc.getValue, n.toLong)
      salt >= 0 && salt < n
    }

  private def md5hex(s: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString

  /** k14/k15's algebra: a salted-md5 min-hash is a pure function of the
    * token SET — invariant under permutation and duplication. (This is what
    * makes the Spark min() aggregate correct without a DISTINCT pass.) */
  property("minhash band signature is permutation- and multiplicity-invariant") =
    forAll(Gen.nonEmptyListOf(Gen.identifier), Gen.choose(0, 3)) { (tokens, band) =>
      def sig(ts: Seq[String]): String = ts.map(t => md5hex(s"$band:$t")).min
      sig(tokens) == sig(tokens.reverse ++ tokens)
    }

  /** k16/Ivf's argmax rule (ORDER BY sim DESC, cid ASC, row_number()=1) is a
    * total order: the winner never depends on arrival order, even with
    * duplicate similarity values. */
  property("ivf centroid argmax is arrival-order independent") =
    forAll(Gen.nonEmptyListOf(Gen.zip(Gen.choose(0L, 7L), Gen.choose(0, 100)))) { scored =>
      def win(xs: Seq[(Long, Int)]): (Long, Int) =
        xs.minBy { case (cid, sim) => (-sim, cid) }
      win(scored) == win(scored.reverse)
    }

  /** j08's closed form IS greedy non-overlapping A→B chain counting: matched
    * closers = total_B − max(0, max prefix excess of B over A) — the bracket-
    * matching identity that lets sequenceCount run as one window pass. */
  property("sequence-count closed form equals greedy bracket matching") =
    forAll(Gen.listOf(Gen.oneOf('a', 'b', 'x'))) { evs =>
      var open = 0; var matched = 0
      evs.foreach {
        case 'a' => open += 1
        case 'b' => if (open > 0) { open -= 1; matched += 1 }
        case _   => ()
      }
      val cumB = evs.scanLeft(0)((n, c) => n + (if (c == 'b') 1 else 0)).drop(1)
      val cumA = evs.scanLeft(0)((n, c) => n + (if (c == 'a') 1 else 0)).drop(1)
      val totalB = cumB.lastOption.getOrElse(0)
      val maxExcess =
        if (evs.isEmpty) 0
        else cumB.zip(cumA).map { case (b, a) => b - a }.max
      matched == totalB - math.max(0, maxExcess)
    }

  /** c19/RangeJoin's bin cover is lossless and dupe-free: a point inside
    * [s, e) always lands in one of the interval's replicated bins (the
    * equi-join pre-filter is a superset of the true range predicate), and
    * the point's single bin occurs at most once in the interval's bin list
    * (no pair duplication, so no dedup pass is needed). */
  property("binned range join cover is lossless and dupe-free") =
    forAll(Gen.choose(0L, 200L), Gen.choose(0L, 60L),
           Gen.choose(0L, 260L), Gen.choose(1L, 50L)) { (s, len, p, w) =>
      val e = s + len
      val bins = (s / w) to (math.max(e - 1, s) / w)
      val joined = bins.contains(p / w) && p >= s && p < e
      val inRange = p >= s && p < e
      joined == inRange && bins.count(_ == p / w) <= 1
    }

  /** e13's one-pass sweep (each interval contributes max(0, end − max(start,
    * max prior end)) in start order) equals the textbook merge-intervals
    * union length — overlaps counted once, containment and duplicates safe. */
  property("interval union sweep equals merged-interval length") =
    forAll(Gen.listOf(Gen.zip(Gen.choose(0L, 100L), Gen.choose(0L, 30L)))) { sl =>
      val iv = sl.map { case (s, len) => (s, s + len) }.sortBy(identity)
      val brute = iv.foldLeft(List.empty[(Long, Long)]) {
        case ((ms, me) :: tail, (s, e)) if s <= me =>
          (ms, math.max(me, e)) :: tail
        case (acc, (s, e)) => (s, e) :: acc
      }.map { case (s, e) => e - s }.sum
      val sweep = iv.zipWithIndex.map { case ((s, e), i) =>
        val pme = if (i == 0) s else math.max(s, iv.take(i).map(_._2).max)
        math.max(0L, e - pme)
      }.sum
      brute == sweep
    }

  /** k44's span-dedup accounting decided through DIGESTS (the shipped
    * plan's predicate: per-digest min(doc) < max(doc), removal = doc ≠
    * min — via StreamingSpanDedup.spans, the same shingling the stream
    * twin runs) equals the definitionally-direct TEXT comparison (a span
    * is duplicated iff its exact token slice occurs in another doc) on
    * random corpora — hashing, 1-based window arithmetic, sub-width
    * exclusion, within-doc repeats, and the keep-min rule all covered by
    * construction. Tiny alphabet so shared and repeated spans are dense. */
  property("span dedup digest accounting equals direct text comparison") = {
    val W = 3
    val genDoc = Gen.choose(1, 8).flatMap(n =>
      Gen.listOfN(n, Gen.oneOf("a", "b")).map(_.mkString(" ")))
    forAll(Gen.choose(2, 5).flatMap(k => Gen.listOfN(k, genDoc))) { texts =>
      val docs = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      def slices(t: String): Seq[String] = {
        val a = t.split(' ')
        if (a.length < W) Seq.empty
        else (0 to a.length - W).map(i => a.slice(i, i + W).mkString(" "))
      }
      val ext = docs
        .flatMap { case (id, t) =>
          graft.streaming.StreamingSpanDedup.spans(t, W).map(_._2 -> id) }
        .groupBy(_._1).view
        .mapValues(xs => (xs.map(_._2).min, xs.map(_._2).max)).toMap
      val accDigest = docs.map { case (id, t) =>
        val sps = graft.streaming.StreamingSpanDedup.spans(t, W)
        id -> ((sps.length,
                sps.count { case (_, d) => ext(d)._1 < ext(d)._2 },
                sps.count { case (_, d) =>
                  ext(d)._1 < ext(d)._2 && id != ext(d)._1 }))
      }.toMap
      val accText = docs.map { case (id, t) =>
        val mine = slices(t)
        val others = docs.filter(_._1 != id).flatMap(d => slices(d._2)).toSet
        def minHolder(sp: String): Long =
          docs.filter(d => slices(d._2).contains(sp)).map(_._1).min
        id -> ((mine.length,
                mine.count(others.contains),
                mine.count(sp => others.contains(sp) && minHolder(sp) != id)))
      }.toMap
      accDigest == accText
    }
  }

  /** d22's windowed threshold rule equals the multiset-expansion definition of
    * the discrete weighted quantile (repeat each value `weight` times, take
    * the rank-⌈q·N⌉ element) — integral weights, so cum sums are exact. */
  property("weighted quantile closed form equals multiset expansion") =
    forAll(Gen.nonEmptyListOf(Gen.zip(Gen.choose(0, 100), Gen.choose(1, 5)))) { vw =>
      List(0.5, 0.9).forall { q =>
        val sorted = vw.sortBy(_._1)
        val tw = vw.map(_._2).sum
        val cums = sorted.scanLeft(0)((n, p) => n + p._2).drop(1)
        val closed = sorted.zip(cums)
          .collectFirst { case ((v, _), cw) if cw >= q * tw => v }.get
        val expanded = sorted.flatMap { case (v, w) => List.fill(w)(v) }
        val rank = math.max(1, math.ceil(q * expanded.size).toInt)
        closed == expanded(rank - 1)
      }
    }

  // ------------------------------------------------- canonicalization laws

  /** Random Unicode strings biased toward the interesting classes: Latin
    * accents, Greek (final-sigma contexts), combining marks, Hangul
    * (NFC/NFD round trips), plus plain ASCII. */
  private val genUnicode: Gen[String] = {
    val interesting = Gen.oneOf(
      Gen.choose(0x20, 0x7E),          // ASCII
      Gen.choose(0xC0, 0x17F),         // Latin-1/Extended-A accents
      Gen.choose(0x386, 0x3CE),        // Greek incl. sigma/final sigma
      Gen.choose(0x300, 0x36F),        // combining marks
      Gen.choose(0xAC00, 0xAC20),      // Hangul syllables
      Gen.choose(0x1E00, 0x1E9E))      // Latin Extended Additional
    Gen.listOf(interesting).map(cps =>
      cps.map(cp => new String(Character.toChars(cp))).mkString)
  }

  /** Canonicalization is IDEMPOTENT: re-canonicalizing already-canonical
    * text is a no-op — the law that makes it safe for a pipeline to
    * re-ingest its own normalized output. (Final_Sigma cannot break it:
    * the first pass leaves no capital sigma behind.) */
  property("graft_canon is idempotent") =
    forAll(genUnicode) { s =>
      val once = graft.functions.CanonicalizeText.canonString(s)
      graft.functions.CanonicalizeText.canonString(once) == once
    }

  /** Canonical output carries no uppercase and no combining marks —
    * the two classes the pipeline exists to remove. */
  property("graft_canon output is lowercase and mark-free") =
    forAll(genUnicode) { s =>
      val c = graft.functions.CanonicalizeText.canonString(s)
      c.codePoints().toArray.forall { cp =>
        val t = Character.getType(cp)
        !Character.isUpperCase(cp) &&
          t != Character.NON_SPACING_MARK &&
          t != Character.COMBINING_SPACING_MARK &&
          t != Character.ENCLOSING_MARK
      }
    }
}
