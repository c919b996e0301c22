package graft

import org.apache.spark.sql.functions._
import graft.engine.{LlmOps, Tables}
import graft.operators.{Ann, GroupEmit, Ivf, MinHashDedup, SimHashDedup, Multimodal}

/** Approximate/scale-path operators vs their exact Tier-1 counterparts
  * (SURVEY §2.2: approx sketches, MinHashLSH, ANN, multimodal). */
class ScaleOpsSpec extends SparkSpec {

  test("approx_count_distinct within 5% of exact d03") {
    val o = Tables.orders(spark, sf001)
    val rows = o.groupBy("o_orderstatus")
      .agg(countDistinct(col("o_custkey")).as("exact"),
           approx_count_distinct(col("o_custkey"), 0.02).as("approx"))
      .collect()
    rows.foreach { r =>
      val (e, a) = (r.getLong(1), r.getLong(2))
      assert(math.abs(a - e).toDouble / e <= 0.05, s"approx $a vs exact $e")
    }
  }

  test("approx_percentile within 2% of exact d10") {
    val o = Tables.orders(spark, sf001)
    val rows = o.groupBy("o_orderpriority")
      .agg(expr("percentile(o_totalprice, 0.5D)").as("exact"),
           expr("approx_percentile(o_totalprice, 0.5D, 1000)").as("approx"))
      .collect()
    rows.foreach { r =>
      val (e, a) = (r.getDouble(1), r.getDouble(2))
      assert(math.abs(a - e) / e <= 0.02, s"approx $a vs exact $e")
    }
  }

  test("heavy band pinned: k23/k25 pair cardinality and CC convergence trajectory") {
    // r12 brief item 5: the k-heavies have drifted with HOST noise three
    // rounds running, so the clean-band expectation is encoded here in
    // CI-stable form — the fixture's exact pair count and the contract
    // loop's edge trajectory / star round count — instead of wall-clock.
    // A REAL regression (edge blow-up, extra contract passes, a star
    // path that stops converging in 2 rounds) fails sbt test; a noisy
    // bench window does not.
    val docs = Tables.documents(spark, sf0001)
    val pairs = graft.api.Dedup.tokenJaccardPairsAuto(
      docs, "doc_id", "text", "source", 0.6)
    assert(pairs.count() == 3536L, "k02 edge cardinality moved at sf0.001")
    // k23's default path: the whole edge set is under the local-finish
    // cap, so the driver finishes it before any contract pass
    graft.operators.ConnectedComponents.assignContracted(
      docs.select("doc_id"), pairs, "doc_id", "id1", "id2").count()
    val tl = graft.operators.ConnectedComponents.lastTrace.get
    assert(tl.passEdges == Vector(3536L) && tl.localEdges == 3536L,
      s"k23 should finish on the driver before the first pass: $tl")
    assert(tl.starRounds == -1, s"k23 should finish without the star finisher: $tl")
    // cap 0: the distributed contract loop's trajectory
    graft.operators.ConnectedComponents.assignContractedCapped(
      docs.select("doc_id"), pairs, "doc_id", "id1", "id2",
      maxContract = 4, maxIters = 30, forceStar = false, localCap = 0).count()
    val tc = graft.operators.ConnectedComponents.lastTrace.get
    assert(tc.passEdges == Vector(3536L, 54L, 2L, 0L),
      s"k23 contraction trajectory moved: ${tc.passEdges}")
    assert(tc.starRounds == -1 && tc.localEdges == -1L,
      s"k23 should drain without the star finisher: $tc")
    graft.operators.ConnectedComponents.assignStarSeeded(
      docs.select("doc_id"), pairs, "doc_id", "id1", "id2").count()
    val ts = graft.operators.ConnectedComponents.lastTrace.get
    assert(ts.passEdges == Vector(3536L, 54L, 2L),
      s"k25 seed trajectory moved: ${ts.passEdges}")
    assert(ts.starRounds == 2, s"k25 star finisher rounds moved: $ts")
    assert(ts.localEdges == -1L, s"k25 must keep the star finisher: $ts")
  }

  test("k23 build + collect launches a pinned number of Spark jobs at sf0.001") {
    // The job count is what the driver-side union-find finish saves (the
    // contract loop's tail passes cost as many jobs as its first): a
    // returning round loop fails here by name, not as bench noise. Jobs
    // are counted by a local property of this thread only (broadcast
    // threads inherit it), on a warm second run.
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val sc = spark.sparkContext
    val (key, tag) = ("graft.test.jobCensus", java.util.UUID.randomUUID.toString)
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (e.properties != null && e.properties.getProperty(key) == tag)
          jobs.incrementAndGet()
    }
    def run(): Int = graft.engine.PipelineOps.k23.fn(spark, sf0001).collect().length
    val rows = run()
    sc.addSparkListener(listener)
    try {
      sc.setLocalProperty(key, tag)
      try assert(run() == rows) finally sc.setLocalProperty(key, null)
      org.apache.spark.graft.ListenerBusDrain(sc)
    } finally sc.removeSparkListener(listener)
    assert(jobs.get == 12,
      s"k23 launched ${jobs.get} jobs (12 with the driver finish, 27 through the full contract loop)")
  }

  test("MinHashLSH recall ≥ 0.9 against exact token-Jaccard pairs (k02)") {
    val docs = Tables.documents(spark, sf0001)
    val exact = LlmOps.k02.fn(spark, sf0001)
      .select("id1", "id2").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(exact.nonEmpty, "fixture should contain near-dup pairs")
    val approx = MinHashDedup.candidatePairs(docs, threshold = 0.6)
      .select("id1", "id2").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = exact.count(approx.contains).toDouble / exact.size
    assert(recall >= 0.9, s"recall $recall over ${exact.size} exact pairs")
  }

  test("SimHash: token-set duplicates collide at Hamming 0") {
    val docs = Tables.documents(spark, sf0001)
    // the fixture has no byte-identical texts, but 377 pairs share the same
    // DISTINCT-token set (k10's fingerprint) — SimHash is computed over
    // distinct tokens, so those must land at Hamming distance 0
    val fp = md5(concat_ws(" ", array_sort(array_distinct(split(col("text"), " ")))))
    val dupPairs = docs.select(col("doc_id"), fp.as("fp")).as("a")
      .join(docs.select(col("doc_id").as("id2"), fp.as("fp2")).as("b"),
            col("fp") === col("fp2") && col("doc_id") < col("id2"))
      .select(col("doc_id"), col("id2"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val candidates = SimHashDedup.candidatePairs(docs, maxHamming = 0)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(dupPairs.nonEmpty)
    assert(dupPairs.subsetOf(candidates),
      s"${dupPairs.size} token-set dups, ${(dupPairs -- candidates).size} missed")
  }

  test("ANN: LSH top-10 overlaps brute-force top-10 (recall ≥ 0.3) and is a valid ranking") {
    val e = Tables.embeddings(spark, sf0001)
    val exact = Ann.topKExact(e, probeId = 0, k = 10)
      .collect().map(_.getLong(0)).toSet
    val approx = Ann.topKApprox(e, probeId = 0, k = 10)
      .collect().map(_.getLong(0)).toSet
    assert(approx.nonEmpty, "probe's buckets must contain neighbors")
    val recall = exact.count(approx.contains).toDouble / exact.size
    // single-probe banded LSH on 64-dim uniformish vectors: modest recall is
    // expected; the guarantee under test is bucketing correctness, not SOTA
    assert(recall >= 0.3, s"recall $recall")
    // every returned neighbor's cosine must match the brute-force value
    val exactCos = Ann.topKExact(e, 0, 500).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    Ann.topKApprox(e, 0, 10).collect().foreach { r =>
      assert(math.abs(exactCos(r.getLong(0)) - r.getDouble(1)) < 1e-9)
    }
  }

  test("multimodal: feature extraction and frame sampling over binary payloads") {
    implicit val s = spark
    val corpus = Multimodal.syntheticCorpus(spark, 100)
    val feats = Multimodal.extractFeatures(corpus).collect()
    assert(feats.length == 100)
    // deterministic stub: recompute one checksum independently
    val row0 = corpus.filter(_.media_id == 0).collect().head
    val f0 = feats.find(_.media_id == 0).get
    assert(f0.checksum == row0.payload.map(b => (b & 0xff).toLong).sum)
    assert(f0.n_bytes == row0.payload.length)
    assert(feats.forall(f => f.brightness >= 0.0 && f.brightness <= 1.0))
    val frames = Multimodal.sampleFrames(corpus, stride = 16)
    assert(frames.count() == corpus.collect().map(r => (r.payload.length + 15) / 16).sum)
  }

  test("multimodal: aHash is encoding-invariant, bit-exact on extreme pixels, banded near-dup finds hamming-3") {
    implicit val s = spark
    import spark.implicits._
    import graft.operators.Multimodal.{MediaMeta, MediaRow}
    def encode(px: Array[Int], fmt: String): Array[Byte] = {
      val img = new java.awt.image.BufferedImage(
        8, 8, java.awt.image.BufferedImage.TYPE_INT_RGB)
      img.setRGB(0, 0, 8, 8, px, 0, 8)
      val bos = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, fmt, bos)
      bos.toByteArray
    }
    val W = 0xffffff; val B = 0x000000
    // base: left half white, right half black — with only extreme lumas
    // (0 / 255) the mean sits strictly between, so the aHash bits are
    // EXACTLY the white-pixel positions, no resize kernel in play (8×8
    // input is the identity resize)
    val base = Array.tabulate(64)(i => if (i % 8 < 4) W else B)
    val hPng = graft.operators.Multimodal.aHash64(encode(base, "png"))
    val hBmp = graft.operators.Multimodal.aHash64(encode(base, "bmp"))
    assert(hPng == hBmp,
      "the perceptual hash must survive re-encoding (the byte checksum cannot)")
    val wantBits = (0 until 64).filter(i => i % 8 < 4)
      .foldLeft(0L)((acc, i) => acc | (1L << i))
    assert(hPng == wantBits, f"exact bits: $hPng%x vs $wantBits%x")
    // flip exactly 3 black pixels to white → hamming exactly 3
    val tweaked = base.clone(); Seq(7, 15, 23).foreach(i => tweaked(i) = W)
    assert(java.lang.Long.bitCount(
      hPng ^ graft.operators.Multimodal.aHash64(encode(tweaked, "png"))) == 3)
    // banded near-dup: the hamming-3 pair is FOUND (pigeonhole: ≤ 3 bit
    // flips leave ≥ 1 of the 4 bands identical); an unrelated pattern
    // pairs with neither
    val other = Array.tabulate(64)(i => if ((i / 8 + i) % 2 == 0) W else B)
    val media = Seq(
      MediaRow(1L, encode(base, "png"), MediaMeta("png", 8, 8)),
      MediaRow(2L, encode(tweaked, "png"), MediaMeta("png", 8, 8)),
      MediaRow(3L, encode(other, "png"), MediaMeta("png", 8, 8))).toDS()
    val pairs = graft.operators.Multimodal.imageNearDup(media, maxHamming = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(pairs == Set((1L, 2L, 3)), s"exactly the planted pair: $pairs")
  }

  test("multimodal: aHash box filter is a TRUE area average — single-pixel noise on a large image cannot flip a cell") {
    // r20 advice: Graphics2D bilinear drawImage subsamples ~2×2 source
    // points per output pixel, so on an 80×80 image ONE stray pixel
    // landing on a sample point could flip a cell bit. The box filter
    // averages the cell's FULL 10×10 rectangle: a 1/100 mass change
    // cannot move a 0/255-separated cell across the global mean. Pins:
    // (1) the 80×80 half/half image hashes to exactly the 8×8 half/half
    // bits (scale invariance of the average), (2) flipping any single
    // pixel leaves the hash bit-identical (shift/noise robustness — the
    // aHash-family property the advice said bilinear lost).
    def encodeWH(w: Int, h: Int, px: Array[Int]): Array[Byte] = {
      val img = new java.awt.image.BufferedImage(
        w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
      img.setRGB(0, 0, w, h, px, 0, w)
      val bos = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, "png", bos)
      bos.toByteArray
    }
    val W = 0xffffff
    val big = Array.tabulate(80 * 80)(i => if (i % 80 < 40) W else 0)
    val hBig = graft.operators.Multimodal.aHash64(encodeWH(80, 80, big))
    val wantBits = (0 until 64).filter(i => i % 8 < 4)
      .foldLeft(0L)((acc, i) => acc | (1L << i))
    assert(hBig == wantBits, f"area average is scale-invariant: $hBig%x vs $wantBits%x")
    for (flip <- Seq(0, 5 * 80 + 5, 37 * 80 + 2, 41 * 80 + 77, 79 * 80 + 79)) {
      val noisy = big.clone(); noisy(flip) = big(flip) ^ W
      val hNoisy = graft.operators.Multimodal.aHash64(encodeWH(80, 80, noisy))
      assert(hNoisy == hBig,
        f"one flipped pixel (index $flip) must not move any cell: $hNoisy%x")
    }
  }

  test("multimodal: REAL MJPEG-AVI frame sampling — planted 3-frame video decodes to exact dims/count/luminance") {
    implicit val s = spark
    import spark.implicits._
    import graft.operators.Multimodal
    import graft.operators.Multimodal.{MediaMeta, MediaRow}
    // three solid-color frames, JPEG-encoded by the JDK's own writer
    def jpegFrame(rgb: Int, w: Int, h: Int): Array[Byte] = {
      val img = new java.awt.image.BufferedImage(
        w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
      val g = img.createGraphics()
      g.setColor(new java.awt.Color(rgb)); g.fillRect(0, 0, w, h); g.dispose()
      val bos = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, "jpg", bos)
      bos.toByteArray
    }
    val colors = Seq(0xff0000, 0x00ff00, 0x0000ff)
    val frames = colors.map(jpegFrame(_, 16, 12))
    val avi = Multimodal.mjpegAvi(frames, 16, 12)
    // container round-trip: the chunk walk recovers EXACTLY the planted
    // JPEG payloads, byte for byte (pad-byte handling included — JDK
    // JPEGs of this size are odd-length often enough to exercise it)
    val back = Multimodal.mjpegFrames(avi)
    assert(back.length == 3)
    assert(back.zip(frames).forall { case (a, b) => a.sameElements(b) },
      "frame payloads must survive the container byte-exactly")
    // the Spark sampling stage: stride 1 decodes all 3; the expected
    // luma is an INDEPENDENT direct decode of the same JPEG bytes, so
    // the equality is exact (no JPEG-lossiness tolerance needed)
    val media = Seq(MediaRow(5L, avi, MediaMeta("avi", 16, 12))).toDS()
    val rows = Multimodal.sampleVideoFrames(media, stride = 1)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getInt(3), r.getDouble(4)))
      .sortBy(_._2)
    assert(rows.length == 3)
    rows.zip(frames).zipWithIndex.foreach { case (((id, idx, w, h, luma), jpeg), i) =>
      val (ew, eh, eluma) = Multimodal.decodeImage(jpeg)
      assert(id == 5L && idx == i && w == 16 && h == 12)
      assert(w == ew && h == eh)
      assert(luma == eluma, s"frame $i luma $luma vs direct decode $eluma")
    }
    // stride 2 samples frames 0 and 2 only — skipped frames never decode
    val sampled = Multimodal.sampleVideoFrames(media, stride = 2)
      .select("frame_idx").collect().map(_.getInt(0)).sorted.toSeq
    assert(sampled == Seq(0, 2))
    // a non-AVI payload fails loudly (the quarantine posture)
    intercept[IllegalArgumentException] {
      Multimodal.mjpegFrames(Array.fill[Byte](64)(7))
    }
  }

  test("multimodal: REAL PNG decode, resize, and WAV decode via JDK codecs") {
    implicit val s = spark
    // images: solid-color PNGs — dimensions and luminance are exact
    val imgs = Multimodal.syntheticPngCorpus(spark, 50)
    val feats = Multimodal.imageFeatures(imgs).collect()
    assert(feats.length == 50)
    for (i <- Seq(0L, 7L, 23L, 49L)) {
      val f = feats.find(_.media_id == i).get
      assert(f.width == 8 + (i % 8).toInt && f.height == 6 + (i % 4).toInt,
        s"media $i decoded ${f.width}x${f.height}")
      val (r, g, b) = ((i * 37) % 256, (i * 59) % 256, (i * 83) % 256)
      val wantLuma = (0.299 * r + 0.587 * g + 0.114 * b) / 255.0
      assert(math.abs(f.mean_luma - wantLuma) < 1e-9,
        s"media $i luma ${f.mean_luma} vs $wantLuma")
    }
    // resize: every payload re-decodes at the target dims, color preserved
    val resized = Multimodal.resizeImages(imgs, 4, 3)
    val rf = Multimodal.imageFeatures(resized).collect()
    assert(rf.forall(f => f.width == 4 && f.height == 3))
    val luma0 = feats.find(_.media_id == 0).get.mean_luma
    assert(math.abs(rf.find(_.media_id == 0).get.mean_luma - luma0) < 1e-6,
      "bilinear resize of a solid color keeps its luminance")
    // audio: square tones — RMS is exactly amplitude/32768
    val wavs = Multimodal.syntheticWavCorpus(spark, 20)
    val af = Multimodal.audioFeatures(wavs).collect()
    assert(af.length == 20)
    for (i <- Seq(0L, 6L, 19L)) {
      val a = af.find(_.media_id == i).get
      assert(a.sample_rate == 8000.0 && a.channels == 1)
      assert(a.frames == 400 + (i % 5).toInt * 100, s"media $i frames ${a.frames}")
      val wantRms = (2000 + (i % 7) * 3000).toDouble / 32768.0
      assert(math.abs(a.rms - wantRms) < 1e-9, s"media $i rms ${a.rms} vs $wantRms")
    }
  }

  test("int8 embedding quantization: error bounded by scale/2, top-10 cosine overlap >= 0.8") {
    import graft.api.Similarity
    val e = Tables.embeddings(spark, sf0001)
    val q = Similarity.quantizeInt8(e, "vec_id", "embedding")
    val deq = Similarity.dequantizeInt8(q, "vec_id")
    // elementwise reconstruction error ≤ scale/2 (round-to-nearest bound)
    val errOk = e.select(col("vec_id"), graft.api.Similarity.asDouble(col("embedding")).as("x"))
      .join(deq.withColumnRenamed("embedding", "xq"), "vec_id")
      .join(q.select("vec_id", "scale"), "vec_id")
      .select(max(expr(
        "aggregate(zip_with(x, xq, (a, b) -> abs(a - b)), 0D, (m, v) -> greatest(m, v))")
        / col("scale")).as("worst"))
      .head.getDouble(0)
    assert(errOk <= 0.5 + 1e-9, s"per-element error must be <= scale/2, got $errOk * scale")
    // ranking survives: top-10 cosine overlap per probe
    for (p <- Seq(0L, 11L, 123L)) {
      val exact = Similarity.cosineTopK(e, "vec_id", "embedding", p, 10)
        .select("vec_id").collect().map(_.getLong(0)).toSet
      val approx = Similarity.cosineTopK(deq, "vec_id", "embedding", p, 10)
        .select("vec_id").collect().map(_.getLong(0)).toSet
      val overlap = exact.intersect(approx).size
      assert(overlap >= 8, s"probe $p: int8 top-10 overlap $overlap < 8")
    }
  }

  test("graft_charge native expression ≡ raw arithmetic (and codegen-safe)") {
    val l = Tables.lineitem(spark, sf0001).limit(1000)
    l.createOrReplaceTempView("l_charge_t")
    val diff = spark.sql(
      """SELECT max(abs(graft_charge(l_extendedprice, l_discount, l_tax)
        |        - l_extendedprice * (1 - l_discount) * (1 + l_tax))) AS d
        |FROM l_charge_t""".stripMargin).collect().head.getDouble(0)
    assert(diff == 0.0)
  }

  test("IVF: nprobe = |centroids| degrades to the exact brute force") {
    val e = Tables.embeddings(spark, sf0001)
    val cents = Ivf.firstKCentroids(e, 8)
    val exact = Ann.topKExact(e, probeId = 0, k = 10)
      .collect().map(_.getLong(0)).toSet
    val all = Ivf.topKApprox(e, cents, probeId = 0, k = 10, nprobe = 8)
      .collect().map(_.getLong(0)).toSet
    assert(all == exact, s"nprobe=all must equal brute force: $all vs $exact")
  }

  test("IVF: partial probe keeps useful recall and never exceeds exact") {
    val e = Tables.embeddings(spark, sf0001)
    val cents = Ivf.firstKCentroids(e, 8)
    val exact = Ann.topKExact(e, probeId = 0, k = 10)
      .collect().map(_.getLong(0)).toSet
    val approx = Ivf.topKApprox(e, cents, probeId = 0, k = 10, nprobe = 3)
      .collect().map(_.getLong(0)).toSet
    val recall = exact.count(approx.contains).toDouble / exact.size
    assert(recall >= 0.3, s"nprobe=3/8 recall $recall")
    // sanity: assignment partitions the corpus exactly once
    assert(Ivf.assign(e, cents).count() == e.count())
  }

  test("IVF: k-means-refined centroids beat firstK on objective AND nprobe=2 recall") {
    val e = Tables.embeddings(spark, sf001).cache()
    val naive = Ivf.firstKCentroids(e, 8)
    val trained = Ivf.kmeansCentroids(e, 8, iters = 5)
    // Lloyd monotonically improves the within-cluster objective; recall is
    // the user-visible payoff, averaged over 50 probes to kill variance.
    // Measured on this fixture: objective 0.189 → 0.268, recall 0.442 → 0.518.
    def objective(c: org.apache.spark.sql.DataFrame): Double =
      Ivf.assign(e, c).agg(avg("cos")).collect().head.getDouble(0)
    val probes = (0L until 50L).map(_ * 7L)
    def recall(c: org.apache.spark.sql.DataFrame): Double =
      probes.map { p =>
        val exact = Ann.topKExact(e, probeId = p, k = 10)
          .collect().map(_.getLong(0)).toSet
        val approx = Ivf.topKApprox(e, c, probeId = p, k = 10, nprobe = 2)
          .collect().map(_.getLong(0)).toSet
        exact.count(approx.contains).toDouble / exact.size
      }.sum / probes.size
    val (on, ot) = (objective(naive), objective(trained))
    assert(ot > on + 0.02, s"objective must improve: $on -> $ot")
    val (rn, rt) = (recall(naive), recall(trained))
    assert(rt > rn, s"nprobe=2 recall must improve: $rn -> $rt")
    e.unpersist()
  }

  test("k-means|| seeding: beats firstK+Lloyd on objective, beats raw firstK recall, deterministic") {
    val e = Tables.embeddings(spark, sf001).cache()
    def objective(c: org.apache.spark.sql.DataFrame): Double =
      Ivf.assign(e, c).agg(avg("cos")).collect().head.getDouble(0)
    val probes = (0L until 50L).map(_ * 7L)
    def recall(c: org.apache.spark.sql.DataFrame): Double =
      probes.map { p =>
        val exact = Ann.topKExact(e, probeId = p, k = 10)
          .collect().map(_.getLong(0)).toSet
        val approx = Ivf.topKApprox(e, c, probeId = p, k = 10, nprobe = 2)
          .collect().map(_.getLong(0)).toSet
        exact.count(approx.contains).toDouble / exact.size
      }.sum / probes.size
    val trained = Ivf.kmeansCentroids(e, 8, iters = 5)
    val par = Ivf.kmeansParCentroids(e, 8, rounds = 3, oversample = 2.0, iters = 5)
    // objective: spread seeding reaches a better optimum at the same Lloyd
    // budget (measured 0.2724 vs firstK+Lloyd 0.2682, naive firstK 0.189)
    assert(objective(par) >= objective(trained),
      s"k-means|| objective ${objective(par)} must meet firstK+Lloyd ${objective(trained)}")
    // recall: well above the unrefined firstK floor (measured 0.502 vs
    // 0.442). Honest caveat, measured not assumed: firstK+Lloyd reaches
    // 0.518 on THIS fixture — the 2k-vector corpus makes the first 8 ids a
    // lucky, near-optimal seed, and at convergence (20 iters) both inits
    // land at the same objective with recalls 0.01-0.02 apart. k-means||'s
    // payoff is distribution-independence: at 100 TB "first K vectors" is
    // one shard's/domain's data (a degenerate seed no Lloyd budget fixes),
    // while the oversampled pass seeds from the whole corpus by cost mass.
    val (rn, rp) = (recall(Ivf.firstKCentroids(e, 8)), recall(par))
    assert(rp >= rn + 0.04, s"k-means|| recall $rp must clear raw firstK $rn")
    // determinism: the Bernoulli draw is xxhash64(vec_id, round) — two runs
    // agree to float-sum reordering (~1e-12), no RNG anywhere
    val again = Ivf.kmeansParCentroids(e, 8, rounds = 3, oversample = 2.0, iters = 5)
    val a = par.orderBy("cid").collect().map(_.getSeq[Double](1))
    val b = again.orderBy("cid").collect().map(_.getSeq[Double](1))
    assert(a.length == b.length)
    a.zip(b).foreach { case (x, y) =>
      x.zip(y).foreach { case (u, v) => assert(math.abs(u - v) < 1e-9) }
    }
    e.unpersist()
  }

  test("SemDeDup embedding dedup: IVF-blocked pairs, recall >= 0.9 vs exact k07, no cross-cluster all-pairs") {
    import graft.api.Dedup
    val e = Tables.embeddings(spark, sf0001).cache()
    // the exact reference: k07's declared brute-force pairs (label-blocked,
    // cos >= 0.4) — the fixture crutch this composition replaces
    val exact = LlmOps.k07.fn(spark, sf0001)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(exact.nonEmpty, "fixture must contain near-dup pairs")
    val cents = Ivf.kmeansCentroids(e, 8, iters = 2)
    val got = Dedup.embeddingCosinePairs(e, "vec_id", "embedding",
        cents, threshold = 0.4, nprobe = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = exact.count(got.contains).toDouble / exact.size
    info(s"semdedup recall at nprobe=2: $recall (${got.size} found, ${exact.size} exact)")
    assert(recall >= 0.9, s"IVF-blocked recall must be >= 0.9, got $recall")
    // precision is structural: candidate generation is approximate, the
    // SCORE is the same exact dot k07 computes — every found pair must be
    // a true cos >= 0.4 pair (checked against the unblocked brute force,
    // which is a SUPERSET of label-blocked k07)
    val allPairs = graft.api.Similarity.cosinePairs(
        e.withColumn("__one", lit(1)), "vec_id", "embedding", "__one", 0.4)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got.subsetOf(allPairs), "every emitted pair must be a true near-dup")
    // plan pin: pairs form ONLY within a probed cluster — the self-join is
    // an equi-join keyed on the cluster id, never a cross-cluster
    // cartesian; the only nested-loop is the deliberate tiny centroid
    // broadcast in the scoring step
    val p = {
      val df = Dedup.embeddingCosinePairs(e, "vec_id", "embedding",
        cents, threshold = 0.4, nprobe = 2)
      df.collect()
      df.queryExecution.executedPlan.toString
    }.split("== Initial Plan ==").head
    assert(!p.contains("CartesianProduct"), s"no cartesian anywhere:\n$p")
    // the tiny centroid broadcast appears once per self-join BRANCH (the
    // a and b sides each score the corpus) — anything beyond those two
    // means a data-sized side started nest-looping
    val bnlj = "BroadcastNestedLoopJoin".r.findAllIn(p).length
    assert(bnlj <= 2, s"only the centroid broadcast may nest-loop, got $bnlj:\n$p")
    assert(p.contains("hashpartitioning(__blk"),
      s"the pair join must co-partition on the cluster id:\n$p")
    // the one-call pipeline: representatives keep the smallest id per
    // component, singletons survive, and the kept set is duplicate-free at
    // the pinned recall (every kept pair is NOT a found near-dup pair)
    val kept = Dedup.keepRepresentativesByEmbedding(
        e, "vec_id", "embedding", threshold = 0.4, k = 8, nprobe = 2)
      .collect().map(_.getLong(0)).toSet
    assert(kept.nonEmpty && kept.size < e.count(),
      s"dedup must keep a strict non-empty subset, kept ${kept.size}")
    got.foreach { case (a, b) =>
      assert(!(kept(a) && kept(b)),
        s"near-dup pair ($a,$b) must not both survive") }
    val inPairs = got.flatMap(pr => Seq(pr._1, pr._2))
    val singletons = e.collect().map(_.getLong(0)).toSet -- inPairs
    assert(singletons.subsetOf(kept), "singletons always survive")
    e.unpersist()
  }

  test("OPQ rotation: orthonormal, cuts PQ quantization error (measured -14%)") {
    val e = Tables.embeddings(spark, sf001).cache()
    val (m, ksub, dim) = (8, 16, 64)
    def mse(rot: Array[Array[Double]]): Double = {
      val frame = Ivf.rotate(e, rot)
      val cb = Ivf.pqCodebooks(frame, m, ksub, iters = 2)
      val cbMap = cb.collect()
        .map(r => ((r.getInt(0), r.getInt(1)), r.getSeq[Double](2).toArray)).toMap
      val codes = Ivf.pqEncode(frame, cb, m).collect()
        .map(r => r.getLong(0) -> r.getSeq[Int](1)).toMap
      val vecs = frame.collect()
        .map(r => r.getLong(0) -> r.getSeq[Double](1).toArray).toMap
      vecs.map { case (id, x) =>
        val y = codes(id).zipWithIndex
          .flatMap { case (c, mm) => cbMap((mm, c)) }.toArray
        x.zip(y).map { case (a, b) => (a - b) * (a - b) }.sum
      }.sum / vecs.size
    }
    val r = Ivf.opqRotation(e, m, ksub, iters = 3, pqIters = 2)
    // orthonormal within LAPACK rounding: columns pairwise orthonormal
    for (i <- 0 until dim; j <- i until dim) {
      val dot = (0 until dim).map(k => r(k)(i) * r(k)(j)).sum
      val want = if (i == j) 1.0 else 0.0
      assert(math.abs(dot - want) < 1e-9, s"R not orthonormal at ($i,$j): $dot")
    }
    // the alternation's objective is monotone non-increasing, so the
    // learned rotation must beat identity-PQ at the same codebook budget;
    // measured 0.574 -> 0.493 on this fixture, pin a 5% floor
    val ident = Array.tabulate(dim, dim)((i, j) => if (i == j) 1.0 else 0.0)
    val (m0, m1) = (mse(ident), mse(r))
    assert(m1 <= m0 * 0.95,
      s"OPQ must cut quantization MSE by >=5%: identity $m0 vs rotated $m1")
    e.unpersist()
  }

  test("PQ-ADC over IVF: recall >= full-vector IVF at the same nprobe, probe scan bytes shrink") {
    val e = Tables.embeddings(spark, sf001).cache()
    val cents = Ivf.firstKCentroids(e, 8)
    val cb = Ivf.pqCodebooks(e, m = 8, ksub = 16, iters = 2)
    val codes = Ivf.pqEncode(e, cb, m = 8).cache()
    val assignments = Ivf.assign(e, cents).select("vec_id", "cid").cache()
    // recall@10 vs exact brute force, averaged over probes: the PQ path
    // (ADC from codes + exact re-rank of the shortlist) must not lose
    // recall vs the full-vector in-cluster scan at the same nprobe — the
    // shortlist (100) dwarfs k (10), so ADC only has to keep the true
    // top-10 inside its top-100
    val probes = (0L until 20L).map(_ * 17L)
    val (rIvf, rPq) = probes.map { p =>
      val exact = Ann.topKExact(e, probeId = p, k = 10)
        .collect().map(_.getLong(0)).toSet
      val ivf = Ivf.topKApprox(e, cents, probeId = p, k = 10, nprobe = 2)
        .collect().map(_.getLong(0)).toSet
      val pq = Ivf.topKPqAdc(e, cents, cb, codes, assignments, probeId = p,
                             k = 10, nprobe = 2, shortlist = 100)
        .collect().map(_.getLong(0)).toSet
      (exact.count(ivf.contains).toDouble / exact.size,
       exact.count(pq.contains).toDouble / exact.size)
    }.reduce((a, b) => (a._1 + b._1, a._2 + b._2)) match {
      case (i, p) => (i / probes.size, p / probes.size)
    }
    assert(rPq >= rIvf - 1e-9,
      s"PQ+re-rank recall $rPq must not lose to full-vector IVF recall $rIvf")
    // the 100 TB payoff, measured at the storage layer: per probed cluster,
    // the ADC stage reads M-int codes instead of 64-float vectors — write
    // both layouts cid-partitioned and compare the BYTES under the probed
    // partitions (the same directory-pruning argument as the test below)
    import graft.api.Bucketing
    val codesDir = java.nio.file.Files.createTempDirectory("pq_codes").toString
    val vecsDir = java.nio.file.Files.createTempDirectory("pq_vecs").toString
    Bucketing.writePartitioned(codes.join(assignments, "vec_id"), codesDir, "cid")
    Bucketing.writePartitioned(e.join(assignments, "vec_id"), vecsDir, "cid")
    def bytesUnder(dir: String, cids: Seq[Int]): Long = cids.map { c =>
      Option(new java.io.File(s"$dir/cid=$c").listFiles())
        .getOrElse(Array.empty).filter(_.getName.endsWith(".parquet"))
        .map(_.length).sum
    }.sum
    val probed = Seq(2, 5)
    val (cBytes, vBytes) = (bytesUnder(codesDir, probed), bytesUnder(vecsDir, probed))
    assert(cBytes > 0 && vBytes > 0)
    assert(cBytes * 4 <= vBytes,
      s"PQ probe scan must read <=1/4 the bytes: codes $cBytes vs vectors $vBytes")
    codes.unpersist(); assignments.unpersist(); e.unpersist()
  }

  test("byte-budget PQ: BINARY codes return identical top-k, store no more than int codes, <=1/8 vectors") {
    val e = Tables.embeddings(spark, sf0001).cache()
    val cents = Ivf.firstKCentroids(e, 8)
    val cb = Ivf.pqCodebooks(e, m = 8, ksub = 16, iters = 1)
    val codesInt = Ivf.pqEncode(e, cb, m = 8).cache()
    val codesBin = Ivf.pqEncodeBytes(e, cb, m = 8).cache()
    val assignments = Ivf.assign(e, cents).select("vec_id", "cid").cache()
    // the byte path must be a pure storage change: same ADC dots (reordered
    // only by m), same shortlist, same re-ranked answer — row-for-row
    for (p <- Seq(0L, 17L, 340L)) {
      val a = Ivf.topKPqAdc(e, cents, cb, codesInt, assignments, probeId = p,
                            k = 10, nprobe = 2, shortlist = 50)
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
      val b = Ivf.topKPqAdcBytes(e, cents, cb, codesBin, assignments, probeId = p,
                                 k = 10, nprobe = 2, shortlist = 50)
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
      assert(a == b, s"probe $p: int-codes top-k $a != byte-codes top-k $b")
    }
    // storage: binary codes must not exceed the int-array layout and must
    // undercut the full vectors by >=8x (8 bytes vs 64 floats per row).
    // Encodings are DISABLED for the measurement: at fixture scale parquet
    // dictionary-encodes the 16-distinct-value int arrays below anything
    // (a few thousand rows fit one dictionary page), which inverts the
    // comparison the layout actually makes at 100 TB — raw bytes scanned
    // and decoded per row once dictionaries stop fitting. Plain encoding
    // measures that width directly.
    val dirB = java.nio.file.Files.createTempDirectory("pqb").toString
    val dirI = java.nio.file.Files.createTempDirectory("pqi").toString
    val dirV = java.nio.file.Files.createTempDirectory("pqv").toString
    def writePlain(df: org.apache.spark.sql.DataFrame, dir: String): Unit =
      df.coalesce(1).write.mode("overwrite")
        .option("parquet.enable.dictionary", "false")
        .option("compression", "uncompressed")
        .parquet(dir)
    writePlain(codesBin, dirB)
    writePlain(codesInt, dirI)
    writePlain(e, dirV)
    def pbytes(d: String): Long =
      Option(new java.io.File(d).listFiles()).getOrElse(Array.empty)
        .filter(_.getName.endsWith(".parquet")).map(_.length).sum
    val (bB, bI, bV) = (pbytes(dirB), pbytes(dirI), pbytes(dirV))
    assert(bB > 0 && bI > 0 && bV > 0)
    assert(bB <= bI, s"binary codes $bB must not exceed int-array codes $bI")
    assert(bB * 8 <= bV, s"binary codes $bB must be <=1/8 of vectors $bV")
    codesInt.unpersist(); codesBin.unpersist(); assignments.unpersist(); e.unpersist()
  }

  test("pack/adc expressions: high codes (>=128) survive byte sign, adc equals the table sum") {
    import org.apache.spark.sql.functions.{array, col, lit}
    // adversarial codes exercising the signed-byte boundary: 0, 127, 128, 255
    val df = spark.range(1).select(
      array(lit(0), lit(127), lit(128), lit(255)).as("codes"))
    val packed = df.select(
      org.apache.spark.sql.graftbridge.Bridge.column(
        graft.functions.PackBytesExpression(
          org.apache.spark.sql.graftbridge.Bridge.expression(col("codes")))).as("b"))
    val bytes = packed.head.getAs[Array[Byte]]("b")
    assert(bytes.toSeq == Seq(0.toByte, 127.toByte, (-128).toByte, (-1).toByte))
    // flat table: 4 subspaces x ksub=256; entry m*256+c = m*1000 + c
    val table = array((0 until 4).flatMap(m =>
      (0 until 256).map(c => lit((m * 1000 + c).toDouble))): _*)
    val adc = packed.select(
      org.apache.spark.sql.graftbridge.Bridge.column(
        graft.functions.AdcScoreExpression(
          org.apache.spark.sql.graftbridge.Bridge.expression(col("b")),
          org.apache.spark.sql.graftbridge.Bridge.expression(table))).as("s"))
      .head.getDouble(0)
    assert(adc == (0 + 0) + (1000 + 127) + (2000 + 128) + (3000 + 255),
      s"adc $adc must index table[m*ksub + (code & 0xFF)]")
  }

  test("HeavyHitters: MG guarantee — heavy values survive, counts under-estimate within n/(cap+1)") {
    val sp = spark
    import sp.implicits._
    // adversarial stream: 2 heavy values + a long unique tail that tries to
    // evict them; 2 groups to exercise the per-group path
    val rnd = new scala.util.Random(3)
    val rows = (for (g <- Seq("g0", "g1"); i <- 1 to 6000) yield {
      val v = if (i % 10 < 3) "hot"            // 30%
              else if (i % 10 < 5) "warm"      // 20%
              else s"tail_${g}_${rnd.nextInt(100000)}_$i" // ~unique
      (g, v)
    })
    val df = rnd.shuffle(rows).toDF("g", "v").repartition(8) // merge-order stress
    val out = graft.operators.HeavyHitters
      .topKPerGroup(df, Seq("g"), "v", k = 5, capacity = 50)
      .collect()
      .groupBy(_.getString(0))
      .map { case (g, rs) => g -> rs.map(r => r.getString(1) -> r.getLong(2)).toMap }
    val n = 6000L
    val slack = n / 51 // n/(capacity+1)
    Seq("g0", "g1").foreach { g =>
      val hits = out(g)
      // survival: true freq 1800 and 1200 both > slack
      assert(hits.contains("hot") && hits.contains("warm"),
        s"$g: heavy values must survive, got ${hits.keys}")
      // under-estimate, bounded: true - slack <= reported <= true
      assert(hits("hot") <= 1800 && hits("hot") >= 1800 - slack,
        s"$g: hot count ${hits("hot")} outside [${1800 - slack}, 1800]")
      assert(hits("warm") <= 1200 && hits("warm") >= 1200 - slack,
        s"$g: warm count ${hits("warm")} outside [${1200 - slack}, 1200]")
      // and the two heavies rank 1-2 ahead of any tail survivor
      val top2 = hits.toSeq.sortBy(-_._2).take(2).map(_._1).toSet
      assert(top2 == Set("hot", "warm"), s"$g: top-2 must be the heavies: $top2")
    }
  }

  test("HeavyHitters weighted: survival and bound hold against total weight") {
    val sp = spark
    import sp.implicits._
    val rnd = new scala.util.Random(7)
    // heavy value carries 40% of total weight in FEW rows; the tail is many
    // small-weight unique values — the case unweighted MG mishandles
    val rows = (1 to 50).map(i => ("hot", 80L)) ++
      (1 to 4000).map(i => (s"tail_${rnd.nextInt(100000)}_$i", 1L + rnd.nextInt(2)))
    val df = rnd.shuffle(rows).toDF("v", "w").repartition(8)
    val totalW = rows.map(_._2).sum
    val out = df.agg(graft.operators.HeavyHitters
        .approxTopKWeighted(col("v"), col("w"), k = 3, capacity = 40).as("tk"))
      .selectExpr("inline(tk)")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val slack = totalW / 41
    assert(out.contains("hot"), s"heavy-weight value must survive: ${out.keys}")
    assert(out("hot") <= 4000L && out("hot") >= 4000L - slack,
      s"hot weight ${out("hot")} outside [${4000 - slack}, 4000]")
    assert(out.toSeq.maxBy(_._2)._1 == "hot", "hot must rank first")
  }

  test("TextAnalysis.lengthBandApprox agrees with k31's exact window band") {
    import org.apache.spark.sql.expressions.Window
    val docs = Tables.documents(spark, sf001)
    val w = Window.partitionBy("lang").orderBy(asc("ntok"), asc("doc_id"))
    val exact = docs
      .select(col("lang"), col("doc_id"), size(split(col("text"), " ")).as("ntok"))
      .withColumn("pr", percent_rank().over(w))
      .filter(col("pr") >= 0.1 && col("pr") <= 0.9)
      .select("lang", "doc_id").collect()
      .map(r => (r.getString(0), r.getLong(1))).toSet
    val approx = graft.api.TextAnalysis.lengthBandApprox(
        docs, "lang", "doc_id", size(split(col("text"), " ")))
      .select("lang", "doc_id").collect()
      .map(r => (r.getString(0), r.getLong(1))).toSet
    assert(exact.nonEmpty && approx.nonEmpty)
    // divergence is confined to boundary ties + sketch error — pin a
    // band-membership Jaccard agreement floor
    val agree = (exact & approx).size.toDouble / (exact | approx).size
    assert(agree >= 0.9, s"band agreement $agree (exact ${exact.size}, approx ${approx.size})")
  }

  test("pack/adc codegen actually compiles (no silent interpreted fallback)") {
    import org.apache.spark.sql.functions.{expr, lit}
    // With fallback enabled a janino CompileException silently degrades to
    // interpreted eval and the correctness tests still pass — this pins the
    // codegen'd path itself (the round-6 pack bug: `a ? 0 : (byte) x` has
    // Java type int, so the byte[] element assignment never compiled).
    val prevFallback = spark.conf.get("spark.sql.codegen.fallback")
    val prevFactory = spark.conf.getOption("spark.sql.codegen.factoryMode")
    spark.conf.set("spark.sql.codegen.fallback", "false")
    spark.conf.set("spark.sql.codegen.factoryMode", "CODEGEN_ONLY")
    try {
      val out = spark.range(3)
        .selectExpr("graft_pack_bytes(array(int(id), 127, 128, 255)) AS b")
        // table = 4 subspaces x ksub=256, entry i = double(i):
        // adc = sum_m (m*256 + code_m)
        .select(expr(
          "graft_adc(b, transform(sequence(0, 1023), i -> double(i)))").as("s"),
                lit(1).as("one"))
        .collect()
      assert(out.length == 3)
      assert(out.zipWithIndex.forall { case (r, id) =>
        r.getDouble(0) == (0 + id) + (256 + 127) + (512 + 128) + (768 + 255)
      })
    } finally {
      spark.conf.set("spark.sql.codegen.fallback", prevFallback)
      prevFactory match {
        case Some(v) => spark.conf.set("spark.sql.codegen.factoryMode", v)
        case None => spark.conf.unset("spark.sql.codegen.factoryMode")
      }
    }
  }

  test("IVF: cid-partitioned layout prunes a probe to its nprobe clusters at the storage layer") {
    import graft.api.Bucketing
    val e = Tables.embeddings(spark, sf0001)
    val cents = Ivf.firstKCentroids(e, 8)
    // the 100 TB deployment shape: the assignment is WRITTEN partitioned by
    // cid, so a probe's nprobe-cluster restriction is directory pruning —
    // the scan never touches the other clusters' bytes
    val dir = java.nio.file.Files.createTempDirectory("ivf_part").toString
    Bucketing.writePartitioned(Ivf.assign(e, cents), dir, "cid")
    val all = Bucketing.filesRead(spark.read.parquet(dir))
    val probed = Bucketing.filesRead(
      spark.read.parquet(dir).filter(col("cid").isin(2L, 5L)))
    assert(all >= 8, s"expected >=8 cluster partitions, read $all files")
    assert(probed * 4 <= all,
      s"nprobe=2 of 8 clusters must read ~1/4 of the files: $probed of $all")
  }

  test("GroupEmit: exact i<j pairs below the cap, identical to the naive shape") {
    val s = spark
    import s.implicits._
    // 3 buckets of sizes 1 / 4 / 7 — expected pair counts 0 / 6 / 21
    val rows = (1 to 1).map(i => ("b1", i.toLong)) ++
               (1 to 4).map(i => ("b2", i.toLong)) ++
               (1 to 7).map(i => ("b3", i.toLong))
    val df = rows.toDF("bucket", "id")
    val pairs = GroupEmit.boundedPairs(df, Seq("bucket"), struct(col("id")), cap = 100)
      .select(col("x.id").as("a"), col("y.id").as("b"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    // full multiset equality vs the naive per-bucket i<j enumeration —
    // ids repeat across buckets, so the same (a,b) may legitimately occur
    // once per bucket and a sorted-list compare is the complete check
    val naive = Seq(1, 4, 7).flatMap { n =>
      for (a <- 1L to n.toLong; b <- (a + 1) to n.toLong) yield (a, b)
    }
    assert(pairs.sorted == naive.sorted,
      s"governed emission must equal naive enumeration: got ${pairs.sorted}")
  }

  test("GroupEmit: adversarial single bucket degrades to linear star pairs") {
    val s = spark
    import s.implicits._
    // 500 rows in ONE bucket (the mass-duplicated-boilerplate corpus): the
    // naive shape would collect one 500-element row and emit 124 750 pairs
    // from one task; the governor must emit exactly 499 star pairs rooted
    // at the bucket minimum — linear, and never a whole-bucket collect.
    val df = (1 to 500).map(i => ("dup", i.toLong)).toDF("bucket", "id")
    val out = GroupEmit.boundedPairs(df, Seq("bucket"), struct(col("id")), cap = 50)
      .select(col("x.id").as("a"), col("y.id").as("b"))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(out.length == 499, s"expected 499 star pairs, got ${out.length}")
    assert(out.forall(_._1 == 1L), "every star pair must root at the bucket min")
    assert(out.map(_._2).toSet == (2L to 500L).toSet,
      "star pairs must keep the duplicate cluster fully connected")
  }

  test("GroupEmit: both branches reuse one shuffle (signature stage runs once)") {
    val s = spark
    import s.implicits._
    val df = (1 to 100).map(i => (s"b${i % 10}", i.toLong)).toDF("bucket", "id")
    val pairs = GroupEmit.boundedPairs(df, Seq("bucket"), struct(col("id")), cap = 5)
    pairs.collect()
    // the small and large branches hang off byte-identical Exchange
    // subtrees; Spark's ReuseExchange must collapse them so the upstream
    // (in production: the signature computation) executes once. Assert on
    // the AQE FINAL plan only (toString also prints the initial plan,
    // which legitimately holds two scans): exactly one source scan may
    // remain, replaced in the large branch by a ReusedExchange.
    val finalPlan = pairs.queryExecution.executedPlan.toString
      .split("== Initial Plan ==").head
    val scans = "LocalTableScan".r.findAllIn(finalPlan).length
    assert(finalPlan.contains("ReusedExchange"),
      s"large branch must reuse the small branch's exchange:\n$finalPlan")
    assert(scans == 1,
      s"upstream must execute once, found $scans scans:\n$finalPlan")
  }

  test("k19 banding: bucket sizes are band-bounded, not source-bounded") {
    val sourceMax = Tables.documents(spark, sf001)
      .groupBy("source").count()
      .agg(max("count")).collect().head.getLong(0)
    // the k19 plan's bucket key adds (band#, 4-bit signature value): with 16
    // key values per band the worst bucket must sit well under the whole
    // source block the round-2 shape collected. k19BucketSizes exposes the
    // REAL plan's banding key, not a test-side re-derivation.
    val sizes = graft.engine.ExtOps.k19BucketSizes(spark, sf001)
      .agg(max("n").as("mx"), avg("n").as("av")).collect().head
    val (bandMax, bandAvg) = (sizes.getLong(0), sizes.getDouble(1))
    val sourceAvg = Tables.documents(spark, sf001).count().toDouble /
      Tables.documents(spark, sf001).select("source").distinct().count()
    assert(bandMax < sourceMax,
      s"banded max bucket $bandMax must undercut source-block max $sourceMax")
    // the MAX bucket on this near-dup-heavy fixture is a genuine duplicate
    // cluster (same signature in every band — exactly what LSH must group;
    // the GroupEmit cap bounds its pair blowup). The TYPICAL bucket must
    // spread: mean bucket ≪ mean source block.
    assert(bandAvg <= sourceAvg / 3,
      s"banding should spread blocks: avg bucket $bandAvg vs avg source $sourceAvg")
  }

  test("k15/k19 fixture buckets sit under the GroupEmit cap at the largest sf") {
    // k15/k19 are EXACT oracle-checked queries riding GroupEmit: a bucket
    // over the cap would silently star-degrade and diverge from the oracle
    // as an unexplained hash mismatch. Pin the headroom by name instead —
    // against the real plans' bucket histograms at the largest tested sf.
    val sf01 = "/root/testdata/sf0.1"
    val k19Max = graft.engine.ExtOps.k19BucketSizes(spark, sf01)
      .agg(max("n")).collect().head.getLong(0)
    val k15Max = graft.engine.ExtOps.k15BucketSizes(spark, sf01)
      .agg(max("n")).collect().head.getLong(0)
    assert(k19Max < GroupEmit.DefaultCap,
      s"k19 max bucket $k19Max reached the GroupEmit cap ${GroupEmit.DefaultCap}: " +
        "the declared query would silently drop non-witness pairs")
    assert(k15Max < GroupEmit.DefaultCap,
      s"k15 max bucket $k15Max reached the GroupEmit cap ${GroupEmit.DefaultCap}")
  }

  test("graft_unit native expression ≡ HOF normalize, bit-exact (and codegen-safe)") {
    val e = Tables.embeddings(spark, sf0001).limit(200)
    e.createOrReplaceTempView("e_unit_t")
    // HOF reference: cast to double, divide each element by the dot-norm
    val diff = spark.sql(
      """SELECT max(abs_diff) AS d FROM (
        |  SELECT aggregate(zip_with(
        |      graft_unit(embedding),
        |      transform(transform(embedding, x -> CAST(x AS DOUBLE)),
        |        x -> x / sqrt(aggregate(transform(transform(embedding, y -> CAST(y AS DOUBLE)),
        |                                          y -> y * y), 0D, (a, v) -> a + v))),
        |      (p, q) -> abs(p - q)), 0D, (a, v) -> greatest(a, v)) AS abs_diff
        |  FROM e_unit_t)""".stripMargin).collect().head.getDouble(0)
    assert(diff == 0.0, s"graft_unit drifted from HOF normalize by $diff")
    // unit property: |v|₂ = 1 within float64 rounding
    val norms = spark.sql(
      """SELECT max(abs(sqrt(graft_dot(graft_unit(embedding), graft_unit(embedding))) - 1.0)) AS d
        |FROM e_unit_t""".stripMargin).collect().head.getDouble(0)
    assert(norms < 1e-12)
  }

  test("UniqUpTo: exact below cap, sentinel above, state bounded at N+1") {
    val agg = graft.operators.UniqUpTo(10)
    // exact side: 7 distinct values, duplicated — finish = 7
    val small = (1L to 7L) ++ (1L to 7L)
    val bSmall = small.foldLeft(agg.zero)((b, v) => agg.reduce(b, v))
    assert(agg.finish(bSmall) == 7)
    // saturated side: 1M distinct values — buffer NEVER grows past N+1 and
    // finish reports the sentinel, not the true cardinality
    val bBig = (1L to 1000000L).foldLeft(agg.zero) { (b, v) =>
      val nb = agg.reduce(b, v)
      assert(nb.seen.length <= 11, "buffer must stay capped at N+1")
      nb
    }
    assert(agg.finish(bBig) == 11)
    // merge keeps the cap and the semantics: disjoint partials that jointly
    // exceed N must merge to the sentinel without exceeding the cap
    val b1 = (1L to 6L).foldLeft(agg.zero)((b, v) => agg.reduce(b, v))
    val b2 = (100L to 106L).foldLeft(agg.zero)((b, v) => agg.reduce(b, v))
    val m = agg.merge(b1, b2)
    assert(m.seen.length <= 11 && agg.finish(m) == 11)
    // overlapping partials must not double-count
    val b3 = (1L to 4L).foldLeft(agg.zero)((b, v) => agg.reduce(b, v))
    assert(agg.finish(agg.merge(b1, b3)) == 6)
    // nulls are skipped like COUNT(DISTINCT)
    assert(agg.finish(agg.reduce(agg.zero, null)) == 0)
  }

  test("TextAnalysis.compressionRatio: repetition separates, monotone, deterministic, guarded") {
    val sp = spark
    import sp.implicits._
    // planted cases in the k30/k37 repetition family: same-length docs
    // built from a 30-token distinct base, with the repeated fraction
    // rising 0 → 1 — the ratio must fall strictly MONOTONICALLY and
    // separate the fully-repetitive doc from the fully-distinct one
    val base = (1 to 30).map(i => f"w$i%02d")
    val docs = (0 to 4).map { r =>
      // r/4 of the 120 tokens are copies of ONE token, the rest distinct
      val nRep = 30 * r
      val toks = Seq.fill(nRep)("boiler") ++
        (1 to (120 - nRep)).map(i => base(i % 30) + i.toString)
      (r.toLong, toks.mkString(" "))
    }
    val got = graft.api.TextAnalysis
      .compressionRatio(docs.toDF("doc_id", "text"), "doc_id", "text")
      .collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getDouble(3))))
      .toMap
    val ratios = (0 to 4).map(r => got(r.toLong)._3)
    assert(ratios.sliding(2).forall { case Seq(a, b) => b < a },
      s"ratio must fall as repetition rises: $ratios")
    assert(ratios.head > 2 * ratios.last,
      s"fully-repetitive must compress far below fully-distinct: $ratios")
    // determinism: a second run returns identical bytes
    val again = graft.api.TextAnalysis
      .compressionRatio(docs.toDF("doc_id", "text"), "doc_id", "text")
      .collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getDouble(3))))
      .toMap
    assert(again == got, "deflate output must be deterministic per level")
    // guards: null and empty text survive (ratio uses max(bytes, 1))
    val edge = graft.api.TextAnalysis.compressionRatio(
      Seq((1L, ""), (2L, null: String)).toDF("doc_id", "text"),
      "doc_id", "text").collect()
    assert(edge.length == 2 && edge.forall(_.getLong(1) == 0L))
  }

  test("UniqUpTo via udaf matches LEAST(COUNT(DISTINCT), N+1) across partitions") {
    val sp = spark
    import sp.implicits._
    val rnd = new scala.util.Random(11)
    // g0: 3 distinct (below cap 5); g1: 50 distinct (above cap) — shuffled
    // across 8 partitions so the DF path exercises partial merges
    val rows = (1 to 300).map(i => ("g0", (i % 3).toLong)) ++
      (1 to 300).map(i => ("g1", (i % 50).toLong))
    val df = rnd.shuffle(rows).toDF("g", "v").repartition(8)
    val u5 = udaf(graft.operators.UniqUpTo(5), org.apache.spark.sql.Encoders.LONG)
    val out = df.groupBy("g").agg(u5(col("v")).as("u"))
      .collect().map(r => r.getString(0) -> r.getInt(1)).toMap
    assert(out == Map("g0" -> 3, "g1" -> 6), s"got $out")
  }
}
