package graft

import java.sql.Timestamp
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{OutputMode, TTLConfig}
import graft.streaming.StreamOps

/** True streaming execution against MemoryStream (SURVEY §2.2 rows
  * "True streaming" / "Watermark + late data" / "Streaming dedup" /
  * "Stateful sessions"). Batch-window semantics are pinned by the j-block
  * oracles; these pin the incremental behavior. */
class StreamingSpec extends SparkSpec {

  private def ts(minutes: Int): Timestamp =
    new Timestamp(1704067200000L + minutes * 60000L) // 2024-01-01 00:00 UTC

  /** Run `body` with the session conf `key` set to `value`, restoring the
    * prior setting afterwards — INCLUDING when query construction/start
    * throws, so a failing test cannot leak the setting into later suites. */
  private def withConf[A](key: String, value: String)(body: => A): A = {
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, value)
    try body finally prev match {
      case Some(p) => spark.conf.set(key, p)
      case None => spark.conf.unset(key)
    }
  }

  /** Run `body` with the RocksDB state-store provider that every
    * transformWithState operator needs (see [[withConf]]). */
  private def withRocksDbProvider[A](body: => A): A =
    withConf("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")(body)

  case class Ev(event_id: Long, user_id: Long, ts: Timestamp, value: Double)

  test("tumbling agg with watermark drops late rows, accepts in-watermark rows") {
    val sp = spark
    import sp.implicits._
    implicit val sq = spark.sqlContext
    val in = MemoryStream[Ev]
    val q = StreamOps.tumblingAgg(in.toDF(), lateness = "10 minutes", window_ = "1 hour")
      .writeStream.format("memory").queryName("tumbling_t").outputMode(OutputMode.Update).start()
    try {
      in.addData(Ev(1, 1, ts(5), 1.0), Ev(2, 1, ts(65), 1.0), Ev(3, 1, ts(130), 1.0))
      q.processAllAvailable() // watermark now 130 - 10 = 120min
      in.addData(Ev(4, 1, ts(50), 1.0))  // hour-0 window closed at wm 70 → dropped
      in.addData(Ev(5, 1, ts(125), 1.0)) // hour-2 window open → counted
      q.processAllAvailable()
      val out = spark.table("tumbling_t")
        .groupBy("w_start").agg(max("n").as("n"))
        .collect().map(r => r.getTimestamp(0).getTime -> r.getLong(1)).toMap
      assert(out(ts(0).getTime) == 1L, "late row must not update the closed window")
      assert(out(ts(120).getTime) == 2L, "in-watermark row must update the open window")
    } finally q.stop()
  }

  test("streaming dedup drops replayed (user_id, event_id) pairs") {
    val sp = spark
    import sp.implicits._
    implicit val sq = spark.sqlContext
    val in = MemoryStream[Ev]
    val q = StreamOps.dedup(in.toDF()).writeStream
      .format("memory").queryName("dedup_t").outputMode(OutputMode.Append).start()
    try {
      in.addData(Ev(1, 1, ts(0), 1.0), Ev(2, 1, ts(1), 1.0))
      q.processAllAvailable()
      in.addData(Ev(1, 1, ts(0), 1.0), Ev(3, 1, ts(2), 1.0)) // replay of event 1
      q.processAllAvailable()
      assert(spark.table("dedup_t").count() == 3)
    } finally q.stop()
  }

  test("streaming sessionization closes a session after the gap") {
    val sp = spark
    import sp.implicits._
    implicit val sq = spark.sqlContext
    val in = MemoryStream[Ev]
    // session windows only support Append: sessions emit once finalized
    // (watermark past session end)
    val q = StreamOps.sessionize(in.toDF(), gap = "30 minutes", lateness = "5 minutes")
      .writeStream.format("memory").queryName("sess_t").outputMode(OutputMode.Append).start()
    try {
      // session A: 0,10; session B: 50 (gap 40 > 30) — then push watermark forward
      in.addData(Ev(1, 7, ts(0), 1.0), Ev(2, 7, ts(10), 1.0), Ev(3, 7, ts(50), 1.0))
      q.processAllAvailable()
      in.addData(Ev(4, 7, ts(300), 1.0))
      q.processAllAvailable()
      in.addData(Ev(5, 7, ts(600), 1.0)) // advance watermark again to flush
      q.processAllAvailable()
      val sessions = spark.table("sess_t")
        .groupBy("s_start").agg(max("n_events").as("n"))
        .collect().map(r => r.getTimestamp(0).getTime -> r.getLong(1)).toMap
      assert(sessions(ts(0).getTime) == 2L)
      assert(sessions(ts(50).getTime) == 1L)
    } finally q.stop()
  }

  test("streaming simhash60 is bit-identical to the batch SimHashDedup fingerprints") {
    import graft.engine.Tables
    import graft.operators.SimHashDedup
    import graft.streaming.StreamingNearDedup
    // the anchor that ties the streaming operator's semantics to the
    // oracle-checked batch truth: same md5/vote/bit pipeline, two engines
    val docs = Tables.documents(spark, sf0001).select("doc_id", "text")
    val batch = SimHashDedup.fingerprints(docs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val texts = docs.collect().map(r => r.getLong(0) -> r.getString(1))
    assert(texts.nonEmpty)
    texts.foreach { case (id, text) =>
      assert(StreamingNearDedup.simhash60(text) == batch(id),
        s"doc $id: streaming sig != batch sig")
    }
  }

  test("streaming near-dedup flags re-ingested near-dups across micro-batches") {
    import graft.streaming.StreamingNearDedup
    import graft.streaming.StreamingNearDedup.{DocIn, DupHit}
    val sp = spark
    import sp.implicits._
    implicit val s = spark
    implicit val sq = spark.sqlContext
    withRocksDbProvider {
      val in = MemoryStream[DocIn]
      val q = StreamingNearDedup.dedupStream(in.toDS(), maxHamming = 6).writeStream
        .format("memory").queryName("neardup_t").outputMode(OutputMode.Append).start()
      try {
        in.addData(
          DocIn(1, "the quick brown fox jumps over the lazy dog"),
          DocIn(2, "completely unrelated corpus text about spark shuffles and parquet"))
        q.processAllAvailable()
        // same token set as doc 1, reordered → Hamming 0 against the corpus
        in.addData(
          DocIn(3, "lazy dog the quick brown fox jumps over"),
          DocIn(4, "yet another disjoint document mentioning clickhouse replication"))
        q.processAllAvailable()
        val hits = spark.table("neardup_t").as[DupHit].collect()
          .map(h => (h.doc_id, h.dup_of, h.hamming)).toSet
        assert(hits.contains((3L, 1L, 0)),
          s"re-ingested near-dup must be flagged against the accumulated corpus: $hits")
        assert(!hits.exists(h => h._1 == 2L || h._1 == 4L),
          s"distinct docs must pass clean: $hits")
        // a doc never dups against itself, and earlier docs are never re-flagged
        assert(!hits.exists(h => h._1 == h._2) && !hits.exists(_._1 == 1L))
      } finally { q.stop() }
    }
  }

  test("streaming near-dedup is replay-idempotent (at-least-once delivery)") {
    import graft.streaming.StreamingNearDedup
    import graft.streaming.StreamingNearDedup.{DocIn, DupHit}
    val sp = spark
    import sp.implicits._
    implicit val s = spark
    implicit val sq = spark.sqlContext
    withRocksDbProvider {
      val in = MemoryStream[DocIn]
      val q = StreamingNearDedup.dedupStream(in.toDS(), maxHamming = 6).writeStream
        .format("memory").queryName("replay_t").outputMode(OutputMode.Append).start()
      try {
        val d1 = DocIn(1, "alpha beta gamma delta epsilon zeta")
        in.addData(d1)
        q.processAllAvailable()
        in.addData(d1) // replayed delivery: must neither emit nor duplicate state
        q.processAllAvailable()
        // identical token set → collides with doc 1 in all 4 bands: exactly
        // 4 hit rows if state holds ONE entry for doc 1, 8 if the replay
        // duplicated it
        in.addData(DocIn(2, "zeta epsilon delta gamma beta alpha"))
        q.processAllAvailable()
        val hits = spark.table("replay_t").as[DupHit].collect()
        assert(!hits.exists(_.doc_id == 1L), s"replay must not re-emit: ${hits.toSeq}")
        assert(hits.count(h => h.doc_id == 2L && h.dup_of == 1L) == 4,
          s"duplicated state would double the per-band hits: ${hits.toSeq}")
      } finally { q.stop() }
    }
  }

  test("streaming minhashBand is value-identical to the batch k15 band") {
    import graft.engine.Tables
    import graft.streaming.StreamingNearDedup
    val docs = Tables.documents(spark, sf0001).select("doc_id", "text")
    val batch = docs
      .select(col("doc_id"), explode(split(col("text"), " ")).as("t"))
      .groupBy("doc_id")
      .agg(concat((0 until 4).map(i =>
        min(md5(concat(lit(s"$i:"), col("t"))))): _*).as("band"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val texts = docs.collect().map(r => r.getLong(0) -> r.getString(1))
    assert(texts.nonEmpty)
    texts.foreach { case (id, text) =>
      assert(StreamingNearDedup.minhashBand(text) == batch(id),
        s"doc $id: streaming band != batch band")
    }
  }

  test("streaming minhash dedup flags band collisions across micro-batches") {
    import graft.streaming.StreamingNearDedup
    import graft.streaming.StreamingNearDedup.{DocIn, MinHashHit}
    val sp = spark
    import sp.implicits._
    implicit val s = spark
    implicit val sq = spark.sqlContext
    withRocksDbProvider {
      val in = MemoryStream[DocIn]
      val q = StreamingNearDedup.minhashDedupStream(in.toDS()).writeStream
        .format("memory").queryName("mh_dedup_t").outputMode(OutputMode.Append).start()
      try {
        in.addData(
          DocIn(1, "the quick brown fox jumps over the lazy dog"),
          DocIn(2, "completely unrelated corpus text about spark shuffles"))
        q.processAllAvailable()
        // identical token SET (minhash is set-invariant) → same band
        in.addData(DocIn(3, "dog lazy the over jumps fox brown quick the"))
        q.processAllAvailable()
        val hits = spark.table("mh_dedup_t").as[MinHashHit].collect()
          .map(h => (h.doc_id, h.dup_of)).toSet
        assert(hits == Set((3L, 1L)), s"expected exactly the re-ingest hit: $hits")
      } finally { q.stop() }
    }
  }

  test("stream-stream interval join enriches within the window only") {
    val sp = spark
    import sp.implicits._
    implicit val sq = spark.sqlContext
    val purchases = MemoryStream[Ev]
    val signups = MemoryStream[Ev]
    val joined = StreamOps.intervalJoin(
      purchases.toDF(),
      signups.toDF().select(col("event_id").as("r_id"), col("user_id").as("r_user"),
                            col("ts").as("r_ts")),
      window_ = "1 hour")
    val q = joined.select(col("event_id"), col("r_id")).writeStream
      .format("memory").queryName("ij_t").outputMode(OutputMode.Append).start()
    try {
      signups.addData(Ev(100, 1, ts(0), 0), Ev(101, 1, ts(200), 0), Ev(102, 2, ts(5), 0))
      purchases.addData(Ev(1, 1, ts(30), 1.0))   // within 1h of signup 100 only
      purchases.addData(Ev(2, 1, ts(230), 1.0))  // within 1h of signup 101 only
      purchases.addData(Ev(3, 2, ts(300), 1.0))  // signup 102 is 295min earlier → no match
      q.processAllAvailable()
      val pairs = spark.table("ij_t").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(pairs == Set((1L, 100L), (2L, 101L)))
    } finally q.stop()
  }

  test("file-source streaming: readStream tails a directory of parquet files") {
    val sp = spark
    import sp.implicits._
    val dir = java.nio.file.Files.createTempDirectory("tail").toString
    // first file exists before the stream starts
    Seq((1L, "a"), (2L, "b")).toDF("id", "v").write.parquet(s"$dir/in/f1")
    // file source needs paths at one level: use the parent with glob-less
    // nested discovery off — write parts directly instead
    val inDir = s"$dir/flat"
    new java.io.File(inDir).mkdirs()
    Seq((1L, "a"), (2L, "b")).toDF("id", "v")
      .coalesce(1).write.mode("append").parquet(inDir)
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("id", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("v", org.apache.spark.sql.types.StringType)))
    val q = spark.readStream.schema(schema).parquet(inDir)
      .writeStream.format("memory").queryName("tail_t")
      .outputMode(OutputMode.Append).start()
    try {
      q.processAllAvailable()
      assert(spark.table("tail_t").count() == 2)
      // a new file lands while the stream runs → next batch picks it up
      Seq((3L, "c")).toDF("id", "v").coalesce(1).write.mode("append").parquet(inDir)
      q.processAllAvailable()
      assert(spark.table("tail_t").count() == 3)
    } finally q.stop()
  }

  test("streaming MV maintenance: merged state equals full recompute; replays are idempotent") {
    val sp = spark
    import sp.implicits._
    implicit val sq = spark.sqlContext
    implicit val s = spark
    val root = java.nio.file.Files.createTempDirectory("mv_s").toString
    val (stateDir, ckDir) = (s"$root/state", s"$root/ck")
    val in = MemoryStream[(Long, String, Double)]
    val keys = Seq("event_type")
    val q = StreamOps.startMvMaintenanceSink(
      in.toDF().toDF("event_id", "event_type", "value"),
      keys, "value", stateDir, ckDir)
    def view: Map[String, (Long, Double, Double)] =
      StreamOps.readMv(stateDir, keys).collect()
        .map(r => r.getString(0) -> (r.getLong(1), r.getDouble(2), r.getDouble(3))).toMap
    try {
      in.addData((1L, "a", 1.5), (2L, "a", 2.5), (3L, "b", 10.0))
      q.processAllAvailable()
      assert(view == Map("a" -> ((2L, 4.0, 2.0)), "b" -> ((1L, 10.0, 10.0))))
      // second batch: the state advances incrementally (delta-only agg)
      in.addData((4L, "a", 6.0), (5L, "c", 3.0))
      q.processAllAvailable()
      val after = view
      assert(after == Map("a" -> ((3L, 10.0, 3.3333)),
                          "b" -> ((1L, 10.0, 10.0)), "c" -> ((1L, 3.0, 3.0))))
      // at-least-once replay of the LAST batch: re-applying it must read
      // state_v(N-1), never its own output — the view is unchanged
      val lastBatch = Seq((4L, "a", 6.0), (5L, "c", 3.0))
        .toDF("event_id", "event_type", "value")
      val lastId = Option(new java.io.File(stateDir).listFiles()).get
        .flatMap(f => "^state_v(\\d+)$".r.findFirstMatchIn(f.getName)
                        .map(_.group(1).toLong)).max
      graft.streaming.StreamOps.mvApplyBatch(lastBatch, lastId, keys, "value", stateDir)
      assert(view == after, "replayed batch must not double-count")
    } finally q.stop()
  }

  test("readMv skips a torn (markerless) version; apply merges from committed state only") {
    val sp = spark
    import sp.implicits._
    implicit val s = spark
    val root = java.nio.file.Files.createTempDirectory("mv_torn").toString
    val stateDir = s"$root/state"
    val keys = Seq("event_type")
    def view: Map[String, (Long, Double, Double)] =
      StreamOps.readMv(stateDir, keys).collect()
        .map(r => r.getString(0) -> (r.getLong(1), r.getDouble(2), r.getDouble(3))).toMap
    StreamOps.mvApplyBatch(
      Seq((1L, "a", 1.0), (2L, "b", 4.0)).toDF("event_id", "event_type", "value"),
      1L, keys, "value", stateDir)
    StreamOps.mvApplyBatch(
      Seq((3L, "a", 3.0)).toDF("event_id", "event_type", "value"),
      2L, keys, "value", stateDir)
    val committed = view
    assert(committed == Map("a" -> ((2L, 4.0, 2.0)), "b" -> ((1L, 4.0, 4.0))))
    // fabricate the crash shape: a higher version directory that was never
    // atomically published — partial data file, no _SUCCESS marker
    val torn = new java.io.File(stateDir, "state_v3")
    assert(torn.mkdirs())
    java.nio.file.Files.write(torn.toPath.resolve("part-00000.parquet"),
      Array[Byte](0x50, 0x41, 0x52)) // truncated magic, unreadable
    // a racing reader must resolve v2, not fail on (or trust) torn v3
    assert(view == committed, "reader must fall back to the committed version")
    // a later batch must merge from committed v2 as well, never torn v3
    StreamOps.mvApplyBatch(
      Seq((4L, "b", 2.0)).toDF("event_id", "event_type", "value"),
      4L, keys, "value", stateDir)
    assert(view == Map("a" -> ((2L, 4.0, 2.0)), "b" -> ((2L, 6.0, 3.0))))
    // no temp dirs left behind by the publish
    assert(!Option(new java.io.File(stateDir).listFiles()).get
      .exists(_.getName.startsWith(".state_v")), "temp dirs must not leak")
  }

  test("streaming MV with signed retraction: CDC deletes cancel state; collapsed key vanishes") {
    val sp = spark
    import sp.implicits._
    implicit val sq = spark.sqlContext
    implicit val s = spark
    val root = java.nio.file.Files.createTempDirectory("mv_sr").toString
    val (stateDir, ckDir) = (s"$root/state", s"$root/ck")
    val in = MemoryStream[(Long, String, Double, Int)]
    val keys = Seq("event_type")
    val q = StreamOps.startMvMaintenanceSink(
      in.toDF().toDF("event_id", "event_type", "value", "sign"),
      keys, "value", stateDir, ckDir, signCol = Some("sign"))
    try {
      in.addData((1L, "a", 1.5, 1), (2L, "a", 2.5, 1), (3L, "b", 10.0, 1))
      q.processAllAvailable()
      // batch 2 is pure retraction: row 2 of 'a' and ALL of 'b'
      in.addData((2L, "a", 2.5, -1), (3L, "b", 10.0, -1))
      q.processAllAvailable()
      val rows = StreamOps.readMv(stateDir, keys).collect()
        .map(r => r.getString(0) -> (r.getLong(1), r.getDouble(2))).toMap
      assert(rows == Map("a" -> ((1L, 1.5))),
        s"'b' must collapse to zero and vanish, 'a' keeps one row: $rows")
    } finally q.stop()
  }

  test("stream-static enrichment picks up a republished dimension at the next micro-batch") {
    val sp = spark
    import sp.implicits._
    implicit val sq = spark.sqlContext
    val root = java.nio.file.Files.createTempDirectory("enrich").toString
    val (dimPath, outDir, ckDir) = (s"$root/dim", s"$root/out", s"$root/ck")
    Seq((1L, "one_v1"), (2L, "two_v1")).toDF("k", "label")
      .write.parquet(dimPath)
    val in = MemoryStream[(Long, Double)]
    val q = graft.streaming.StreamOps.startEnrichedSink(
      in.toDF().toDF("k", "v"), dimPath, "k", outDir, ckDir)
    try {
      in.addData((1L, 10.0), (2L, 20.0))
      q.processAllAvailable()
      val b0 = spark.read.parquet(s"$outDir/batch_0")
        .select("k", "label").collect().map(r => r.getLong(0) -> r.getString(1)).toMap
      assert(b0 == Map(1L -> "one_v1", 2L -> "two_v1"))
      // dimension republished BETWEEN batches: relabeled + a new key; key 2 dropped
      Seq((1L, "one_v2"), (3L, "three_v2")).toDF("k", "label")
        .write.mode("overwrite").parquet(dimPath)
      in.addData((1L, 11.0), (2L, 21.0), (3L, 31.0))
      q.processAllAvailable()
      val b1 = spark.read.parquet(s"$outDir/batch_1")
        .select("k", "label").collect()
        .map(r => r.getLong(0) -> Option(r.getString(1))).toMap
      assert(b1(1L).contains("one_v2"), "refreshed label must be visible next batch")
      assert(b1(3L).contains("three_v2"), "a key added by the republish must enrich")
      assert(b1(2L).isEmpty, "a key dropped from the dimension passes through with NULL (left join)")
    } finally q.stop()
  }

  test("streaming IVF ingest routes like the batch assign and lands cid-partitioned") {
    import graft.streaming.StreamingIvf
    import graft.streaming.StreamingIvf.VecIn
    import graft.engine.Tables
    import graft.operators.Ivf
    val sp = spark
    import sp.implicits._
    implicit val s = spark
    implicit val sq = spark.sqlContext
    val e = Tables.embeddings(spark, sf0001)
    val cents = Ivf.firstKCentroids(e, 8)
      .select(col("cid"), graft.api.Similarity.asDouble(col("embedding")).as("e"))
      .collect().map(r => (r.getLong(0), r.getSeq[Double](1))).toSeq
    val vecs = e.select("vec_id", "embedding").as[(Long, Array[Float])]
      .collect().map(v => VecIn(v._1, v._2))
    val outDir = java.nio.file.Files.createTempDirectory("sivf_out").toString
    val ckDir = java.nio.file.Files.createTempDirectory("sivf_ck").toString
    val in = MemoryStream[VecIn]
    val q = StreamingIvf.start(in.toDS(), cents, outDir, ckDir)
    try {
      val (h1, h2) = vecs.splitAt(vecs.length / 2)
      in.addData(h1.toIndexedSeq: _*); q.processAllAvailable()
      in.addData(h2.toIndexedSeq: _*); q.processAllAvailable()
    } finally q.stop()
    // the store is cid-partitioned (directory per cluster, across batches)
    val cidDirs = new java.io.File(outDir).listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("cid=")).map(_.getName).toSet
    assert(cidDirs.size > 1, s"expected multiple cluster partitions, got $cidDirs")
    // and every vector landed under EXACTLY the batch assignment's cluster
    val stored = spark.read.parquet(outDir)
      .select(col("vec_id"), col("cid").cast("long")) // partition col infers INT
      .collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val batch = Ivf.assign(e, cents.toDF("cid", "embedding"))
      .select("vec_id", "cid").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(stored == batch, "streaming route must equal the batch assignment")
  }

  test("streaming IVF centroid refresh: restart pins the new set, partition consistency holds per version") {
    import graft.streaming.StreamingIvf
    import graft.streaming.StreamingIvf.VecIn
    import graft.engine.Tables
    import graft.operators.Ivf
    val sp = spark
    import sp.implicits._
    implicit val s = spark
    implicit val sq = spark.sqlContext
    val e = Tables.embeddings(spark, sf0001)
    val centsV1 = Ivf.firstKCentroids(e, 4)
      .select(col("cid"), graft.api.Similarity.asDouble(col("embedding")).as("e"))
      .collect().map(r => (r.getLong(0), r.getSeq[Double](1))).toSeq
    // "re-trained" set: more cells AND refined — genuinely different routing
    val centsV2 = Ivf.kmeansCentroids(e, 8, iters = 2)
      .select(col("cid"), graft.api.Similarity.asDouble(col("embedding")).as("e"))
      .collect().map(r => (r.getLong(0), r.getSeq[Double](1))).toSeq
    val vecs = e.select("vec_id", "embedding").as[(Long, Array[Float])]
      .collect().map(v => VecIn(v._1, v._2)).sortBy(_.vec_id)
    val (h1, h2) = vecs.splitAt(vecs.length / 2)
    val cDir = java.nio.file.Files.createTempDirectory("sivf_cents").toString
    val outDir = java.nio.file.Files.createTempDirectory("sivf_vout").toString
    val ckDir = java.nio.file.Files.createTempDirectory("sivf_vck").toString

    // run 1 under published v1
    assert(StreamingIvf.publishCentroids(centsV1, cDir) == 1)
    val in1 = MemoryStream[VecIn]
    val q1 = StreamingIvf.startVersioned(in1.toDS(), cDir, outDir, ckDir)
    try { in1.addData(h1.toIndexedSeq: _*); q1.processAllAvailable() } finally q1.stop()

    // batch trainer publishes v2; the RESTARTED stream (same checkpoint)
    // picks it up without any manual rewiring
    assert(StreamingIvf.publishCentroids(centsV2, cDir) == 2)
    val in2 = MemoryStream[VecIn]
    in2.addData(h1.toIndexedSeq: _*) // replay of run 1's offsets range
    val q2 = StreamingIvf.startVersioned(in2.toDS(), cDir, outDir, ckDir)
    try { in2.addData(h2.toIndexedSeq: _*); q2.processAllAvailable() } finally q2.stop()

    val stored = spark.read.parquet(outDir)
      .select(col("vec_id"), col("cid").cast("long").as("cid"),
              col("cv").cast("int").as("cv"), col("embedding"))
    // both versions actually landed data
    val cvs = stored.select("cv").distinct().as[Int].collect().toSet
    assert(cvs == Set(1, 2), s"expected data under both centroid versions, got $cvs")
    // PARTITION CONSISTENCY: within each version, every stored cid equals
    // the batch assignment under THAT version's centroid set — a file is
    // never routed by one set and filed under another
    for ((v, cents) <- Seq(1 -> centsV1, 2 -> centsV2)) {
      val got = stored.filter(col("cv") === v)
        .select("vec_id", "cid").distinct().collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      val want = Ivf.assign(e, cents.toDF("cid", "embedding"))
        .select("vec_id", "cid").collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      got.foreach { case (id, cid) =>
        assert(want(id) == cid, s"v$v: vec $id stored under cid $cid, assign says ${want(id)}")
      }
    }
    // cross-version probe: per-version pruned shortlists, exact global rank
    val probeVec = graft.api.Similarity.asDouble(col("embedding"))
    val probe = e.filter(col("vec_id") === 0L).select(probeVec).head.getSeq[Double](0)
    val got = StreamingIvf.topKAcrossVersions(stored, cDir, probe, k = 5, nprobe = 4)
      .select("vec_id").as[Long].collect().toSeq
    assert(got.nonEmpty && got.size <= 5)
    // the probe's own duplicate row (vec 0 itself is in the store) must rank first
    assert(got.head == 0L, s"self-match must lead the ranking, got $got")
  }

  test("streaming PPJoin flags exact dups cross-batch and equals the batch exact join") {
    import graft.streaming.StreamingPpJoin
    import graft.streaming.StreamingPpJoin.{PpDoc, PpHit}
    import graft.engine.Tables
    val sp = spark
    import sp.implicits._
    implicit val s = spark
    implicit val sq = spark.sqlContext
    withRocksDbProvider {
      val t = 0.6
      // the real fixture corpus, streamed in doc_id order across 3 micro-batches
      val docs = Tables.documents(spark, sf0001)
        .select("doc_id", "text", "source").collect()
        .map(r => PpDoc(r.getLong(0), r.getString(1), r.getString(2)))
        .sortBy(_.doc_id)
      val in = MemoryStream[PpDoc]
      val q = StreamingPpJoin.dedupStream(in.toDS(), threshold = t).writeStream
        .format("memory").queryName("ppjoin_t").outputMode(OutputMode.Append).start()
      try {
        val third = (docs.length + 2) / 3
        docs.grouped(third).foreach { chunk =>
          in.addData(chunk.toIndexedSeq: _*)
          q.processAllAvailable()
        }
        // replayed delivery (at-least-once): must add nothing
        in.addData(docs.head)
        q.processAllAvailable()
        // one hit may arrive per shared prefix token — dedup to pairs, then
        // compare UNORDERED pairs + jaccard against the oracle-anchored batch
        // exact join over the same corpus and blocking
        val flagged = spark.table("ppjoin_t").as[PpHit].collect()
          .map(h => (math.min(h.doc_id, h.dup_of), math.max(h.doc_id, h.dup_of),
                     math.round(h.jaccard * 1e9)))
          .toSet
        val batch = graft.api.Dedup.tokenJaccardPairs(
            Tables.documents(spark, sf0001), "doc_id", "text", "source", t)
          .collect()
          .map(r => (math.min(r.getLong(0), r.getLong(1)),
                     math.max(r.getLong(0), r.getLong(1)),
                     math.round(r.getDouble(2) * 1e9)))
          .toSet
        assert(batch.nonEmpty, "fixture must contain exact near-dups")
        assert(flagged == batch,
          s"streaming PPJoin must equal the batch exact join: " +
            s"missed ${(batch -- flagged).take(5)}, extra ${(flagged -- batch).take(5)}")
      } finally { q.stop() }
    }
  }

  test("streaming sequenceCount equals the batch greedy scan across micro-batches") {
    import graft.streaming.StreamingSequenceCount
    import graft.streaming.StreamingSequenceCount.{ChainCount, EventIn}
    val sp = spark
    import sp.implicits._
    implicit val s = spark
    implicit val sq = spark.sqlContext
    withRocksDbProvider {
      val in = MemoryStream[EventIn]
      val q = StreamingSequenceCount.chainCounts(in.toDS()).writeStream
        .format("memory").queryName("seqcount_t").outputMode(OutputMode.Update).start()
      // per-user event logs, cut mid-chain at the batch boundary: user 1 has an
      // open signup straddling the batches, user 2 closes before opening, user 3
      // sees purchases only
      val batch1 = Seq(
        EventIn(1, 100, 1, "signup"), EventIn(1, 200, 2, "purchase"),
        EventIn(1, 300, 3, "signup"),                         // still open
        EventIn(2, 100, 4, "purchase"), EventIn(2, 200, 5, "signup"),
        EventIn(3, 100, 6, "purchase"),
        // out-of-order arrival inside one batch: must sort by (ts, event_id)
        EventIn(4, 200, 8, "purchase"), EventIn(4, 100, 7, "signup"))
      val batch2 = Seq(
        EventIn(1, 400, 9, "purchase"),  // closes the straddling chain
        EventIn(1, 500, 10, "purchase"), // nothing open → no match
        EventIn(2, 300, 11, "purchase"), // closes batch-1's signup
        EventIn(3, 200, 12, "purchase"))
      try {
        in.addData(batch1: _*); q.processAllAvailable()
        in.addData(batch2: _*); q.processAllAvailable()
        // last emission per user is the running total
        val got = spark.table("seqcount_t").as[ChainCount].collect()
          .groupBy(_.user_id).map { case (u, rows) => u -> rows.last.n_chains }
        // brute-force greedy over the full concatenated log (the semantic the
        // bracket identity is property-proven equal to)
        val expected = (batch1 ++ batch2).groupBy(_.user_id).map { case (u, evs) =>
          var open = 0L; var matched = 0L
          evs.sortBy(e => (e.ts_micros, e.event_id)).foreach {
            case e if e.event_type == "signup" => open += 1
            case e if e.event_type == "purchase" && open > 0 =>
              open -= 1; matched += 1
            case _ => ()
          }
          u -> matched
        }
        assert(got == expected,
          s"streaming chain counts must equal batch greedy: got $got, want $expected")
        assert(got(3L) == 0L && got(1L) == 2L && got(2L) == 1L && got(4L) == 1L)
      } finally { q.stop() }
    }
  }

  test("streaming interval union equals the batch sweep across micro-batches") {
    import graft.streaming.StreamingIntervalUnion
    import graft.streaming.StreamingIntervalUnion.{Coverage, IntervalIn}
    val sp = spark
    import sp.implicits._
    implicit val s = spark
    implicit val sq = spark.sqlContext
    withRocksDbProvider {
      val in = MemoryStream[IntervalIn]
      val q = StreamingIntervalUnion.coverage(in.toDS()).writeStream
        .format("memory").queryName("ivu_t").outputMode(OutputMode.Update).start()
      // user 1: overlap inside batch 1, then a batch-2 interval overlapping the
      // batch-1 frontier; user 2: containment + duplicate; user 3: zero-length
      // plus disjoint; out-of-order arrival inside batch 1 exercises the sort
      val batch1 = Seq(
        IntervalIn(1, 10, 20, 2), IntervalIn(1, 0, 15, 1),
        IntervalIn(2, 0, 100, 3), IntervalIn(2, 10, 50, 4), IntervalIn(2, 0, 100, 5),
        IntervalIn(3, 5, 5, 6))
      val batch2 = Seq(
        IntervalIn(1, 15, 30, 7),  // overlaps the persisted frontier (20)
        IntervalIn(3, 10, 12, 8))
      try {
        in.addData(batch1: _*); q.processAllAvailable()
        in.addData(batch2: _*); q.processAllAvailable()
        val got = spark.table("ivu_t").as[Coverage].collect()
          .groupBy(_.user_id).map { case (u, rows) => u -> rows.last.covered }
        // brute force: merged-interval union over the full log (the law
        // PropertiesSpec proves equal to the e13 sweep)
        val expected = (batch1 ++ batch2).filter(iv => iv.end > iv.start)
          .groupBy(_.user_id).map { case (u, ivs) =>
            val sorted = ivs.map(iv => (iv.start, iv.end)).sortBy(identity)
            val merged = sorted.foldLeft(List.empty[(Long, Long)]) {
              case ((ms, me) :: tail, (st2, e)) if st2 <= me =>
                (ms, math.max(me, e)) :: tail
              case (acc, (st2, e)) => (st2, e) :: acc
            }
            u -> merged.map { case (st2, e) => e - st2 }.sum
          }
        assert(got == expected,
          s"streaming coverage must equal batch union: got $got, want $expected")
        assert(got(1L) == 30L && got(2L) == 100L && got(3L) == 2L)
      } finally { q.stop() }
    }
  }

  test("streaming funnel depth equals the batch landmark rule across micro-batches") {
    import graft.streaming.StreamingFunnel
    import graft.streaming.StreamingFunnel.{EventIn, FunnelDepth}
    val sp = spark
    import sp.implicits._
    implicit val s = spark
    implicit val sq = spark.sqlContext
    withRocksDbProvider {
      val H = 3600L * 1000000L // one hour in micros
      val in = MemoryStream[EventIn]
      val q = StreamingFunnel.funnelDepth(in.toDS()).writeStream
        .format("memory").queryName("funnel_t").outputMode(OutputMode.Update).start()
      // user 1 completes the funnel across the batch cut; user 2's purchase is
      // outside the 6h window of its anchor; user 3's view precedes any signup
      // (never qualifies); user 4 stops at depth 2
      val batch1 = Seq(
        EventIn(1, 0 * H, 1, "signup"), EventIn(1, 1 * H, 2, "view"),
        EventIn(2, 0 * H, 3, "signup"), EventIn(2, 1 * H, 4, "view"),
        EventIn(3, 0 * H, 5, "view"),
        EventIn(4, 0 * H, 6, "signup"))
      val batch2 = Seq(
        EventIn(1, 2 * H, 7, "purchase"),  // inside 6h of anchor → depth 3
        EventIn(2, 8 * H, 8, "purchase"),  // outside 6h of anchor → stays 2
        EventIn(3, 1 * H, 9, "signup"),    // anchor opens AFTER the view → 1
        EventIn(4, 2 * H, 10, "view"))     // depth 2
      try {
        in.addData(batch1: _*); q.processAllAvailable()
        in.addData(batch2: _*); q.processAllAvailable()
        val got = spark.table("funnel_t").as[FunnelDepth].collect()
          .groupBy(_.user_id).map { case (u, rows) => u -> rows.last.funnel_level }
        // brute-force batch landmark rule over the full log (j05's semantics)
        val W = 6 * H
        val expected = (batch1 ++ batch2).groupBy(_.user_id).map { case (u, evs) =>
          val sorted = evs.sortBy(e => (e.ts_micros, e.event_id))
          val l1 = sorted.collectFirst {
            case e if e.event_type == "signup" => e.ts_micros }
          val l2 = l1.flatMap(a => sorted.collectFirst {
            case e if e.event_type == "view" && e.ts_micros > a &&
              e.ts_micros <= a + W => e.ts_micros })
          val l3 = (l1, l2) match {
            case (Some(a), Some(b)) => sorted.collectFirst {
              case e if e.event_type == "purchase" && e.ts_micros > b &&
                e.ts_micros <= a + W => e.ts_micros }
            case _ => None
          }
          u -> (if (l3.isDefined) 3 else if (l2.isDefined) 2
                else if (l1.isDefined) 1 else 0)
        }
        assert(got == expected,
          s"streaming funnel must equal batch landmarks: got $got, want $expected")
        assert(got(1L) == 3 && got(2L) == 2 && got(3L) == 1 && got(4L) == 2)
      } finally { q.stop() }
    }
  }

  test("streaming contamination one-batch replay equals batch k34 per-doc rollup") {
    import graft.engine.{PipelineOps, Tables}
    import graft.streaming.StreamingContamination
    import graft.streaming.StreamingContamination.{DocIn, GramHit}
    val sp = spark
    import sp.implicits._
    implicit val s = spark
    implicit val sq = spark.sqlContext
    withRocksDbProvider {
      // the fixture corpus with the SAME md5 split derivation as batch k34
      val h1 = substring(md5(col("doc_id").cast("string")), 1, 1)
      val docs = Tables.documents(spark, sf0001)
        .select(col("doc_id"),
                when(h1 <= "c", "train").when(h1 === "d", "val")
                  .otherwise("test").as("split"),
                col("text"))
        .as[DocIn].collect()
      val in = MemoryStream[DocIn]
      val q = StreamingContamination.contaminationStream(in.toDS()).writeStream
        .format("memory").queryName("contam_t").outputMode(OutputMode.Update).start()
      try {
        in.addData(docs.toIndexedSeq) // whole corpus in ONE micro-batch
        q.processAllAvailable()
        val streamed = spark.table("contam_t").as[GramHit].collect()
          .groupBy(_.doc_id)
          .map { case (id, hs) =>
            id -> ((hs.map(_.g).distinct.length.toLong, hs.map(_.contaminated_by).min))
          }
        val batch = PipelineOps.k34.fn(spark, sf0001).collect()
          .map(r => r.getAs[Long]("doc_id") ->
            ((r.getAs[Long]("n_shared"), r.getAs[Long]("contaminated_by")))).toMap
        assert(batch.nonEmpty, "fixture must contain contaminated docs")
        assert(streamed == batch,
          s"one-batch streaming rollup must equal batch k34: " +
            s"streamOnly=${streamed.keySet -- batch.keySet} " +
            s"batchOnly=${batch.keySet -- streamed.keySet}")
        // state only for grams some train doc produced: a fold that
        // returns None (an eval-only gram) must write nothing
        val trainGrams = docs.filter(_.split == "train")
          .flatMap(d => StreamingContamination.grams(d.text)).distinct.length
        assert(q.lastProgress.stateOperators(0).numRowsTotal == trainGrams,
          s"contamination state must hold one row per train gram: " +
            s"${q.lastProgress.stateOperators(0)}")
      } finally { q.stop() }
    }
  }

  test("match events keeps an A whose window closes exactly at a non-completing row") {
    import graft.streaming.StreamingSequenceMatch
    import graft.streaming.StreamingSequenceMatch.{EIn, SeqEvOut}
    val sp = spark
    import sp.implicits._
    implicit val s = spark
    implicit val sq = spark.sqlContext
    // the batch predicate is c.t > s.t AND c.t <= s.t + bound (INCLUSIVE
    // upper bound) with rows ordered by (ts, event_id) — so a B at
    // exactly t = a + bound, arriving AFTER a non-completing row at the
    // same timestamp, must still complete the A. A strict pending prune
    // (`a + bound > t`) drops the A at the view and misses the match —
    // the regression this pin exists to catch (an r13 ADVICE suggestion
    // that was measured wrong on ties and rejected).
    val bound = 10000000L // 10 s in µs
    withRocksDbProvider {
      val in = MemoryStream[EIn]
      val q = StreamingSequenceMatch.matchEvents(in.toDS(),
          typeA = "signup", typeB = "click", boundMicros = bound)
        .writeStream.format("memory").queryName("seqev_tie")
        .outputMode(OutputMode.Update).start()
      try {
        in.addData(EIn(1L, 0L, 1L, "signup"))
        q.processAllAvailable()
        in.addData(EIn(1L, bound, 2L, "view"), EIn(1L, bound, 3L, "click"))
        q.processAllAvailable()
        val last = spark.table("seqev_tie").as[SeqEvOut].collect()
          .maxBy(_.n_events)
        assert(last.matched == 1 && last.t1_us.contains(0L) &&
               last.t2_us.contains(bound),
          s"boundary-tie match lost: $last")
      } finally { q.stop() }
    }
  }

  test("streaming span dedup one-batch replay equals batch k44 per-doc rollup") {
    import graft.engine.{Round16Ops, Tables}
    import graft.streaming.StreamingSpanDedup
    import graft.streaming.StreamingSpanDedup.SpanHit
    val sp = spark
    import sp.implicits._
    implicit val s = spark
    implicit val sq = spark.sqlContext
    val docs = Tables.documents(spark, sf0001)
      .select(col("doc_id"), col("text"))
      .as[(Long, String)].collect()
    withRocksDbProvider {
      val in = MemoryStream[(Long, String)]
      val q = StreamingSpanDedup.spanDupStream(in.toDS()).writeStream
        .format("memory").queryName("spandup_t")
        .outputMode(OutputMode.Update).start()
      try {
        in.addData(docs.toIndexedSeq) // whole corpus in ONE micro-batch
        q.processAllAvailable()
        val streamed = spark.table("spandup_t").as[SpanHit].collect()
          .groupBy(_.doc_id)
          .map { case (id, hs) =>
            id -> ((hs.length.toLong, hs.map(_.removed.toLong).sum)) }
        // batch k44 rows with at least one dup span (docs without dups
        // emit nothing on the stream side by construction)
        val batch = Round16Ops.k44.fn(spark, sf0001).collect()
          .map(r => r.getAs[Long]("doc_id") ->
            ((r.getAs[Long]("n_dup_spans"), r.getAs[Long]("n_removed_spans"))))
          .filter(_._2._1 > 0L).toMap
        assert(batch.nonEmpty, "fixture must contain duplicated spans")
        assert(streamed == batch,
          s"one-batch streaming rollup must equal batch k44: " +
            s"streamOnly=${streamed.keySet -- batch.keySet} " +
            s"batchOnly=${batch.keySet -- streamed.keySet}")
      } finally { q.stop() }
    }
  }

  test("streaming span dedup is probe-at-arrival across micro-batches") {
    import graft.streaming.StreamingSpanDedup
    import graft.streaming.StreamingSpanDedup.SpanHit
    val sp = spark
    import sp.implicits._
    implicit val s = spark
    implicit val sq = spark.sqlContext
    val span = (1 to 20).map(i => s"w$i").mkString(" ")
    // one run per TTL setting; returns every emitted hit and the state
    // rows written by the last micro-batch
    def run(ttl: TTLConfig, name: String): (Seq[SpanHit], Long) = withRocksDbProvider {
      val in = MemoryStream[(Long, String)]
      val q = StreamingSpanDedup.spanDupStream(in.toDS(), ttl).writeStream
        .format("memory").queryName(name)
        .outputMode(OutputMode.Update).start()
      try {
        // batch 1: the first holder alone — nothing is a duplicate yet
        in.addData((1L, span))
        q.processAllAvailable()
        assert(spark.table(name).as[SpanHit].collect().isEmpty,
          "the first holder must not be flagged")
        // batch 2: a second doc with the same span — ITS occurrence is
        // flagged (removed, keep-min witness = doc 1); doc 1 is NOT
        // retroactively flagged (the probe-at-arrival contract)
        in.addData((2L, span))
        q.processAllAvailable()
        val hits = spark.table(name).as[SpanHit].collect().toSeq
        assert(hits == Seq(SpanHit(2L, 1, 1L, 1)),
          s"late duplicate must flag only itself against the state: $hits")
        // batch 3: doc 2 redelivered — the digest's extremes stay (1, 2)
        in.addData((2L, span))
        q.processAllAvailable()
        (spark.table(name).as[SpanHit].collect().toSeq,
         q.lastProgress.stateOperators(0).numRowsUpdated)
      } finally { q.stop() }
    }
    val (plain, plainWrites) = run(TTLConfig.NONE, "spandup_xb_t")
    // a TTL puts the query on processing time, where transformWithState
    // asks for a no-data batch on every trigger (timer/TTL eviction) and
    // processAllAvailable would never see the stream idle
    val (ttl, ttlWrites) =
      withConf("spark.sql.streaming.noDataMicroBatches.enabled", "false") {
        run(TTLConfig(java.time.Duration.ofHours(1)), "spandup_xb_ttl_t")
      }
    def ordered(hs: Seq[SpanHit]) =
      hs.sortBy(h => (h.doc_id, h.st, h.first_holder, h.removed))
    assert(ordered(ttl) == ordered(plain),
      s"a TTL must not change the emitted hits: $ttl vs $plain")
    // unchanged extremes are rewritten only to refresh a TTL
    assert(plainWrites == 0L && ttlWrites > 0L,
      s"state writes on the replayed batch: NONE=$plainWrites TTL=$ttlWrites")
  }

  test("streaming contamination is probe-at-arrival across micro-batches") {
    import graft.streaming.StreamingContamination
    import graft.streaming.StreamingContamination.{DocIn, GramHit}
    val sp = spark
    import sp.implicits._
    implicit val s = spark
    implicit val sq = spark.sqlContext
    withRocksDbProvider {
      val in = MemoryStream[DocIn]
      val q = StreamingContamination.contaminationStream(in.toDS()).writeStream
        .format("memory").queryName("contam_xb_t").outputMode(OutputMode.Update).start()
      try {
        // batch 1: a train doc, and an eval doc sharing a gram with a train
        // doc that only arrives LATER (doc 30's gram appears in batch-2 train)
        in.addData(
          DocIn(10, "train", "alpha beta gamma delta"),
          DocIn(30, "test", "one two three four"))
        q.processAllAvailable()
        val afterB1 = spark.table("contam_xb_t").as[GramHit].collect()
        assert(afterB1.isEmpty, s"no contamination visible yet: ${afterB1.toSeq}")
        // batch 2: eval doc hits batch-1 train state (cross-batch flag); a
        // later train doc carrying doc 30's gram must NOT retro-flag doc 30
        in.addData(
          DocIn(20, "val", "zzz alpha beta gamma yyy"),
          DocIn(11, "train", "one two three xxx"))
        q.processAllAvailable()
        val hits = spark.table("contam_xb_t").as[GramHit].collect()
        val byDoc = hits.groupBy(_.doc_id)
        // doc 20 shares exactly "alpha beta gamma" with train doc 10
        assert(byDoc.get(20L).exists(hs =>
            hs.map(h => (h.g, h.contaminated_by)).toSet == Set(("alpha beta gamma", 10L))),
          s"cross-batch contamination must flag: ${hits.toSeq}")
        assert(!byDoc.contains(30L),
          s"probe-at-arrival: later train must not retro-flag: ${hits.toSeq}")
        // batch 3: same gram again from a NEW eval doc -> flagged by min train
        in.addData(DocIn(40, "test", "prefix one two three suffix"))
        q.processAllAvailable()
        val hits3 = spark.table("contam_xb_t").as[GramHit].collect()
        assert(hits3.exists(h => h.doc_id == 40L && h.g == "one two three"
            && h.contaminated_by == 11L),
          s"accumulated train state must flag later eval arrivals: ${hits3.toSeq}")
      } finally { q.stop() }
    }
  }

  test("streaming heavy hitters: exact at capacity >= distinct; ranks follow counts") {
    import graft.streaming.StreamingHeavyHitters
    import graft.streaming.StreamingHeavyHitters.{Hitter, ValueIn}
    val sp = spark
    import sp.implicits._
    implicit val s = spark
    implicit val sq = spark.sqlContext
    withRocksDbProvider {
      val in = MemoryStream[ValueIn]
      val q = StreamingHeavyHitters.topK(in.toDS(), k = 3, capacity = 16).writeStream
        .format("memory").queryName("hh_exact_t").outputMode(OutputMode.Update).start()
      // capacity 16 > 4 distinct values -> MG degenerates to exact counting,
      // so the streaming result must EQUAL the batch count across batches
      val batch1 = Seq("a", "a", "b", "c", "a", "b").zipWithIndex
        .map { case (v, i) => ValueIn("g1", i.toLong, v) }
      val batch2 = (Seq("b", "b", "d", "a").zipWithIndex)
        .map { case (v, i) => ValueIn("g1", 100L + i, v) }
      try {
        in.addData(batch1: _*); q.processAllAvailable()
        in.addData(batch2: _*); q.processAllAvailable()
        val all = (batch1 ++ batch2).map(_.value)
        val exact = all.groupBy(identity).map { case (v, xs) => v -> xs.size.toLong }
        val last = spark.table("hh_exact_t").as[Hitter].collect()
          .filter(_.n_rows == all.size) // final batch's emission
        assert(last.map(h => h.value -> h.approx_count).toMap ==
          exact.toSeq.sortBy { case (v, c) => (-c, v) }.take(3).toMap,
          s"exact-regime streaming top-3 must equal batch counts: ${last.toSeq}")
        assert(last.sortBy(_.rank).map(_.value).toSeq == Seq("a", "b", "c"),
          s"ranks must follow (count desc, value asc): ${last.toSeq}")
      } finally { q.stop() }
    }
  }

  test("streaming heavy hitters: MG survival + under-estimate guarantees across batches") {
    import graft.streaming.StreamingHeavyHitters
    import graft.streaming.StreamingHeavyHitters.{Hitter, ValueIn}
    val sp = spark
    import sp.implicits._
    implicit val s = spark
    implicit val sq = spark.sqlContext
    withRocksDbProvider {
      val in = MemoryStream[ValueIn]
      val cap = 4
      val q = StreamingHeavyHitters.topK(in.toDS(), k = 4, capacity = cap).writeStream
        .format("memory").queryName("hh_mg_t").outputMode(OutputMode.Update).start()
      // 60 rows: "hot" 24x (40% > n/(cap+1) = 20%) must survive the capped
      // summary; 30 distinct cold values force constant counter eviction
      val hot = Seq.fill(24)("hot")
      val warm = Seq.fill(6)("warm")
      val cold = (0 until 30).map(i => s"cold$i")
      val rows = (hot ++ warm ++ cold).zipWithIndex
        .map { case (v, i) => ValueIn("g1", i.toLong, v) }
      val (b1, b2) = rows.splitAt(25) // batch boundary mid-stream
      try {
        in.addData(b1: _*); q.processAllAvailable()
        in.addData(b2: _*); q.processAllAvailable()
        val n = rows.size.toLong
        val last = spark.table("hh_mg_t").as[Hitter].collect().filter(_.n_rows == n)
        val hotRow = last.find(_.value == "hot")
        assert(hotRow.isDefined,
          s"freq 24/60 > n/(capacity+1): 'hot' must survive: ${last.toSeq}")
        val slack = n / (cap + 1)
        last.foreach { h =>
          val truth = rows.count(_.value == h.value).toLong
          assert(h.approx_count <= truth && h.approx_count >= truth - slack,
            s"count for ${h.value}: got ${h.approx_count}, truth $truth, slack $slack")
        }
      } finally { q.stop() }
    }
  }

  test("streaming timing quantiles: replayed fixture equals batch d28 across a batch cut") {
    import graft.streaming.StreamingTimingQuantiles
    import graft.streaming.StreamingTimingQuantiles.{TimingIn, TimingQuantiles}
    val sp = spark
    import sp.implicits._
    implicit val s = spark
    implicit val sq = spark.sqlContext
    withRocksDbProvider {
      // the batch query's own input rows: event_type + cents of value
      val rows = graft.engine.Tables.events(spark, sf0001)
        .select(col("event_type"), col("event_id"),
          (col("value").cast("decimal(18,2)") * 100).cast("long").as("cents"))
        .collect()
        .map(r => TimingIn(r.getString(0), r.getLong(1), r.getLong(2)))
      val (b1, b2) = rows.splitAt(rows.length / 2) // batch boundary mid-stream
      val in = MemoryStream[TimingIn]
      val q = StreamingTimingQuantiles.quantiles(in.toDS()).writeStream
        .format("memory").queryName("tq_t").outputMode(OutputMode.Update).start()
      try {
        in.addData(b1: _*); q.processAllAvailable()
        in.addData(b2: _*); q.processAllAvailable()
        val batch = graft.engine.Round8dOps.d28.fn(spark, sf0001).collect()
          .map(r => r.getString(0) ->
            ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
        val nPerGroup = rows.groupBy(_.group).map { case (g, xs) => g -> xs.size.toLong }
        val last = spark.table("tq_t").as[TimingQuantiles].collect()
          .filter(t => t.n == nPerGroup(t.group)) // final emission per group
          .map(t => t.group -> ((t.p50_ms, t.p90_ms, t.p99_ms, t.n))).toMap
        assert(last == batch,
          s"streaming final state must equal batch d28: stream=$last batch=$batch")
      } finally { q.stop() }
    }
  }

  test("streaming EMA: in-order replayed fixture equals batch e20 across a batch cut") {
    import graft.streaming.StreamingEma
    import graft.streaming.StreamingEma.{EmaIn, EmaOut}
    val sp = spark
    import sp.implicits._
    implicit val s = spark
    implicit val sq = spark.sqlContext
    withRocksDbProvider {
      // the batch query's own input rows, in its (ts, event_id) total order —
      // the in-order-replay regime the parity contract requires
      val rows = graft.engine.Tables.events(spark, sf0001)
        .select(col("user_id"), expr("unix_micros(ts)").as("ts_us"), col("event_id"),
          (col("value").cast("decimal(18,2)") * 100).cast("long").as("cents"))
        .collect()
        .map(r => EmaIn(r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
        .sortBy(r => (r.tsUs, r.eventId))
      val (b1, b2) = rows.splitAt(rows.length / 2) // cut preserves per-key order
      val in = MemoryStream[EmaIn]
      val q = StreamingEma.ema(in.toDS()).writeStream
        .format("memory").queryName("ema_t").outputMode(OutputMode.Update).start()
      try {
        in.addData(b1: _*); q.processAllAvailable()
        in.addData(b2: _*); q.processAllAvailable()
        val batch = graft.engine.Round8gOps.e20.fn(spark, sf0001).collect()
          .map(r => r.getLong(0) -> ((r.getLong(2), r.getLong(3), r.getLong(1)))).toMap
        val nPerKey = rows.groupBy(_.key).map { case (k, xs) => k -> xs.size.toLong }
        val last = spark.table("ema_t").as[EmaOut].collect()
          .filter(o => o.n == nPerKey(o.key)) // final emission per key
          .map(o => o.key -> ((o.ema_scaled, o.ema_cents, o.n))).toMap
        assert(last == batch,
          s"streaming final state must equal batch e20: stream=$last batch=$batch")
        // the "bounded state" claim, observed: one state row per key
        assert(q.lastProgress.stateOperators(0).numRowsTotal == nPerKey.size,
          s"EMA state must hold one row per key: ${q.lastProgress.stateOperators(0)}")
      } finally { q.stop() }
    }
  }

  test("streaming strict funnel: in-order replayed fixture equals batch j10 across a batch cut") {
    import graft.streaming.StreamingStrictFunnel
    import graft.streaming.StreamingStrictFunnel.{FunnelIn, FunnelOut}
    val sp = spark
    import sp.implicits._
    implicit val s = spark
    implicit val sq = spark.sqlContext
    withRocksDbProvider {
      val rows = graft.engine.Tables.events(spark, sf0001)
        .select(col("user_id"), expr("unix_micros(ts)").as("ts_us"), col("event_id"),
          when(col("event_type") === "signup", 1)
            .when(col("event_type") === "click", 2)
            .when(col("event_type") === "purchase", 3).otherwise(0).as("s"))
        .collect()
        .map(r => FunnelIn(r.getLong(0), r.getLong(1), r.getLong(2), r.getInt(3)))
        .sortBy(r => (r.tsUs, r.eventId))
      val (b1, b2) = rows.splitAt(rows.length / 2) // cut preserves per-key order
      val in = MemoryStream[FunnelIn]
      val q = StreamingStrictFunnel.funnel(in.toDS()).writeStream
        .format("memory").queryName("sf_t").outputMode(OutputMode.Update).start()
      try {
        in.addData(b1: _*); q.processAllAvailable()
        in.addData(b2: _*); q.processAllAvailable()
        // batch j10 reports level->n_users; reduce the stream's final per-user
        // levels to the same rollup. Final emission per user = the batch-2
        // emission if the user appears there, else the batch-1 one — dedup by
        // keeping the LAST emission per user in table order is not reliable,
        // so recompute: fold the full in-order row set through the shared step
        // function and compare BOTH (stream vs scala fold vs batch rollup).
        val scalaLevels = rows.groupBy(_.key).map { case (k, xs) =>
          val st = xs.map(_.stepIdx).foldLeft(0)(StreamingStrictFunnel.step)
          k -> (if (st >= 10) st - 10 else st)
        }
        val streamed = spark.table("sf_t").as[FunnelOut].collect()
          .groupBy(_.key).map { case (k, emissions) =>
            // Update-mode emissions grow monotonically in folded prefix; the
            // final state is the max-level-reaching emission with abort flag —
            // reconstruct by taking the emission matching the scala fold
            k -> emissions.map(_.funnel_level).max
          }
        // stream's max emitted level per user can overshoot the FINAL level
        // only if levels decreased — impossible (monotone), so max = final
        assert(streamed == scalaLevels,
          s"stream per-user levels must equal the shared-fold levels")
        val batch = graft.engine.Round8gOps.j10.fn(spark, sf0001).collect()
          .map(r => r.getInt(0) -> r.getLong(1)).toMap
        val rollup = scalaLevels.values.groupBy(identity).map { case (l, xs) => l -> xs.size.toLong }
        assert(rollup == batch,
          s"scala-fold rollup must equal batch j10: fold=$rollup batch=$batch")
      } finally { q.stop() }
    }
  }

  test("streaming KMV: replayed fixture equals batch d34 across a batch cut") {
    import graft.streaming.StreamingKmv
    import graft.streaming.StreamingKmv.{KmvIn, KmvOut}
    val sp = spark
    import sp.implicits._
    implicit val s = spark
    implicit val sq = spark.sqlContext
    withRocksDbProvider {
      // sf0.01: 150 users/type >= k=64, so the ESTIMATE regime is live (the
      // exact regime is covered by Round9Spec's laws); bottom-k state is
      // commutative, so the cut position cannot matter — full equality pin,
      // including a replayed (duplicated) slice for at-least-once idempotence
      val rows = graft.engine.Tables.events(spark, sf001)
        .select(col("event_type"), col("user_id"))
        .collect().map(r => KmvIn(r.getString(0), r.getLong(1)))
      val (b1, b2) = rows.splitAt(rows.length / 3)
      val in = MemoryStream[KmvIn]
      val q = StreamingKmv.distinctSketch(in.toDS(), 64).writeStream
        .format("memory").queryName("kmv_t").outputMode(OutputMode.Update).start()
      try {
        in.addData(b1: _*); q.processAllAvailable()
        in.addData(b2: _*); q.processAllAvailable()
        in.addData(b1.take(500): _*); q.processAllAvailable() // replay slice
        val batch = graft.engine.Round9Ops.d34.fn(spark, sf001).collect()
          .map(r => r.getString(0) -> r.getLong(2)).toMap
        // last emission per group: Update mode appends to the memory sink, so
        // take the final row per key in sink order
        val emissions = spark.table("kmv_t").as[KmvOut].collect()
        val last = emissions.zipWithIndex.groupBy(_._1.key)
          .map { case (k, xs) => k -> xs.maxBy(_._2)._1.estimate }
        assert(last == batch,
          s"streaming final estimates must equal batch d34: stream=$last batch=$batch")
      } finally { q.stop() }
    }
  }

  test("streaming dedup funnel: in-order replayed fixture equals batch j11 across a batch cut") {
    import graft.streaming.StreamingDedupFunnel
    import graft.streaming.StreamingDedupFunnel.{DedupIn, DedupOut}
    val sp = spark
    import sp.implicits._
    implicit val s = spark
    implicit val sq = spark.sqlContext
    withRocksDbProvider {
      // batch j11's own input: funnel events only, ordered by (tsUs, stepIdx)
      val rows = graft.engine.Tables.events(spark, sf0001)
        .select(col("user_id"), expr("unix_micros(ts)").as("ts_us"), col("event_id"),
          when(col("event_type") === "signup", 1)
            .when(col("event_type") === "click", 2)
            .when(col("event_type") === "purchase", 3).otherwise(0).as("s"))
        .where(col("s") > 0)
        .collect()
        .map(r => DedupIn(r.getLong(0), r.getLong(1), r.getInt(3), r.getLong(2)))
        .sortBy(r => (r.tsUs, r.stepIdx, r.eventId))
      val (b1, b2) = rows.splitAt(rows.length / 2) // cut preserves per-key order
      val in = MemoryStream[DedupIn]
      val q = StreamingDedupFunnel.funnel(in.toDS()).writeStream
        .format("memory").queryName("df_t").outputMode(OutputMode.Update).start()
      try {
        in.addData(b1: _*); q.processAllAvailable()
        in.addData(b2: _*); q.processAllAvailable()
        val scalaLevels = rows.groupBy(_.key).map { case (k, xs) =>
          val st = xs.map(_.stepIdx).foldLeft(0)(StreamingDedupFunnel.step)
          k -> (if (st >= 10) st - 10 else st)
        }
        val streamed = spark.table("df_t").as[DedupOut].collect()
          .groupBy(_.key).map { case (k, emissions) =>
            k -> emissions.map(_.funnel_level).max // levels are monotone
          }
        assert(streamed == scalaLevels,
          "stream per-user levels must equal the shared-fold levels")
        val batch = graft.engine.Round9Ops.j11.fn(spark, sf0001).collect()
          .map(r => r.getInt(0) -> r.getLong(1)).toMap
        val rollup = scalaLevels.values.groupBy(identity)
          .map { case (l, xs) => l -> xs.size.toLong }
        assert(rollup == batch,
          s"scala-fold rollup must equal batch j11: fold=$rollup batch=$batch")
      } finally { q.stop() }
    }
  }

  test("streaming A/B rank stats: replayed fixture equals batch d35 and d37 across a batch cut") {
    import graft.streaming.StreamingAbTest
    import graft.streaming.StreamingAbTest.{AbIn, AbOut}
    val sp = spark
    import sp.implicits._
    implicit val s = spark
    implicit val sq = spark.sqlContext
    withRocksDbProvider {
      // the batch queries' own input: A/R lineitem quantities keyed by linestatus
      val rows = graft.engine.Tables.lineitem(spark, sf0001)
        .where(col("l_returnflag").isin("A", "R"))
        .select(col("l_linestatus"), col("l_returnflag"),
                col("l_quantity").cast("long"))
        .collect()
        .map(r => AbIn(r.getString(0), if (r.getString(1) == "A") 0 else 1, r.getLong(2)))
      val (b1, b2) = rows.splitAt(rows.length / 2) // counters are commutative: any cut
      val in = MemoryStream[AbIn]
      val q = StreamingAbTest.monitor(in.toDS()).writeStream
        .format("memory").queryName("ab_t").outputMode(OutputMode.Update).start()
      try {
        in.addData(b1: _*); q.processAllAvailable()
        in.addData(b2: _*); q.processAllAvailable()
        val d35 = graft.engine.Round9Ops.d35.fn(spark, sf0001).collect()
          .map(r => r.getString(0) ->
            ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getDouble(5)))).toMap
        val d37 = graft.engine.Round9Ops.d37.fn(spark, sf0001).collect()
          .map(r => r.getString(0) -> ((r.getLong(3), r.getDouble(4)))).toMap
        val nPerKey = rows.groupBy(_.key).map { case (k, xs) => k -> xs.size.toLong }
        val last = spark.table("ab_t").as[AbOut].collect()
          .filter(o => o.n_a + o.n_b == nPerKey(o.key)) // final emission per key
          .map(o => o.key -> o).toMap
        assert(last.keySet == d35.keySet)
        last.foreach { case (k, o) =>
          assert((o.n_a, o.n_b, o.u2_a, o.u2_b, o.cles_a) == d35(k),
            s"$k: stream MW ${(o.n_a, o.n_b, o.u2_a, o.u2_b, o.cles_a)} vs batch ${d35(k)}")
          assert((o.d_num, o.ks_d) == d37(k),
            s"$k: stream KS ${(o.d_num, o.ks_d)} vs batch ${d37(k)}")
        }
      } finally { q.stop() }
    }
  }

  test("streaming M4: replayed fixture equals batch e18 across a batch cut") {
    import graft.streaming.StreamingM4
    import graft.streaming.StreamingM4.{M4In, M4Out}
    val sp = spark
    import sp.implicits._
    implicit val s = spark
    implicit val sq = spark.sqlContext
    withRocksDbProvider {
      // the batch query's own input rows: (series, hour bucket, ts µs, id, cents)
      val rows = graft.engine.Tables.events(spark, sf0001)
        .select(col("event_type"), expr("unix_millis(ts) div 3600000").as("bkt"),
          expr("unix_micros(ts)").as("ts_us"), col("event_id"),
          (col("value").cast("decimal(18,2)") * 100).cast("long").as("cents"))
        .collect()
        .map(r => M4In(r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
                       r.getLong(4)))
      val (b1, b2) = rows.splitAt(rows.length / 2) // batch boundary mid-stream
      val in = MemoryStream[M4In]
      val q = StreamingM4.downsample(in.toDS()).writeStream
        .format("memory").queryName("m4_t").outputMode(OutputMode.Update).start()
      try {
        in.addData(b1: _*); q.processAllAvailable()
        in.addData(b2: _*); q.processAllAvailable()
        val batch = graft.engine.Round8cOps.e18.fn(spark, sf0001).collect()
          .map(r => (r.getString(0), r.getLong(1)) ->
            ((r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5), r.getLong(6))))
          .toMap
        val nPerKey = rows.groupBy(r => (r.series, r.bkt))
          .map { case (k, xs) => k -> xs.size.toLong }
        val last = spark.table("m4_t").as[M4Out].collect()
          .filter(o => o.n == nPerKey((o.series, o.bkt))) // final emission per key
          .map(o => (o.series, o.bkt) ->
            ((o.v_min, o.v_max, o.v_first, o.v_last, o.n))).toMap
        assert(last == batch,
          s"streaming final state must equal batch e18: stream=${last.size} keys, " +
            s"batch=${batch.size} keys, diff=${(last.toSet diff batch.toSet).take(3)}")
        // the "bounded state" claim, observed: one state row per bucket
        assert(q.lastProgress.stateOperators(0).numRowsTotal == nPerKey.size,
          s"M4 state must hold one row per bucket: ${q.lastProgress.stateOperators(0)}")
      } finally { q.stop() }
    }
  }

  test("streaming Welch/pooled t: replayed fixture equals batch d36 and d40 bit-for-bit") {
    import graft.streaming.StreamingWelch
    import graft.streaming.StreamingWelch.{TIn, TOut}
    val sp = spark
    import sp.implicits._
    implicit val s = spark
    implicit val sq = spark.sqlContext
    withRocksDbProvider {
      // the batch queries' own input: purchase (arm A) vs click (arm B) cents
      val rows = graft.engine.Tables.events(spark, sf0001)
        .where(col("event_type").isin("purchase", "click"))
        .select(col("event_type"),
                (col("value").cast("decimal(18,2)") * 100).cast("long"))
        .collect()
        .map(r => TIn("exp", if (r.getString(0) == "purchase") 0 else 1,
                      r.getLong(1)))
      val (b1, b2) = rows.splitAt(rows.length / 2) // power sums commute: any cut
      val in = MemoryStream[TIn]
      val q = StreamingWelch.monitor(in.toDS()).writeStream
        .format("memory").queryName("welch_t").outputMode(OutputMode.Update).start()
      try {
        in.addData(b1: _*); q.processAllAvailable()
        in.addData(b2: _*); q.processAllAvailable()
        val d36 = graft.engine.Round9Ops.d36.fn(spark, sf0001).collect().head
        val d40 = graft.engine.Round10Ops.d40.fn(spark, sf0001).collect().head
        val last = spark.table("welch_t").as[TOut].collect()
          .filter(o => o.n_a + o.n_b == rows.length.toLong).head
        // EQUALITY, no tolerance: the Scala closed forms mirror the batch SQL
        // trees op-for-op over the same exact integer sums
        assert((last.n_a, last.n_b) == ((d36.getLong(0), d36.getLong(1))))
        assert(last.t_welch == d36.getDouble(2),
          s"welch t ${last.t_welch} vs batch ${d36.getDouble(2)}")
        assert(last.welch_dof == d36.getDouble(3),
          s"welch dof ${last.welch_dof} vs batch ${d36.getDouble(3)}")
        assert(last.pooled_var == d40.getDouble(3),
          s"pooled var ${last.pooled_var} vs batch ${d40.getDouble(3)}")
        assert(last.t_pooled == d40.getDouble(4),
          s"pooled t ${last.t_pooled} vs batch ${d40.getDouble(4)}")
      } finally { q.stop() }
    }
  }

  test("streaming ANOVA: replayed fixture equals batch d41 bit-for-bit") {
    import graft.streaming.StreamingAnova
    import graft.streaming.StreamingAnova.{AIn, AOut}
    val sp = spark
    import sp.implicits._
    implicit val s = spark
    implicit val sq = spark.sqlContext
    withRocksDbProvider {
      // the batch query's own input: quantities with the FIXED arm order A,N,R
      val armOf = Map("A" -> 0, "N" -> 1, "R" -> 2)
      val rows = graft.engine.Tables.lineitem(spark, sf0001)
        .select(col("l_returnflag"), col("l_quantity").cast("long"))
        .collect()
        .map(r => AIn("exp", armOf(r.getString(0)), r.getLong(1)))
      val (b1, b2) = rows.splitAt(rows.length / 2) // power sums commute: any cut
      val in = MemoryStream[AIn]
      val q = StreamingAnova.monitor(in.toDS(), arms = 3).writeStream
        .format("memory").queryName("aov_t").outputMode(OutputMode.Update).start()
      try {
        in.addData(b1: _*); q.processAllAvailable()
        in.addData(b2: _*); q.processAllAvailable()
        val d41 = graft.engine.Round10Ops.d41.fn(spark, sf0001).collect().head
        val last = spark.table("aov_t").as[AOut].collect()
          .filter(_.n_rows == rows.length.toLong).head
        // EQUALITY, no tolerance: the Scala fold mirrors the generated SQL
        // left-to-right arm order over the same exact integer sums
        assert(last.df_between == d41.getInt(1))
        assert(last.df_within == d41.getLong(2))
        assert(last.ss_between == d41.getDouble(3),
          s"SSB ${last.ss_between} vs batch ${d41.getDouble(3)}")
        assert(last.ss_within == d41.getDouble(4),
          s"SSW ${last.ss_within} vs batch ${d41.getDouble(4)}")
        assert(last.f_stat == d41.getDouble(5),
          s"F ${last.f_stat} vs batch ${d41.getDouble(5)}")
      } finally { q.stop() }
    }
  }

  test("streaming moments: replayed fixture equals batch d32 bit-for-bit") {
    import graft.streaming.StreamingMoments
    import graft.streaming.StreamingMoments.{MIn, MOut}
    val sp = spark
    import sp.implicits._
    implicit val s = spark
    implicit val sq = spark.sqlContext
    withRocksDbProvider {
      // the batch query's own input: quantities keyed by return flag
      val rows = graft.engine.Tables.lineitem(spark, sf0001)
        .select(col("l_returnflag"), col("l_quantity").cast("long"))
        .collect()
        .map(r => MIn(r.getString(0), r.getLong(1)))
      val (b1, b2) = rows.splitAt(rows.length / 2) // power sums commute: any cut
      val in = MemoryStream[MIn]
      val q = StreamingMoments.monitor(in.toDS()).writeStream
        .format("memory").queryName("mom_t").outputMode(OutputMode.Update).start()
      try {
        in.addData(b1: _*); q.processAllAvailable()
        in.addData(b2: _*); q.processAllAvailable()
        val d32 = graft.engine.Round9Ops.d32.fn(spark, sf0001).collect()
          .map(r => r.getString(0) ->
            ((r.getLong(1), r.getDouble(2), r.getDouble(3)))).toMap
        val nPerKey = rows.groupBy(_.key).map { case (k, xs) => k -> xs.size.toLong }
        val last = spark.table("mom_t").as[MOut].collect()
          .filter(o => o.n_rows == nPerKey(o.key)) // final emission per key
          .map(o => o.key -> o).toMap
        assert(last.keySet == d32.keySet)
        // EQUALITY, no tolerance: the Scala closed form mirrors d32's SQL
        // fragments op-for-op over the same exact integer power sums
        last.foreach { case (k, o) =>
          assert((o.n_rows, o.skew_pop, o.kurt_pop) == d32(k),
            s"$k: stream ${(o.n_rows, o.skew_pop, o.kurt_pop)} vs batch ${d32(k)}")
        }
      } finally { q.stop() }
    }
  }

  test("streaming time-decayed sum: replayed fixture equals batch e21 bit-for-bit") {
    import graft.streaming.StreamingTimeDecay
    import graft.streaming.StreamingTimeDecay.{DIn, DOut}
    val sp = spark
    import sp.implicits._
    implicit val s = spark
    implicit val sq = spark.sqlContext
    withRocksDbProvider {
      // the batch query's own input: per-event (user, µs, cents)
      val rows = graft.engine.Tables.events(spark, sf0001)
        .select(col("user_id"), unix_micros(col("ts")),
                (col("value").cast("decimal(18,2)") * 100).cast("long"))
        .collect()
        .map(r => DIn(r.getLong(0), r.getLong(1), r.getLong(2)))
      val (b1, b2) = rows.splitAt(rows.length / 2) // additive state: any cut
      val in = MemoryStream[DIn]
      val q = StreamingTimeDecay.decayedSum(in.toDS()).writeStream
        .format("memory").queryName("decay_t").outputMode(OutputMode.Update).start()
      try {
        in.addData(b1: _*); q.processAllAvailable()
        in.addData(b2: _*); q.processAllAvailable()
        val batch = graft.engine.Round11Ops.e21.fn(spark, sf0001).collect()
          .map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2), r.getLong(3))))
          .toMap
        val last = spark.table("decay_t").as[DOut].collect()
          .groupBy(_.user_id).map { case (u, os) =>
            val o = os.maxBy(_.n_events); u -> ((o.units, o.decayed_sum, o.n_events)) }
        // EQUALITY, no tolerance: the contribution term and the render divide
        // mirror the batch SQL op-for-op over the same exact integers
        assert(last == batch,
          s"streaming decayed sums must equal batch e21: got $last, want $batch")
      } finally { q.stop() }
    }
  }

  test("streaming corr matrix: replayed fixture equals batch d46 bit-for-bit") {
    import graft.streaming.StreamingCorrMatrix
    import graft.streaming.StreamingCorrMatrix.{MIn, MOut}
    val sp = spark
    import sp.implicits._
    implicit val s = spark
    implicit val sq = spark.sqlContext
    withRocksDbProvider {
      // the batch query's own input: per-row (q, p cents, d hundredths) by status
      val rows = graft.engine.Tables.lineitem(spark, sf0001)
        .select(col("l_linestatus"), col("l_quantity").cast("long"),
                (col("l_extendedprice").cast("decimal(18,2)") * 100).cast("long"),
                (col("l_discount").cast("decimal(18,2)") * 100).cast("long"))
        .collect()
        .map(r => MIn(r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      val (b1, b2) = rows.splitAt(rows.length / 2) // additive state: any cut
      val in = MemoryStream[MIn]
      val q = StreamingCorrMatrix.monitor(in.toDS()).writeStream
        .format("memory").queryName("corrm_t").outputMode(OutputMode.Update).start()
      try {
        in.addData(b1: _*); q.processAllAvailable()
        in.addData(b2: _*); q.processAllAvailable()
        val batch = graft.engine.Round11Ops.d46.fn(spark, sf0001).collect()
          .map(r => r.getString(0) -> Seq(r.getDouble(2), r.getDouble(3),
            r.getDouble(4), r.getDouble(5), r.getDouble(6), r.getDouble(7)))
          .toMap
        val perKeyN = rows.groupBy(_.key).map { case (k, v) => k -> v.length.toLong }
        val last = spark.table("corrm_t").as[MOut].collect()
          .filter(o => o.n_rows == perKeyN(o.key))
          .map(o => o.key -> Seq(o.corr_qty_price, o.corr_qty_disc,
            o.corr_price_disc, o.covar_qty_price, o.covar_qty_disc,
            o.covar_price_disc)).toMap
        // EQUALITY, no tolerance: the Scala closed forms mirror d46's
        // shared-text SQL trees op-for-op over the same exact sums
        assert(last == batch,
          s"streaming corr matrix must equal batch d46: got $last, want $batch")
      } finally { q.stop() }
    }
  }

  test("streaming weighted moments: replayed fixture equals batch d48 bit-for-bit") {
    import graft.streaming.StreamingWeighted
    import graft.streaming.StreamingWeighted.{WIn, WOut}
    val sp = spark
    import sp.implicits._
    implicit val s = spark
    implicit val sq = spark.sqlContext
    withRocksDbProvider {
      // the batch query's own input: (return flag, quantity weight, price cents)
      val rows = graft.engine.Tables.lineitem(spark, sf0001)
        .select(col("l_returnflag"), col("l_quantity").cast("long"),
                (col("l_extendedprice").cast("decimal(18,2)") * 100).cast("long"))
        .collect()
        .map(r => WIn(r.getString(0), r.getLong(1), r.getLong(2)))
      val (b1, b2) = rows.splitAt(rows.length / 2) // additive state: any cut
      val in = MemoryStream[WIn]
      val q = StreamingWeighted.monitor(in.toDS()).writeStream
        .format("memory").queryName("wmom_t").outputMode(OutputMode.Update).start()
      try {
        in.addData(b1: _*); q.processAllAvailable()
        in.addData(b2: _*); q.processAllAvailable()
        val batch = graft.engine.Round11Ops.d48.fn(spark, sf0001).collect()
          .map(r => r.getString(0) -> ((r.getLong(2), r.getDouble(3), r.getDouble(4))))
          .toMap
        val perKeyN = rows.groupBy(_.key).map { case (k, v) => k -> v.length.toLong }
        val last = spark.table("wmom_t").as[WOut].collect()
          .filter(o => o.n_rows == perKeyN(o.key))
          .map(o => o.key -> ((o.sum_w, o.avg_weighted, o.var_weighted))).toMap
        assert(last == batch,
          s"streaming weighted moments must equal batch d48: got $last, want $batch")
      } finally { q.stop() }
    }
  }

  test("streaming retention flags equal the batch j06 cohort rule across micro-batches") {
    import graft.streaming.StreamingRetention
    import graft.streaming.StreamingRetention.{EventIn, RetentionFlags}
    val sp = spark
    import sp.implicits._
    implicit val s = spark
    implicit val sq = spark.sqlContext
    withRocksDbProvider {
      val D = 86400L * 1000000L // one day in micros
      val in = MemoryStream[EventIn]
      val q = StreamingRetention.retentionFlags(in.toDS()).writeStream
        .format("memory").queryName("retention_t").outputMode(OutputMode.Update).start()
      // user 1: anchor + week-0 activity in batch 1; week-1 and week-2
      //   activity arrive in batch 2 (cross-batch accumulation) → 1,1,1
      // user 2: anchor only (the signup itself is week-0 activity) → 1,0,0
      // user 3: pre-anchor click (ts < eventual anchor, never counted), then
      //   the anchor and a week-2 event in batch 2 → 1,0,1
      // user 4: activity exactly at l1 + 7d — the half-open boundary goes to
      //   week 1 — and at l1 + 21d, outside the horizon → 1,1,0
      // user 5: activity but never an anchor → emits nothing
      val batch1 = Seq(
        EventIn(1, 0 * D, 1, "signup"), EventIn(1, 3 * D, 2, "click"),
        EventIn(2, 1 * D, 3, "signup"),
        EventIn(3, 0 * D, 4, "click"),
        EventIn(4, 0 * D, 5, "signup"),
        EventIn(5, 0 * D, 6, "view"))
      val batch2 = Seq(
        EventIn(1, 8 * D, 7, "view"), EventIn(1, 15 * D, 8, "purchase"),
        EventIn(3, 2 * D, 9, "signup"), EventIn(3, 17 * D, 10, "click"),
        EventIn(4, 7 * D, 11, "click"), EventIn(4, 21 * D, 12, "click"),
        EventIn(5, 9 * D, 13, "view"))
      try {
        in.addData(batch1: _*); q.processAllAvailable()
        in.addData(batch2: _*); q.processAllAvailable()
        val got = spark.table("retention_t").as[RetentionFlags].collect()
          .groupBy(_.user_id).map { case (u, rows) =>
            val r = rows.last; u -> (r.w0, r.w1, r.w2) }
        // brute-force batch rule over the full log (j06's semantics)
        val W = 7 * D
        val expected = (batch1 ++ batch2).groupBy(_.user_id).flatMap { case (u, evs) =>
          val sorted = evs.sortBy(e => (e.ts_micros, e.event_id))
          sorted.collectFirst { case e if e.event_type == "signup" => e.ts_micros }
            .map { l1 =>
              def wk(k: Int) = if (sorted.exists(e =>
                e.ts_micros >= l1 + k * W && e.ts_micros < l1 + (k + 1) * W)) 1 else 0
              u -> (wk(0), wk(1), wk(2))
            }
        }
        assert(got == expected,
          s"streaming retention must equal batch cohort rule: got $got, want $expected")
        assert(got(1L) == ((1, 1, 1)) && got(2L) == ((1, 0, 0)) &&
               got(3L) == ((1, 0, 1)) && got(4L) == ((1, 1, 0)))
        assert(!got.contains(5L), "unanchored user must emit nothing")
        // cohort rollup (what j06 aggregates): n_users and per-week sums
        val cohort = (got.size, got.values.map(_._1).sum,
                      got.values.map(_._2).sum, got.values.map(_._3).sum)
        assert(cohort == ((4, 4, 2, 2)))
      } finally { q.stop() }
    }
  }

  test("streaming sequence match equals batch j12 (<=) and j13 (>) across a batch cut") {
    import graft.streaming.StreamingSequenceMatch
    import graft.streaming.StreamingSequenceMatch.{EIn, SeqOut}
    val sp = spark
    import sp.implicits._
    implicit val s = spark
    implicit val sq = spark.sqlContext
    withRocksDbProvider {
      // the batch queries' own input, replayed IN ORDER with an arbitrary cut
      val rows = graft.engine.Tables.events(spark, sf0001)
        .select(col("user_id"), unix_micros(col("ts")), col("event_id"),
                col("event_type"))
        .collect()
        .map(r => EIn(r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
        .sortBy(e => (e.ts_micros, e.event_id))
      val (b1, b2) = rows.splitAt(rows.length / 2)
      for ((qname, op, batchDf) <- Seq(
          ("j12", "<=", graft.engine.Round11Ops.j12.fn(spark, sf0001)),
          ("j13", ">", graft.engine.Round12Ops.j13.fn(spark, sf0001)))) {
        val in = MemoryStream[EIn]
        val q = StreamingSequenceMatch.matched(in.toDS(), op = op).writeStream
          .format("memory").queryName(s"seqm_$qname").outputMode(OutputMode.Update).start()
        try {
          in.addData(b1: _*); q.processAllAvailable()
          in.addData(b2: _*); q.processAllAvailable()
          val batch = batchDf.collect()
            .map(r => r.getLong(0) -> ((r.getInt(1), r.getLong(2), r.getLong(3))))
            .toMap
          val last = spark.table(s"seqm_$qname").as[SeqOut].collect()
            .groupBy(_.user_id).map { case (u, os) =>
              val o = os.maxBy(_.n_events)
              u -> ((o.matched, o.n_hits, o.n_events)) }
          // EQUALITY, no tolerance: the running extrema ARE the batch
          // window closed forms over the same exact µs integers
          assert(last == batch,
            s"streaming $qname twin must equal batch: got $last, want $batch")
        } finally { q.stop() }
      }
    }
  }

  test("streaming fold match equals batch j16 (two time bounds) across a batch cut") {
    import graft.streaming.StreamingSequenceMatch
    import graft.streaming.StreamingSequenceMatch.{EIn, SeqOut}
    val sp = spark
    import sp.implicits._
    implicit val s = spark
    implicit val sq = spark.sqlContext
    withRocksDbProvider {
      val rows = graft.engine.Tables.events(spark, sf0001)
        .select(col("user_id"), unix_micros(col("ts")), col("event_id"),
                col("event_type"))
        .collect()
        .map(r => EIn(r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
        .sortBy(e => (e.ts_micros, e.event_id))
      val (b1, b2) = rows.splitAt(rows.length / 2)
      val in = MemoryStream[EIn]
      // defaults = the batch j16 pattern and conditions
      val q = StreamingSequenceMatch.foldMatched(in.toDS()).writeStream
        .format("memory").queryName("seqfold_j16")
        .outputMode(OutputMode.Update).start()
      try {
        in.addData(b1: _*); q.processAllAvailable()
        in.addData(b2: _*); q.processAllAvailable()
        val batch = graft.engine.Round13Ops.j16.fn(spark, sf0001).collect()
          .map(r => r.getLong(0) -> ((r.getInt(1), r.getLong(2), r.getLong(3))))
          .toMap
        val last = spark.table("seqfold_j16").as[SeqOut].collect()
          .groupBy(_.user_id).map { case (u, os) =>
            val o = os.maxBy(_.n_events)
            u -> ((o.matched, o.n_hits, o.n_events)) }
        // EQUALITY, no tolerance: the (min, max) frontier IS the batch
        // fold's aggregate state over the same exact µs integers
        assert(last == batch,
          s"streaming j16 twin must equal batch: got $last, want $batch")
      } finally { q.stop() }
    }
  }

  test("streaming match events equals batch j20 (first-match t1/t2) across a batch cut") {
    import graft.streaming.StreamingSequenceMatch
    import graft.streaming.StreamingSequenceMatch.{EIn, SeqEvOut}
    val sp = spark
    import sp.implicits._
    implicit val s = spark
    implicit val sq = spark.sqlContext
    val rows = graft.engine.Tables.events(spark, sf0001)
      .select(col("user_id"), unix_micros(col("ts")), col("event_id"),
              col("event_type"))
      .collect()
      .map(r => EIn(r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
      .sortBy(e => (e.ts_micros, e.event_id))
    val (b1, b2) = rows.splitAt(rows.length / 2)
    withRocksDbProvider {
      val in = MemoryStream[EIn]
      // defaults = the batch j20 pattern (signup → click within 4 hours)
      val q = StreamingSequenceMatch.matchEvents(in.toDS()).writeStream
        .format("memory").queryName("seqevents_j20")
        .outputMode(OutputMode.Update).start()
      try {
        in.addData(b1: _*); q.processAllAvailable()
        in.addData(b2: _*); q.processAllAvailable()
        val batch = graft.engine.Round14Ops.j20.fn(spark, sf0001).collect()
          .map(r => r.getLong(0) ->
            ((Option(r.get(1)).map(_.asInstanceOf[Long]),
              Option(r.get(2)).map(_.asInstanceOf[Long]), r.getInt(3))))
          .toMap
        val last = spark.table("seqevents_j20").as[SeqEvOut].collect()
          .groupBy(_.user_id).map { case (u, os) =>
            val o = os.maxBy(_.n_events)
            u -> ((o.t1_us, o.t2_us, o.matched)) }
        // EQUALITY, no tolerance: the first-completing-B argument makes
        // (t1, t2) batch-identical over the same exact µs integers — and
        // the batch cut means matches straddling the cut are exercised
        assert(last == batch,
          s"streaming j20 twin must equal batch: got $last, want $batch")
        // the NULL side must be populated on this fixture, or the pin is vacuous
        assert(batch.values.exists(_._3 == 0) && batch.values.exists(_._3 == 1),
          "fixture must exercise both matched and unmatched users")
      } finally q.stop()
    }
  }

  test("streaming next-node first-match equals batch j21 across a batch cut") {
    import graft.streaming.StreamingSequenceMatch
    import graft.streaming.StreamingSequenceMatch.{EIn, NextNodeOut}
    val sp = spark
    import sp.implicits._
    implicit val s = spark
    implicit val sq = spark.sqlContext
    val rows = graft.engine.Tables.events(spark, sf0001)
      .select(col("user_id"), unix_micros(col("ts")), col("event_id"),
              col("event_type"))
      .collect()
      .map(r => EIn(r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
      .sortBy(e => (e.ts_micros, e.event_id))
    val (b1, b2) = rows.splitAt(rows.length / 2)
    withRocksDbProvider {
      val in = MemoryStream[EIn]
      // defaults = the batch j21 pattern (click → view)
      val q = StreamingSequenceMatch.nextNodeFirstMatch(in.toDS()).writeStream
        .format("memory").queryName("seqnextnode_j21")
        .outputMode(OutputMode.Update).start()
      try {
        in.addData(b1: _*); q.processAllAvailable()
        in.addData(b2: _*); q.processAllAvailable()
        val batch = graft.engine.Round15Ops.j21.fn(spark, sf0001).collect()
          .map(r => r.getLong(0) -> ((Option(r.getString(1)), r.getLong(2))))
          .toMap
        val last = spark.table("seqnextnode_j21").as[NextNodeOut].collect()
          .groupBy(_.user_id).map { case (u, os) =>
            val o = os.maxBy(_.n_events)
            u -> ((o.next_after_chain, o.n_chains)) }
        // EQUALITY, no tolerance: adjacency is a consecutive-row property
        // over the same (ts, event_id) total order; the mid-stream cut
        // exercises chains straddling the batch boundary and a chain whose
        // successor arrives in the next batch
        assert(last == batch,
          s"streaming j21 twin must equal batch: got $last, want $batch")
      } finally q.stop()
    }
  }

  test("j20/j21 twins: matches placed EXACTLY astride batch boundaries") {
    // the fixture-replay pins above cut mid-stream wherever the halves
    // land — this pin FORCES the adversarial placements: (j21) batch 1
    // ends on the chain's A, batch 2 is exactly the B, batch 3 opens
    // with the successor; (j20) the signup and its qualifying click
    // arrive in different batches. State must carry each half across.
    import graft.streaming.StreamingSequenceMatch
    import graft.streaming.StreamingSequenceMatch.{EIn, NextNodeOut, SeqEvOut}
    val sp = spark
    import sp.implicits._
    implicit val s = spark
    implicit val sq = spark.sqlContext
    val M = 1000000L
    withRocksDbProvider {
      // j21: click | view | purchase across three batches
      val in1 = MemoryStream[EIn]
      val q1 = StreamingSequenceMatch.nextNodeFirstMatch(in1.toDS()).writeStream
        .format("memory").queryName("straddle_j21")
        .outputMode(OutputMode.Update).start()
      try {
        in1.addData(EIn(7L, 1L * M, 1L, "click")); q1.processAllAvailable()
        in1.addData(EIn(7L, 2L * M, 2L, "view")); q1.processAllAvailable()
        in1.addData(EIn(7L, 3L * M, 3L, "purchase")); q1.processAllAvailable()
        val o = spark.table("straddle_j21").as[NextNodeOut].collect()
          .maxBy(_.n_events)
        assert(o.next_after_chain == Some("purchase") && o.n_chains == 1L,
          s"j21 straddle broken: $o")
      } finally q1.stop()
      // j20: signup | click (within bound) across two batches
      val in2 = MemoryStream[EIn]
      val q2 = StreamingSequenceMatch.matchEvents(in2.toDS()).writeStream
        .format("memory").queryName("straddle_j20")
        .outputMode(OutputMode.Update).start()
      try {
        in2.addData(EIn(9L, 10L * M, 1L, "signup")); q2.processAllAvailable()
        in2.addData(EIn(9L, 10L * M + 3600L * M, 2L, "click")); q2.processAllAvailable()
        val o = spark.table("straddle_j20").as[SeqEvOut].collect()
          .maxBy(_.n_events)
        assert(o.t1_us == Some(10L * M) && o.t2_us == Some(10L * M + 3600L * M)
                 && o.matched == 1,
          s"j20 straddle broken: $o")
      } finally q2.stop()
      // j09: the first signup ENDS batch 1, its successor opens batch 2 —
      // the successor-pending flag must persist across the cut
      val in3 = MemoryStream[graft.streaming.StreamingSequenceMatch.EIn]
      val q3 = StreamingSequenceMatch.nextNodeHead(in3.toDS()).writeStream
        .format("memory").queryName("straddle_j09")
        .outputMode(OutputMode.Update).start()
      try {
        in3.addData(EIn(11L, 1L * M, 1L, "view"),
                    EIn(11L, 2L * M, 2L, "signup")); q3.processAllAvailable()
        in3.addData(EIn(11L, 3L * M, 3L, "purchase")); q3.processAllAvailable()
        val o = spark.table("straddle_j09")
          .as[graft.streaming.StreamingSequenceMatch.HeadNextOut].collect()
          .maxBy(_.n_events)
        assert(o.has_base == 1 && o.next_type == Some("purchase"),
          s"j09 straddle broken: $o")
      } finally q3.stop()
    }
  }

  test("streaming head/back next-node equal batch j09/j19 across a batch cut") {
    import graft.streaming.StreamingSequenceMatch
    import graft.streaming.StreamingSequenceMatch.{EIn, HeadNextOut, TailPrevOut}
    val sp = spark
    import sp.implicits._
    implicit val s = spark
    implicit val sq = spark.sqlContext
    val rows = graft.engine.Tables.events(spark, sf0001)
      .select(col("user_id"), unix_micros(col("ts")), col("event_id"),
              col("event_type"))
      .collect()
      .map(r => EIn(r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
      .sortBy(e => (e.ts_micros, e.event_id))
    val (b1, b2) = rows.splitAt(rows.length / 2)
    withRocksDbProvider {
      // j09: next after the first signup — batch emits rows ONLY for
      // users with a signup; the twin's has_base flag carries that
      val in1 = MemoryStream[EIn]
      val q1 = StreamingSequenceMatch.nextNodeHead(in1.toDS()).writeStream
        .format("memory").queryName("headnext_j09")
        .outputMode(OutputMode.Update).start()
      try {
        in1.addData(b1: _*); q1.processAllAvailable()
        in1.addData(b2: _*); q1.processAllAvailable()
        val batch = graft.engine.Round8Ops.j09.fn(spark, sf0001).collect()
          .map(r => r.getLong(0) -> Option(r.getString(1))).toMap
        val last = spark.table("headnext_j09").as[HeadNextOut].collect()
          .groupBy(_.user_id).map { case (u, os) => u -> os.maxBy(_.n_events) }
        val withBase = last.collect { case (u, o) if o.has_base == 1 =>
          u -> o.next_type }
        assert(withBase == batch,
          s"streaming j09 twin must equal batch: got $withBase, want $batch")
        assert(last.exists(_._2.has_base == 0) || batch.size == last.size,
          "has_base must distinguish users batch j09 omits")
      } finally q1.stop()
      // j19: prev-of-tail and prev-of-last-click, running answers
      val in2 = MemoryStream[EIn]
      val q2 = StreamingSequenceMatch.nextNodeBack(in2.toDS()).writeStream
        .format("memory").queryName("tailprev_j19")
        .outputMode(OutputMode.Update).start()
      try {
        in2.addData(b1: _*); q2.processAllAvailable()
        in2.addData(b2: _*); q2.processAllAvailable()
        val batch = graft.engine.Round14Ops.j19.fn(spark, sf0001).collect()
          .map(r => r.getLong(0) ->
            ((Option(r.getString(1)), Option(r.getString(2)), r.getLong(3))))
          .toMap
        val last = spark.table("tailprev_j19").as[TailPrevOut].collect()
          .groupBy(_.user_id).map { case (u, os) =>
            val o = os.maxBy(_.n_events)
            u -> ((o.prev_tail, o.prev_last_click, o.n_clicks)) }
        assert(last == batch,
          s"streaming j19 twin must equal batch: got $last, want $batch")
      } finally q2.stop()
    }
  }

  test("streaming bounded chain count equals batch j18 across a batch cut") {
    import graft.streaming.StreamingSequenceCount
    import graft.streaming.StreamingSequenceCount.{EventIn, BoundedCount}
    val sp = spark
    import sp.implicits._
    implicit val s = spark
    implicit val sq = spark.sqlContext
    withRocksDbProvider {
      val rows = graft.engine.Tables.events(spark, sf0001)
        .select(col("user_id"), unix_micros(col("ts")), col("event_id"),
                col("event_type"))
        .collect()
        .map(r => EventIn(r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
        .sortBy(e => (e.ts_micros, e.event_id))
      val (b1, b2) = rows.splitAt(rows.length / 2)
      val in = MemoryStream[EventIn]
      // defaults = the batch j18 pattern (signup→click within 4 hours)
      val q = StreamingSequenceCount.boundedChainCounts(in.toDS()).writeStream
        .format("memory").queryName("bounded_j18")
        .outputMode(OutputMode.Update).start()
      try {
        in.addData(b1: _*); q.processAllAvailable()
        in.addData(b2: _*); q.processAllAvailable()
        val batch = graft.engine.Round13Ops.j18.fn(spark, sf0001).collect()
          .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
        val last = spark.table("bounded_j18").as[BoundedCount].collect()
          .groupBy(_.user_id).map { case (u, os) =>
            val o = os.maxBy(_.n_events); u -> ((o.n_chains, o.n_events)) }
        // EQUALITY: the 2-long restart automaton IS the batch fold's state
        assert(last == batch,
          s"streaming j18 twin must equal batch: got $last, want $batch")
      } finally { q.stop() }
    }
  }

  test("streaming pattern NFA equals batch j07 (loose+adjacent) and j14 (mixed) across a batch cut") {
    // routed through forPattern (not patternMatched directly), so the
    // one-call dispatch's no-time-constraint branch is itself pinned
    import graft.streaming.StreamingSequenceMatch
    import graft.streaming.StreamingSequenceMatch.{EIn, MatchOut}
    val sp = spark
    import sp.implicits._
    implicit val s = spark
    implicit val sq = spark.sqlContext
    withRocksDbProvider {
      val rows = graft.engine.Tables.events(spark, sf0001)
        .select(col("user_id"), unix_micros(col("ts")), col("event_id"),
                col("event_type"))
        .collect()
        .map(r => EIn(r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
        .sortBy(e => (e.ts_micros, e.event_id))
      val (b1, b2) = rows.splitAt(rows.length / 2)
      // batch references: j07's two flags and j14's mixed flag, by user
      val j07 = graft.engine.StreamBatchOps.j07.fn(spark, sf0001).collect()
        .map(r => r.getLong(0) -> ((r.getInt(1), r.getInt(2), r.getLong(3)))).toMap
      val j14 = graft.engine.Round12Ops.j14.fn(spark, sf0001).collect()
        .map(r => r.getLong(0) -> ((r.getInt(1), r.getLong(2)))).toMap
      val cases = Seq(
        ("loose", "(?1).*(?2)", Seq("signup", "purchase"),
          (u: Long) => (j07(u)._1, j07(u)._3)),
        ("adj", "(?1)(?2)", Seq("signup", "purchase"),
          (u: Long) => (j07(u)._2, j07(u)._3)),
        ("mixed", "(?1).*(?2)(?3)", Seq("signup", "click", "purchase"),
          (u: Long) => j14(u)))
      for ((tag, pattern, conds, want) <- cases) {
        val in = MemoryStream[EIn]
        val q = StreamingSequenceMatch.forPattern(in.toDS(), pattern, conds)
          .writeStream.format("memory").queryName(s"nfa_$tag")
          .outputMode(OutputMode.Update).start()
        try {
          in.addData(b1: _*); q.processAllAvailable()
          in.addData(b2: _*); q.processAllAvailable()
          val last = spark.table(s"nfa_$tag").as[MatchOut].collect()
            .groupBy(_.user_id).map { case (u, os) =>
              val o = os.maxBy(_.n_events); u -> ((o.matched, o.n_events)) }
          val batch = last.keys.map(u => u -> want(u)).toMap
          assert(last == batch,
            s"NFA '$pattern' must equal batch: got $last, want $batch")
        } finally { q.stop() }
      }
    }
  }

  test("forPattern dispatch: two-step bound → Processor, multi-bound → fold, time+adjacency rejected") {
    // the other two forPattern branches (the NFA branch is pinned by the
    // j07/j14 test above): the canonical two-step time bound must land on
    // the five-scalar Processor and equal batch j12; the multi-bound
    // explicit-gap form must land on the FoldProcessor and equal batch
    // j16; a time constraint against an adjacency run must be REFUSED at
    // parse time (no bounded-state processor decides it — compiling it
    // wrong is worse), before any stream exists.
    import graft.streaming.StreamingSequenceMatch
    import graft.streaming.StreamingSequenceMatch.{EIn, MatchOut}
    val sp = spark
    import sp.implicits._
    implicit val s = spark
    implicit val sq = spark.sqlContext
    val rows = graft.engine.Tables.events(spark, sf0001)
      .select(col("user_id"), unix_micros(col("ts")), col("event_id"),
              col("event_type"))
      .collect()
      .map(r => EIn(r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
      .sortBy(e => (e.ts_micros, e.event_id))
    val (b1, b2) = rows.splitAt(rows.length / 2)
    val cases = Seq(
      ("j12", "(?1)(?t<=3600)(?2)", Seq("signup", "purchase"),
        graft.engine.Round11Ops.j12.fn(spark, sf0001)),
      ("j16", "(?1)(?t<=14400)(?2)(?t>86400)(?3)",
        Seq("signup", "click", "purchase"),
        graft.engine.Round13Ops.j16.fn(spark, sf0001)))
    withRocksDbProvider {
      for ((tag, pattern, conds, batchDf) <- cases) {
        val in = MemoryStream[EIn]
        val q = StreamingSequenceMatch.forPattern(in.toDS(), pattern, conds)
          .writeStream.format("memory").queryName(s"disp_$tag")
          .outputMode(OutputMode.Update).start()
        try {
          in.addData(b1: _*); q.processAllAvailable()
          in.addData(b2: _*); q.processAllAvailable()
          val batch = batchDf.collect()
            .map(r => r.getLong(0) -> ((r.getInt(1), r.getLong(3)))).toMap
          val last = spark.table(s"disp_$tag").as[MatchOut].collect()
            .groupBy(_.user_id).map { case (u, os) =>
              val o = os.maxBy(_.n_events); u -> ((o.matched, o.n_events)) }
          assert(last == batch,
            s"forPattern($pattern) must equal batch $tag: got $last, want $batch")
        } finally { q.stop() }
      }
    }
    val err = intercept[IllegalArgumentException] {
      StreamingSequenceMatch.forPattern(
        MemoryStream[EIn].toDS(), "(?1)(?t<=10)(?2)(?3)",
        Seq("signup", "click", "purchase"))
    }
    assert(err.getMessage.contains("adjacency"),
      s"time-against-adjacency must be refused loudly: ${err.getMessage}")
    // every other bad argument also fails on the driver, at query build
    import graft.streaming.{StreamingHeavyHitters, StreamingHistogram,
      StreamingSequenceCount}
    val badArgs: Seq[(String, () => Any)] = Seq(
      "topK k=0" -> (() => StreamingHeavyHitters.topK(
        MemoryStream[StreamingHeavyHitters.ValueIn].toDS(), k = 0, capacity = 4)),
      "topK capacity<k" -> (() => StreamingHeavyHitters.topK(
        MemoryStream[StreamingHeavyHitters.ValueIn].toDS(), k = 5, capacity = 4)),
      "histogram n=0" -> (() => StreamingHistogram.histogram(
        MemoryStream[StreamingHistogram.ValueIn].toDS(), n = 0)),
      "boundedChainCounts op" -> (() => StreamingSequenceCount.boundedChainCounts(
        MemoryStream[StreamingSequenceCount.EventIn].toDS(), op = "==")),
      "matched op" -> (() => StreamingSequenceMatch.matched(
        MemoryStream[EIn].toDS(), op = "!=")))
    badArgs.foreach { case (what, build) =>
      withClue(s"$what: ") { intercept[IllegalArgumentException](build()) }
    }
  }

  test("streaming concurrency equals batch e27 across a batch cut") {
    import graft.streaming.StreamingConcurrency
    import graft.streaming.StreamingConcurrency.{IvIn, ConcOut}
    val sp = spark
    import sp.implicits._
    implicit val s = spark
    implicit val sq = spark.sqlContext
    withRocksDbProvider {
      // the batch query's own intervals, replayed IN ORDER with a cut
      val rows = graft.engine.Tables.events(spark, sf0001)
        .filter(col("event_type") === "purchase")
        .select(col("user_id"), unix_micros(col("ts")), col("event_id"))
        .collect()
        .map(r => IvIn(r.getLong(0), r.getLong(1),
                       r.getLong(1) + 7200000000L, r.getLong(2)))
        .sortBy(iv => (iv.s_micros, iv.event_id))
      val (b1, b2) = rows.splitAt(rows.length / 2)
      val in = MemoryStream[IvIn]
      val q = StreamingConcurrency.concurrency(in.toDS()).writeStream
        .format("memory").queryName("conc_t").outputMode(OutputMode.Append).start()
      try {
        in.addData(b1: _*); q.processAllAvailable()
        in.addData(b2: _*); q.processAllAvailable()
        val batch = graft.engine.Round12Ops.e27.fn(spark, sf0001).collect()
          .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
        val got = spark.table("conc_t").as[ConcOut].collect()
          .map(o => (o.user_id, o.event_id) -> o.concurrency).toMap
        assert(got == batch,
          s"streaming concurrency must equal batch e27: got ${got.size} rows")
      } finally { q.stop() }
    }
  }

  test("time-decay contribution matches batch semantics outside the 30-day grid") {
    import graft.streaming.StreamingTimeDecay._
    // on-grid boundary values: age 0 → cents·2^30, age 30 → cents·2^0
    assert(contribution(0L, 0L, 100L) == 100L * (1L << 30))
    assert(contribution(30 * DayMicros, 0L, 100L) == 100L)
    // beyond the grid the batch SQL's long cast of POWER(2, negative)
    // truncates to 0 — the stream must agree, not shift by a negative
    // count (JVM masks shift counts mod 64 → garbage like 1L << 63)
    assert(contribution(31 * DayMicros, 0L, 100L) == 0L)
    assert(contribution(400 * DayMicros, 0L, 100L) == 0L)
    // future events violate the processor's ts <= ref contract: loud
    intercept[IllegalArgumentException](contribution(0L, DayMicros, 100L))
  }

  test("streaming retention emits every configured bucket, not a fixed three") {
    import graft.streaming.StreamingRetention
    import graft.streaming.StreamingRetention.{EventIn, RetentionFlags}
    val sp = spark
    import sp.implicits._
    implicit val s = spark
    implicit val sq = spark.sqlContext
    withRocksDbProvider {
      val D = 86400L * 1000000L
      val in = MemoryStream[EventIn]
      // 5 weekly buckets: activity in weeks 0 (the anchor), 3, and 4
      val q = StreamingRetention.retentionFlags(in.toDS(), nBuckets = 5).writeStream
        .format("memory").queryName("retention5_t").outputMode(OutputMode.Update).start()
      try {
        in.addData(EventIn(1, 0 * D, 1, "signup"), EventIn(1, 22 * D, 2, "click"),
                   EventIn(1, 30 * D, 3, "view"))
        q.processAllAvailable()
        val r = spark.table("retention5_t").as[RetentionFlags].collect().last
        assert(r.flags == Seq(1, 0, 0, 1, 1),
          s"all 5 configured buckets must be emitted: ${r.flags}")
        assert(r.mask == ((1 << 0) | (1 << 3) | (1 << 4)))
        assert((r.w0, r.w1, r.w2) == ((1, 0, 0)), "j06-named views stay consistent")
      } finally { q.stop() }
    }
  }
  test("streaming unigram LM one-batch replay equals batch k40 (score + flag)") {
    import graft.engine.{Round13Ops, Tables}
    import graft.streaming.StreamingUnigramLm
    import graft.streaming.StreamingUnigramLm.{DocIn, TokenHit, Tot}
    val sp = spark
    import sp.implicits._
    implicit val s = spark
    implicit val sq = spark.sqlContext
    withRocksDbProvider {
      val docs = Tables.documents(spark, sf0001)
        .select(col("doc_id"), col("text")).as[DocIn].collect()
      val in = MemoryStream[DocIn]
      val inT = MemoryStream[DocIn]
      val q = StreamingUnigramLm.tokenHits(in.toDS()).writeStream
        .format("memory").queryName("ulm_hits_t").outputMode(OutputMode.Update).start()
      val qt = StreamingUnigramLm.corpusTotal(inT.toDS()).writeStream
        .format("memory").queryName("ulm_tot_t").outputMode(OutputMode.Update).start()
      try {
        in.addData(docs.toIndexedSeq) // whole corpus in ONE micro-batch
        inT.addData(docs.toIndexedSeq)
        q.processAllAvailable(); qt.processAllAvailable()
        val tot = spark.table("ulm_tot_t").as[Tot].collect().map(_.tot).max
        // sink-side rollup: mean_nll = -SUM(c * ln(ct/tot)) / SUM(c), the
        // documented assembly of the emitted sufficient statistics
        val streamed = spark.table("ulm_hits_t").as[TokenHit].collect()
          .groupBy(_.doc_id).map { case (id, hs) =>
            val n = hs.map(_.c).sum
            val nll = -hs.map(h => h.c * math.log(h.ct.toDouble / tot)).sum
            val mean = BigDecimal(nll / n)
              .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
            id -> ((n, mean, if (mean > 3.45) 1 else 0))
          }
        val batch = Round13Ops.k40.fn(spark, sf0001).collect()
          .map(r => r.getAs[Long]("doc_id") ->
            ((r.getAs[Long]("n_tokens"), r.getAs[Double]("mean_nll"),
              r.getAs[Int]("high_surprise")))).toMap
        assert(batch.nonEmpty)
        assert(streamed == batch,
          s"one-batch streaming rollup must equal batch k40; diff=" +
            s"${(streamed.toSet -- batch.toSet).take(3)}")
      } finally { q.stop(); qt.stop() }
    }
  }

  test("streaming unigram LM is probe-at-arrival: later docs shift later scores only") {
    import graft.streaming.StreamingUnigramLm
    import graft.streaming.StreamingUnigramLm.{DocIn, TokenHit, Tot}
    val sp = spark
    import sp.implicits._
    implicit val s = spark
    implicit val sq = spark.sqlContext
    withRocksDbProvider {
      val in = MemoryStream[DocIn]
      val inT = MemoryStream[DocIn]
      val q = StreamingUnigramLm.tokenHits(in.toDS()).writeStream
        .format("memory").queryName("ulm_xb_hits_t").outputMode(OutputMode.Update).start()
      val qt = StreamingUnigramLm.corpusTotal(inT.toDS()).writeStream
        .format("memory").queryName("ulm_xb_tot_t").outputMode(OutputMode.Update).start()
      try {
        // batch 1: doc 1 "x y" scores against a 2-token corpus: ct(x)=ct(y)=1,
        // tot=2, mean_nll = ln 2
        in.addData(DocIn(1, "x y")); inT.addData(DocIn(1, "x y"))
        q.processAllAvailable(); qt.processAllAvailable()
        val t1 = spark.table("ulm_xb_tot_t").as[Tot].collect().map(_.tot).max
        assert(t1 == 2L)
        val h1 = spark.table("ulm_xb_hits_t").as[TokenHit].collect()
          .filter(_.doc_id == 1L)
        assert(h1.forall(_.ct == 1L), s"batch-1 counts: ${h1.toSeq}")
        // batch 2: doc 2 "x z" — x now counts 2 of tot 4; doc 1's batch-1
        // emissions are UNCHANGED (no retro re-score rows for doc 1)
        in.addData(DocIn(2, "x z")); inT.addData(DocIn(2, "x z"))
        q.processAllAvailable(); qt.processAllAvailable()
        val t2 = spark.table("ulm_xb_tot_t").as[Tot].collect().map(_.tot).max
        assert(t2 == 4L)
        val hits = spark.table("ulm_xb_hits_t").as[TokenHit].collect()
        assert(hits.count(_.doc_id == 1L) == 2, "doc 1 not re-emitted")
        val d2 = hits.filter(_.doc_id == 2L).map(h => h.t -> h.ct).toMap
        assert(d2 == Map("x" -> 2L, "z" -> 1L), s"doc 2 sees batch-2 state: $d2")
      } finally { q.stop(); qt.stop() }
    }
  }

  test("streaming Gopher gate equals batch k41 flags on the fixture corpus") {
    import graft.engine.{Round13Ops, Tables}
    import graft.streaming.StreamingUnigramLm
    import graft.streaming.StreamingUnigramLm.{DocIn, GateFlags}
    val sp = spark
    import sp.implicits._
    implicit val s = spark
    implicit val sq = spark.sqlContext
    val docs = Tables.documents(spark, sf0001)
      .select(col("doc_id"), col("text")).as[DocIn].collect()
    val in = MemoryStream[DocIn]
    val q = StreamingUnigramLm.gateFlags(in.toDS()).writeStream
      .format("memory").queryName("gate_t").outputMode(OutputMode.Append).start()
    try {
      in.addData(docs.toIndexedSeq)
      q.processAllAvailable()
      val streamed = spark.table("gate_t").as[GateFlags].collect()
        .map(g => g.doc_id ->
          ((g.n_tokens, g.n_stop_kinds, g.top_frac, g.wc_ok, g.stop_ok,
            g.conc_ok, g.keep))).toMap
      val batch = Round13Ops.k41.fn(spark, sf0001).collect()
        .map(r => r.getAs[Long]("doc_id") ->
          ((r.getAs[Int]("n_tokens"), r.getAs[Int]("n_stop_kinds"),
            r.getAs[Double]("top_frac"), r.getAs[Int]("wc_ok"),
            r.getAs[Int]("stop_ok"), r.getAs[Int]("conc_ok"),
            r.getAs[Int]("keep")))).toMap
      assert(streamed == batch,
        s"stateless gate must equal batch k41; diff=" +
          s"${(streamed.toSet -- batch.toSet).take(3)}")
    } finally q.stop()
  }
  test("streaming tokenizers keep trailing empty tokens (Spark split parity)") {
    // Spark's split(text, ' ') and DuckDB's STRING_SPLIT both KEEP
    // trailing empty strings; Java's 1-arg split DROPS them. Every
    // streaming twin that claims bit-parity with a batch query must
    // therefore tokenize with split(" ", -1) — pinned here on a
    // trailing-space document so the divergence class (r14 review
    // finding) cannot silently return.
    val sp = spark
    val sparkCount = sp.sql("SELECT size(split('a b ', ' '))").head.getInt(0)
    assert(sparkCount == 3, s"Spark split keeps the trailing empty: $sparkCount")
    val bg = graft.streaming.StreamingBigramLm.tf(
      graft.streaming.StreamingBigramLm.DocIn(1L, "a b "))
    assert(bg.map(r => (r.a, r.b)).toSet == Set(("a", "b"), ("b", "")),
      s"bigram twin must see the trailing empty token: $bg")
    val ug = graft.streaming.StreamingUnigramLm.tf(
      graft.streaming.StreamingUnigramLm.DocIn(1L, "a b "))
    assert(ug.map(_.c).sum == 3L,
      s"unigram twin must count the trailing empty token: $ug")
  }

  test("streaming bigram LM one-batch replay equals batch k48 (score + flag)") {
    import graft.engine.{Round17Ops, Tables}
    import graft.streaming.StreamingBigramLm
    import graft.streaming.StreamingBigramLm.{DocIn, PairHit}
    val sp = spark
    import sp.implicits._
    implicit val s = spark
    implicit val sq = spark.sqlContext
    withRocksDbProvider {
      val docs = Tables.documents(spark, sf0001)
        .select(col("doc_id"), col("text")).as[DocIn].collect()
      val in = MemoryStream[DocIn]
      val q = StreamingBigramLm.pairHits(in.toDS()).writeStream
        .format("memory").queryName("blm_hits_t").outputMode(OutputMode.Update).start()
      try {
        in.addData(docs.toIndexedSeq) // whole corpus in ONE micro-batch
        q.processAllAvailable()
        // sink-side rollup: mean_nll = -SUM(c * ln(ct/ht)) / SUM(c) — the
        // documented assembly; no separate total stream (denominator is
        // per-head and rides the emission)
        val streamed = spark.table("blm_hits_t").as[PairHit].collect()
          .groupBy(_.doc_id).map { case (id, hs) =>
            val n = hs.map(_.c).sum
            val nll = -hs.map(h => h.c * math.log(h.ct.toDouble / h.ht)).sum
            val mean = BigDecimal(nll / n)
              .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
            id -> ((n, mean, if (mean > 3.45) 1 else 0))
          }
        val batch = Round17Ops.k48.fn(spark, sf0001).collect()
          .map(r => r.getAs[Long]("doc_id") ->
            ((r.getAs[Long]("n_bigrams"), r.getAs[Double]("mean_nll"),
              r.getAs[Int]("high_surprise")))).toMap
        assert(batch.nonEmpty)
        assert(streamed == batch,
          s"one-batch streaming rollup must equal batch k48; diff=" +
            s"${(streamed.toSet -- batch.toSet).take(3)}")
      } finally { q.stop() }
    }
  }

  test("streaming bigram LM is probe-at-arrival; head state spans batches") {
    import graft.streaming.StreamingBigramLm
    import graft.streaming.StreamingBigramLm.{DocIn, PairHit}
    val sp = spark
    import sp.implicits._
    implicit val s = spark
    implicit val sq = spark.sqlContext
    withRocksDbProvider {
      val in = MemoryStream[DocIn]
      val q = StreamingBigramLm.pairHits(in.toDS()).writeStream
        .format("memory").queryName("blm_xb_hits_t").outputMode(OutputMode.Update).start()
      try {
        // batch 1: doc 1 "x y" → pair (x,y) with ct=1, ht=1
        in.addData(DocIn(1, "x y"))
        q.processAllAvailable()
        val h1 = spark.table("blm_xb_hits_t").as[PairHit].collect()
        assert(h1.length == 1 && h1.head.ct == 1L && h1.head.ht == 1L,
          s"batch-1 counts: ${h1.toSeq}")
        // batch 2: doc 2 "x y x z" — head x gains 2 (ht 3), pair (x,y)
        // gains 1 (ct 2), pair (x,z) is new (ct 1); doc 1's batch-1
        // emission is UNCHANGED (no retro re-score), and the (y,x) pair
        // rides head y's own state
        in.addData(DocIn(2, "x y x z"))
        q.processAllAvailable()
        val hits = spark.table("blm_xb_hits_t").as[PairHit].collect()
        assert(hits.count(_.doc_id == 1L) == 1, "doc 1 not re-emitted")
        val d2 = hits.filter(_.doc_id == 2L)
          .map(h => (h.a, h.b) -> ((h.c, h.ct, h.ht))).toMap
        assert(d2 == Map(("x", "y") -> ((1L, 2L, 3L)),
                         ("x", "z") -> ((1L, 1L, 3L)),
                         ("y", "x") -> ((1L, 1L, 1L))),
          s"doc 2 sees post-batch-2 head/pair state: $d2")
      } finally { q.stop() }
    }
  }

  test("streaming domain mixture one-batch replay rollup equals batch k51") {
    import graft.engine.{Round17Ops, Tables}
    import graft.streaming.StreamingDomainMixture
    import graft.streaming.StreamingDomainMixture.{DocIn, MassOut}
    val sp = spark
    import sp.implicits._
    implicit val s = spark
    implicit val sq = spark.sqlContext
    withRocksDbProvider {
      val docs = Tables.documents(spark, sf0001)
        .select(col("doc_id"), col("source"), col("text")).as[DocIn].collect()
      val in = MemoryStream[DocIn]
      val q = StreamingDomainMixture.sourceMass(in.toDS()).writeStream
        .format("memory").queryName("dmx_t").outputMode(OutputMode.Update).start()
      try {
        // batch 1: first half; batch 2: the rest — the sink's LATEST row
        // per source after batch 2 must carry the full corpus masses
        val (b1, b2) = docs.splitAt(docs.length / 2)
        in.addData(b1.toIndexedSeq); q.processAllAvailable()
        in.addData(b2.toIndexedSeq); q.processAllAvailable()
        val latest = spark.table("dmx_t").as[MassOut].collect()
          .groupBy(_.source).map { case (src, rows) =>
            val m = rows.maxBy(r => (r.n_tokens, r.n_docs)) // totals only grow
            src -> ((m.n_tokens, m.n_docs))
          }
        // sink-side rollup with k51's exact formulas
        val tot = latest.values.map(_._1).sum
        val nSrc = latest.size.toLong
        val target = tot.toDouble / nSrc
        def r4(x: Double) =
          BigDecimal(x).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
        val streamed = latest.map { case (src, (toks, docs)) =>
          src -> ((toks, docs, r4(toks.toDouble / tot),
                   r4(math.min(1.0, target / toks)),
                   math.ceil(target / toks).toLong))
        }
        val batch = Round17Ops.k51.fn(spark, sf0001).collect()
          .map(r => r.getString(0) ->
            ((r.getLong(1), r.getLong(2), r.getDouble(3), r.getDouble(4),
              r.getLong(5)))).toMap
        assert(batch.nonEmpty)
        assert(streamed == batch,
          s"two-batch streaming rollup must equal batch k51; diff=" +
            s"${(streamed.toSet -- batch.toSet).take(3)}")
      } finally { q.stop() }
    }
  }

  test("streaming DSIR one-batch replay equals batch k58 (score + flag)") {
    import graft.engine.{Round19Ops, Tables}
    import graft.streaming.StreamingDsir
    import graft.streaming.StreamingDsir.{DocIn, TokenHit, Tot}
    val sp = spark
    import sp.implicits._
    implicit val s = spark
    implicit val sq = spark.sqlContext
    withRocksDbProvider {
      val docs = Tables.documents(spark, sf0001)
        .select(col("doc_id"), col("source"), col("text")).as[DocIn].collect()
      val in = MemoryStream[DocIn]
      val inT = MemoryStream[DocIn]
      val q = StreamingDsir.tokenHits(in.toDS()).writeStream
        .format("memory").queryName("dsir_hits_t").outputMode(OutputMode.Update).start()
      val qt = StreamingDsir.corpusTotals(inT.toDS()).writeStream
        .format("memory").queryName("dsir_tot_t").outputMode(OutputMode.Update).start()
      try {
        in.addData(docs.toIndexedSeq) // whole corpus in ONE micro-batch
        inT.addData(docs.toIndexedSeq)
        q.processAllAvailable(); qt.processAllAvailable()
        val tot = spark.table("dsir_tot_t").as[Tot].collect()
          .maxBy(t => (t.nr, t.nt))
        val hits = spark.table("dsir_hits_t").as[TokenHit].collect()
        // V = distinct tokens ever seen — the once-per-token `first` facts
        val v = hits.filter(_.first).map(_.t).distinct.length.toLong
        val streamed = hits.groupBy(_.doc_id).map { case (id, hs) =>
          val n = hs.map(_.c).sum
          val llr = hs.map(h => h.c * math.log(
            ((h.ctt + 1).toDouble * (tot.nr + v)) /
              ((h.cr + 1).toDouble * (tot.nt + v)))).sum
          val mean = BigDecimal(llr / n)
            .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble + 0.0
          id -> ((n, mean, if (mean > 0.005) 1 else 0))
        }
        val batch = Round19Ops.k58.fn(spark, sf0001).collect()
          .map(r => r.getAs[Long]("doc_id") ->
            ((r.getAs[Long]("n_tokens"), r.getAs[Double]("mean_llr"),
              r.getAs[Int]("selected")))).toMap
        assert(batch.nonEmpty)
        assert(streamed == batch,
          s"one-batch streaming rollup must equal batch k58; diff=" +
            s"${(streamed.toSet -- batch.toSet).take(3)}")
        // cross-batch probe-at-arrival: a second batch reusing a token must
        // read counts THROUGH batch 2 on its own hits
        val tok0 = docs.head.text.split(" ", -1).head
        val before = hits.filter(_.t == tok0).map(_.cr).max
        in.addData(DocIn(999999L, "src9", tok0))
        q.processAllAvailable()
        val after = spark.table("dsir_hits_t").as[TokenHit].collect()
          .filter(h => h.doc_id == 999999L && h.t == tok0)
        assert(after.length == 1 && after.head.cr == before + 1 &&
                 !after.head.first,
          s"batch-2 hit must carry post-batch-2 counts: ${after.toSeq}")
      } finally { q.stop(); qt.stop() }
    }
  }

  test("streaming novelty one-batch replay equals batch k61; pre-arrival train text counts novel") {
    import graft.engine.{Round19Ops, Tables}
    import graft.streaming.StreamingNovelty
    import graft.streaming.StreamingNovelty.{DocIn, GramHit}
    val sp = spark
    import sp.implicits._
    implicit val s = spark
    implicit val sq = spark.sqlContext
    withRocksDbProvider {
      // split tags computed exactly as the batch query computes them
      val docs = Tables.documents(spark, sf0001)
        .select(col("doc_id"), col("text"),
          (substring(md5(col("doc_id").cast("string")), 1, 1) >= "e").as("is_test"))
        .as[DocIn].collect()
      val in = MemoryStream[DocIn]
      val q = StreamingNovelty.gramHits(in.toDS()).writeStream
        .format("memory").queryName("nov_t").outputMode(OutputMode.Update).start()
      try {
        in.addData(docs.toIndexedSeq) // whole corpus in ONE micro-batch
        q.processAllAvailable()
        def r4(x: Double) =
          BigDecimal(x).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
        val streamed = spark.table("nov_t").as[GramHit].collect()
          .groupBy(_.doc_id).map { case (id, hs) =>
            val n = hs.map(_.c).sum
            val novel = hs.filterNot(_.in_train).map(_.c).sum
            val f = r4(novel.toDouble / n)
            id -> ((n, novel, f, if (f < 0.2) 1 else 0))
          }
        val batch = Round19Ops.k61.fn(spark, sf0001).collect()
          .map(r => r.getLong(0) ->
            ((r.getLong(1), r.getLong(2), r.getDouble(3), r.getInt(4)))).toMap
        assert(batch.nonEmpty)
        assert(streamed == batch,
          s"one-batch streaming rollup must equal batch k61; diff=" +
            s"${(streamed.toSet -- batch.toSet).take(3)}")
        // probe-at-arrival: a test doc arriving BEFORE its matching train
        // text reads fully novel; the same text arriving after train held
        // it reads fully memorized
        val g = (1 to 5).map(i => s"nv$i").mkString(" ")
        in.addData(DocIn(900001L, g, is_test = true))
        q.processAllAvailable()
        in.addData(DocIn(900002L, g, is_test = false))
        in.addData(DocIn(900003L, g, is_test = true))
        q.processAllAvailable()
        val late = spark.table("nov_t").as[GramHit].collect()
          .filter(h => h.doc_id >= 900000L)
        assert(late.find(_.doc_id == 900001L).get.in_train == false,
          "test-before-train is novel at arrival")
        assert(late.find(_.doc_id == 900003L).get.in_train == true,
          "same-batch train rows fold before test rows read")
      } finally { q.stop() }
    }
  }

  test("streaming zipf spectrum two-batch rollup equals batch k60 bit-for-bit") {
    import graft.engine.{Round19Ops, Tables}
    import graft.streaming.StreamingZipf
    import graft.streaming.StreamingZipf.{DocIn, SpectrumOut}
    val sp = spark
    import sp.implicits._
    implicit val s = spark
    implicit val sq = spark.sqlContext
    withRocksDbProvider {
      val docs = Tables.documents(spark, sf0001)
        .select(col("doc_id"), col("source"), col("text")).as[DocIn].collect()
      val in = MemoryStream[DocIn]
      val q = StreamingZipf.spectrum(in.toDS()).writeStream
        .format("memory").queryName("zipf_t").outputMode(OutputMode.Update).start()
      try {
        // two batch cuts; the sink accumulates Update emissions, so the
        // LATEST count per (source, token) is max(c) — counts only grow
        val (b1, b2) = docs.splitAt(docs.length / 2)
        in.addData(b1.toIndexedSeq); q.processAllAvailable()
        in.addData(b2.toIndexedSeq); q.processAllAvailable()
        val latest = spark.table("zipf_t").as[SpectrumOut].collect()
          .groupBy(r => (r.source, r.t))
          .map { case ((src, t), rows) => (src, t, rows.map(_.c).max) }.toSeq
        // the stream's state IS the batch tf aggregate ⇒ feeding it through
        // the SHARED finisher must reproduce batch k60 bit-for-bit
        val streamed = Round19Ops.k60FromTf(
          latest.toDF("source", "t", "c")).collect().map(_.toString).toSeq
        val batch = Round19Ops.k60.fn(spark, sf0001).collect()
          .map(_.toString).toSeq
        assert(batch.nonEmpty)
        assert(streamed == batch,
          s"spectrum rollup diverged; first diff: " +
            s"${streamed.zip(batch).find(p => p._1 != p._2)}")
      } finally { q.stop() }
    }
  }

  test("streaming source overlap one-batch replay rollup equals batch k53") {
    import graft.engine.{Round17Ops, Tables}
    import graft.streaming.StreamingSourceOverlap
    import graft.streaming.StreamingSourceOverlap.{DocIn, PairOut}
    val sp = spark
    import sp.implicits._
    implicit val s = spark
    implicit val sq = spark.sqlContext
    withRocksDbProvider {
      val docs = Tables.documents(spark, sf0001)
        .select(col("doc_id"), col("source"), col("text")).as[DocIn].collect()
      val in = MemoryStream[DocIn]
      val q = StreamingSourceOverlap.newPairs(in.toDS()).writeStream
        .format("memory").queryName("sov_t").outputMode(OutputMode.Update).start()
      try {
        in.addData(docs.toIndexedSeq) // whole corpus in ONE micro-batch
        q.processAllAvailable()
        // each (digest, pair) fact arrives exactly once → count per pair
        // IS the distinct-shared-span matrix
        val streamed = spark.table("sov_t").as[PairOut].collect()
          .groupBy(p => (p.source_a, p.source_b))
          .map { case (k, v) => k -> v.length.toLong }
        val batch = Round17Ops.k53.fn(spark, sf0001).collect()
          .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
        assert(batch.nonEmpty)
        assert(streamed == batch,
          s"one-batch streaming matrix must equal batch k53; diff=" +
            s"${(streamed.toSet -- batch.toSet).take(3)} / " +
            s"${(batch.toSet -- streamed.toSet).take(3)}")
      } finally { q.stop() }
    }
  }

  test("streaming source overlap emits each pair once; a third source adds only new pairs") {
    import graft.streaming.StreamingSourceOverlap
    import graft.streaming.StreamingSourceOverlap.{DocIn, PairOut}
    val sp = spark
    import sp.implicits._
    implicit val s = spark
    implicit val sq = spark.sqlContext
    withRocksDbProvider {
      val span = (1 to 20).map(i => s"s$i").mkString(" ")
      val in = MemoryStream[DocIn]
      val q = StreamingSourceOverlap.newPairs(in.toDS()).writeStream
        .format("memory").queryName("sov_xb_t").outputMode(OutputMode.Update).start()
      try {
        // batch 1: sources A and B share the span (B twice — within-source
        // repetition must not emit) → exactly one (A, B) fact
        in.addData(DocIn(1, "A", span), DocIn(2, "B", span), DocIn(3, "B", span))
        q.processAllAvailable()
        val h1 = spark.table("sov_xb_t").as[PairOut].collect()
        assert(h1.map(p => (p.source_a, p.source_b)).toSeq == Seq(("A", "B")),
          s"batch 1: ${h1.toSeq}")
        // batch 2: source C joins → only the two NEW pairs (A,C) and (B,C);
        // (A,B) is not re-emitted
        in.addData(DocIn(4, "C", span))
        q.processAllAvailable()
        val all = spark.table("sov_xb_t").as[PairOut].collect()
          .map(p => (p.source_a, p.source_b)).sorted
        assert(all.toSeq == Seq(("A", "B"), ("A", "C"), ("B", "C")),
          s"after batch 2: $all")
      } finally { q.stop() }
    }
  }

  test("streaming histogram exact regime equals batch d58 across a batch cut") {
    import graft.streaming.StreamingHistogram
    import graft.streaming.StreamingHistogram.{BinOut, ValueIn}
    val sp = spark
    import sp.implicits._
    implicit val s = spark
    implicit val sq = spark.sqlContext
    withRocksDbProvider {
      // the d58 input: (return flag, integral quantity), 50 distinct <= 64 bins
      val rows = graft.engine.Tables.lineitem(spark, sf0001)
        .select(col("l_returnflag").as("group"),
                col("l_quantity").cast("long").as("v"))
        .as[ValueIn].collect()
      val (b1, b2) = rows.splitAt(rows.length / 2)
      val in = MemoryStream[ValueIn]
      val q = StreamingHistogram.histogram(in.toDS(), n = 64).writeStream
        .format("memory").queryName("hist_t").outputMode(OutputMode.Update).start()
      try {
        in.addData(b1.toIndexedSeq) // mid-corpus batch cut
        q.processAllAvailable()
        in.addData(b2.toIndexedSeq)
        q.processAllAvailable()
        // final per-group state = the last batch's emissions for that group
        val streamed = spark.table("hist_t").as[BinOut].collect()
          .groupBy(_.group).map { case (g, bs) =>
            val last = bs.groupBy(_.rank).map { case (_, dups) => dups.last }
            // exact regime: every member equals the centroid -> value = sum/count
            g -> last.toSeq.sortBy(_.rank)
              .map(b => (b.sum / b.count, b.count)).toVector
          }
        val batch = graft.engine.Round14Ops.d58.fn(spark, sf0001).collect()
          .groupBy(_.getAs[String]("l_returnflag")).map { case (g, rs) =>
            g -> rs.map(r => (r.getAs[Long]("qty"), r.getAs[Long]("n"))).toVector
          }
        assert(batch.nonEmpty)
        assert(streamed == batch,
          s"streaming exact-regime histogram must equal batch d58: " +
            s"streamOnly=${streamed.keySet -- batch.keySet}")
      } finally { q.stop() }
    }
  }

  test("streaming quality buckets one-batch replay equals batch k49 (cutoffs + buckets)") {
    import graft.engine.Round17Ops
    import graft.streaming.StreamingQualityBuckets
    import graft.streaming.StreamingQualityBuckets.{BucketOut, ScoredDoc}
    val sp = spark
    import sp.implicits._
    implicit val s = spark
    implicit val sq = spark.sqlContext
    withRocksDbProvider {
      // the scoring side's parity is the unigram twin's pin — this twin
      // contributes the cutoff/bucket state, so its input stream carries
      // batch k49's own (doc, source, score) rows and the pin isolates
      // the grid arithmetic
      val batch = Round17Ops.k49.fn(spark, sf0001).collect()
        .map(r => (r.getAs[Long]("doc_id"), r.getAs[String]("source"),
          r.getAs[Double]("score"), r.getAs[String]("bucket")))
      assert(batch.map(_._4).toSet == Set("head", "middle", "tail"))
      val in = MemoryStream[ScoredDoc]
      val q = StreamingQualityBuckets.buckets(in.toDS()).writeStream
        .format("memory").queryName("qb_one_t")
        .outputMode(OutputMode.Update).start()
      try {
        in.addData(batch.map(b => ScoredDoc(b._1, b._2, b._3)).toIndexedSeq)
        q.processAllAvailable()
        val streamed = spark.table("qb_one_t").as[BucketOut].collect()
          .map(o => o.doc_id -> o.bucket).toMap
        assert(streamed == batch.map(b => b._1 -> b._4).toMap,
          "one-batch streaming buckets must equal batch k49")
      } finally q.stop()
    }
  }

  test("streaming quality buckets: grid state spans batches, at-arrival buckets stand") {
    import graft.streaming.StreamingQualityBuckets
    import graft.streaming.StreamingQualityBuckets.{BucketOut, ScoredDoc}
    val sp = spark
    import sp.implicits._
    implicit val s = spark
    implicit val sq = spark.sqlContext
    withRocksDbProvider {
      val in = MemoryStream[ScoredDoc]
      val q = StreamingQualityBuckets.buckets(in.toDS()).writeStream
        .format("memory").queryName("qb_xb_t")
        .outputMode(OutputMode.Update).start()
      try {
        // batch 1, source A: scores 1/2/3 → n=3, c1 = rank 1 → 1.0,
        // c2 = rank 2 → 2.0 → head/middle/tail
        in.addData(ScoredDoc(1, "A", 1.0), ScoredDoc(2, "A", 2.0),
                   ScoredDoc(3, "A", 3.0))
        q.processAllAvailable()
        val b1 = spark.table("qb_xb_t").as[BucketOut].collect()
          .map(o => o.doc_id -> ((o.c1, o.c2, o.bucket))).toMap
        assert(b1 == Map(1L -> ((1.0, 2.0, "head")),
                         2L -> ((1.0, 2.0, "middle")),
                         3L -> ((1.0, 2.0, "tail"))), s"batch 1: $b1")
        // batch 2: scores 0.5 and 2.5 join the grid → n=5, c1 = rank
        // ⌈7/3⌉=2 → 1.0, c2 = rank 4 → 2.5; the NEW docs bucket against
        // the post-batch cutoffs; batch-1 docs are not re-emitted
        in.addData(ScoredDoc(4, "A", 0.5), ScoredDoc(5, "A", 2.5))
        q.processAllAvailable()
        val all = spark.table("qb_xb_t").as[BucketOut].collect()
        assert(all.count(o => Set(1L, 2L, 3L)(o.doc_id)) == 3,
          "at-arrival buckets stand — no retro re-emission")
        val b2 = all.filter(o => o.doc_id >= 4L)
          .map(o => o.doc_id -> ((o.c1, o.c2, o.bucket))).toMap
        assert(b2 == Map(4L -> ((1.0, 2.5, "head")),
                         5L -> ((1.0, 2.5, "middle"))), s"batch 2: $b2")
        // an independent source gets its own grid
        in.addData(ScoredDoc(9, "B", 9.0))
        q.processAllAvailable()
        val b9 = spark.table("qb_xb_t").as[BucketOut].collect()
          .find(_.doc_id == 9L).get
        assert(b9.c1 == 9.0 && b9.bucket == "head",
          s"singleton source buckets on its own grid: $b9")
      } finally q.stop()
    }
  }

  test("streaming custdist delta fold + closed-form zero bucket equals batch d63 bit-for-bit") {
    import graft.engine.{Round20bOps, Tables}
    import graft.streaming.StreamingCustdist
    import graft.streaming.StreamingCustdist.{DeltaOut, OrderIn}
    val sp = spark
    import sp.implicits._
    implicit val s = spark
    implicit val sq = spark.sqlContext
    withRocksDbProvider {
      val orders = Tables.orders(spark, sf0001)
        .filter(col("o_orderpriority") === "1-URGENT")
        .select(col("o_custkey")).as[Long].collect().map(OrderIn.apply)
      val in = MemoryStream[OrderIn]
      val q = StreamingCustdist.distributionDeltas(in.toDS()).writeStream
        .format("memory").queryName("cd_t").outputMode(OutputMode.Update).start()
      try {
        // two cuts; customers with urgent orders on BOTH sides force the
        // retraction path (old-bucket -1) across the cut, not just within it
        val (b1, b2) = orders.splitAt(orders.length / 2)
        val both = b1.map(_.o_custkey).toSet intersect b2.map(_.o_custkey).toSet
        assert(both.nonEmpty, "fixture must carry cross-cut customers")
        in.addData(b1.toIndexedSeq); q.processAllAvailable()
        in.addData(b2.toIndexedSeq); q.processAllAvailable()
        val deltas = spark.table("cd_t").as[DeltaOut].collect()
        assert(deltas.exists(_.delta == -1L), "retractions must have fired")
        // fold the changelog: net members per bucket (c >= 1); intermediate
        // buckets net to zero and vanish
        val nonZero = deltas.groupBy(_.c_count)
          .map { case (c, ds) => c -> ds.map(_.delta).sum }
          .filter(_._2 != 0L)
        // the zero bucket is closed-form off the customer dimension
        val nCust = Tables.customer(spark, sf0001).count()
        val seen = nonZero.values.sum
        val dist = (nonZero + (0L -> (nCust - seen)))
          .filter(_._2 != 0L).toSeq
          .sortBy { case (c, d) => (-d, -c) }
        val batch = Round20bOps.d63.fn(spark, sf0001).collect()
          .map(r => (r.getLong(0), r.getLong(1))).toSeq
        assert(dist == batch,
          s"changelog distribution diverged:\nstream: $dist\nbatch:  $batch")
      } finally { q.stop() }
    }
  }

  test("streaming doremi stats two-batch rollup equals batch k71 bit-for-bit") {
    import graft.engine.{Round20cOps, Tables}
    import graft.streaming.StreamingDoremi
    import graft.streaming.StreamingDoremi.{DocIn, StatOut}
    val sp = spark
    import sp.implicits._
    implicit val s = spark
    implicit val sq = spark.sqlContext
    withRocksDbProvider {
      val docs = Tables.documents(spark, sf0001)
        .select(col("doc_id"), col("source"), col("text")).as[DocIn].collect()
      val in = MemoryStream[DocIn]
      val q = StreamingDoremi.stats(in.toDS()).writeStream
        .format("memory").queryName("dorem_t").outputMode(OutputMode.Update).start()
      try {
        val (b1, b2) = docs.splitAt(docs.length / 2)
        in.addData(b1.toIndexedSeq); q.processAllAvailable()
        in.addData(b2.toIndexedSeq); q.processAllAvailable()
        // n_docs grows monotonically -> latest per source = max-n row
        val latest = spark.table("dorem_t").as[StatOut].collect()
          .groupBy(_.source)
          .map { case (src, rows) => rows.maxBy(_.n_docs) }.toSeq
        val streamed = Round20cOps.k71FromZi(
          latest.toDF("source", "sum_zi", "n_docs")).collect()
          .map(_.toString).toSeq
        val batch = Round20cOps.k71.fn(spark, sf0001).collect()
          .map(_.toString).toSeq
        assert(batch.nonEmpty)
        assert(streamed == batch,
          s"doremi rollup diverged; first diff: " +
            s"${streamed.zip(batch).find(p => p._1 != p._2)}")
      } finally { q.stop() }
    }
  }

  test("streaming CMS: batch-cut sketch is bit-equal to the batch aggregate; estimates equal d66") {
    import graft.streaming.StreamingCms
    import graft.streaming.StreamingCms.{CmsIn, CmsOut}
    import graft.engine.Round21Ops
    val sp = spark
    import sp.implicits._
    implicit val s = spark
    implicit val sq = spark.sqlContext
    withRocksDbProvider {
      val keys = graft.engine.Tables.customer(spark, sf0001)
        .select(col("c_nationkey").cast("long")).collect()
        .map(r => CmsIn("all", r.getLong(0)))
      val in = MemoryStream[CmsIn]
      val q = StreamingCms.frequencySketch(in.toDS(),
          Round21Ops.CmsEps, Round21Ops.CmsConf, Round21Ops.CmsSeed)
        .writeStream.format("memory").queryName("cms_t")
        .outputMode(OutputMode.Update).start()
      try {
        // two batch cuts: counter addition is commutative, so the cut
        // position cannot matter -- the final state must equal one batch
        // aggregate over the union, BYTE FOR BYTE
        val (b1, b2) = keys.splitAt(keys.length / 3)
        in.addData(b1.toIndexedSeq); q.processAllAvailable()
        in.addData(b2.toIndexedSeq); q.processAllAvailable()
        val emissions = spark.table("cms_t").as[CmsOut].collect()
        val finalBytes = emissions.last.sketch
        val batchBytes = graft.engine.Tables.customer(spark, sf0001)
          .agg(expr(s"count_min_sketch(c_nationkey, ${Round21Ops.CmsEps}d, " +
            s"${Round21Ops.CmsConf}d, ${Round21Ops.CmsSeed})"))
          .head.getAs[Array[Byte]](0)
        assert(java.util.Arrays.equals(finalBytes, batchBytes),
          "streaming sketch bytes != batch count_min_sketch aggregate bytes")
        // and the estimates read from the streamed sketch equal d66
        val sk = org.apache.spark.util.sketch.CountMinSketch.readFrom(
          new java.io.ByteArrayInputStream(finalBytes))
        val d66 = Round21Ops.d66.fn(spark, sf0001).collect()
          .map(r => r.getAs[Number](0).longValue -> r.getLong(1)).toMap
        d66.foreach { case (k, c) =>
          assert(sk.estimateCount(k) == c, s"streamed estimate off for $k") }
      } finally q.stop()
    }
  }

  test("streaming timer-closed sessions: gap-close + watermark-close equal batch j03") {
    import graft.streaming.StreamingSessionClose
    import graft.streaming.StreamingSessionClose.{EventIn, SessionOut}
    val sp = spark
    import sp.implicits._
    implicit val s = spark
    implicit val sq = spark.sqlContext
    withRocksDbProvider {
      // global TIME split so per-user event order holds across batches
      // (the documented in-order contract); within a batch order is free
      val evs = graft.engine.Tables.events(spark, sf0001)
        .select(col("user_id"), col("ts")).orderBy("ts")
        .collect().map(r => EventIn(r.getLong(0), r.getTimestamp(1)))
      val (b1, b2) = evs.splitAt(evs.length / 2)
      val maxTs = evs.map(_.ts.getTime).max
      val sentinel = EventIn(-1L, new java.sql.Timestamp(maxTs + 2L * 3600 * 1000))
      val sentinel2 = EventIn(-1L, new java.sql.Timestamp(maxTs + 3L * 3600 * 1000))
      val in = MemoryStream[EventIn]
      val q = StreamingSessionClose.sessions(
          in.toDS().withWatermark("ts", "0 seconds"), 30L * 60 * 1000000)
        .writeStream.format("memory").queryName("sess_t")
        .outputMode(OutputMode.Append).start()
      try {
        in.addData(b1.toIndexedSeq); q.processAllAvailable()
        in.addData(b2.toIndexedSeq); q.processAllAvailable()
        // two sentinel rounds: the first raises the watermark past every
        // real session end, the second guarantees a microbatch runs WITH
        // that watermark so every remaining timer fires
        in.addData(sentinel); q.processAllAvailable()
        in.addData(sentinel2); q.processAllAvailable()
        val streamed = spark.table("sess_t").as[SessionOut].collect()
          .filter(_.user_id >= 0)
          .map(o => (o.user_id, o.s_start.getTime, o.s_start.getNanos,
                     o.s_end.getTime, o.s_end.getNanos, o.n_events)).toSet
        val batch = graft.engine.StreamBatchOps.j03.fn(spark, sf0001).collect()
          .map(r => (r.getLong(0), r.getTimestamp(1).getTime,
                     r.getTimestamp(1).getNanos, r.getTimestamp(2).getTime,
                     r.getTimestamp(2).getNanos, r.getLong(3))).toSet
        assert(batch.nonEmpty)
        // every session emitted exactly once (Append discipline)
        assert(streamed.size == spark.table("sess_t").as[SessionOut]
          .collect().count(_.user_id >= 0),
          "a session was emitted more than once")
        assert(streamed == batch,
          s"timer-closed sessions diverged from batch j03; " +
            s"onlyStream=${(streamed -- batch).take(3)} " +
            s"onlyBatch=${(batch -- streamed).take(3)}")
      } finally q.stop()
    }
  }
}
