package perfbench

import java.sql.Timestamp
import scala.reflect.runtime.universe.TypeTag
import scala.util.Random
import org.apache.spark.sql.{Dataset, Encoder, Row, SparkSession, functions => F}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.{OutputMode, StreamingQuery}
import graft.streaming._

/** Streaming folds: the `events` table replayed in (ts, event_id) order as
  * seed-cut micro-batches through a panel of `transformWithState` twins,
  * each compared at the end of the pass with its declared batch twin the
  * way StreamingSpec pins the pair. Seven keep one `ValueState` per key;
  * SessionClose (list state and event-time timers) is the contrast. */
object Folds {
  /** Micro-batches per replay (the cut points are drawn from the seed). */
  val batches = 4

  /** How far, as a share of the replay's events, the seed moves each cut
    * from an even split: enough to vary the batch boundaries, little
    * enough that every batch has about the same size whatever the seed. */
  val cutJitter = 0.02

  /** One event of the replay, with the derived fields the twins read. */
  final case class Ev(user: Long, tsUs: Long, ts: Timestamp, id: Long, kind: String,
                      cents: Long, hour: Long)

  /** A streaming twin and how its final output maps onto its batch twin's
    * result. `rows` are the twin's inputs, each with the event time the cut
    * uses, already in the order the twin requires. `result` turns the
    * stream's output (all emissions) into the batch twin's columns and
    * rows, whose digest must equal the batch twin's oracle digest. */
  abstract class Twin[T <: Product : TypeTag](val name: String, val batch: String) {
    def rows(ev: Array[Ev]): Array[(Long, T)]
    def query(in: Dataset[T])(implicit s: SparkSession): Dataset[_]
    def mode: OutputMode = OutputMode.Update()
    /** Extra micro-batches after the replay (watermark sentinels). */
    def after(ev: Array[Ev]): Seq[T] = Nil
    def result(out: Array[Row], in: Seq[T]): (Seq[String], Seq[Row])

    def encoder(implicit s: SparkSession): Encoder[T] = s.implicits.newProductEncoder[T]
  }

  /** The final emission per key: the one that has folded all the key's rows. */
  private def last[K](out: Array[Row], key: Row => K, n: Row => Long, in: Seq[K]): Seq[Row] = {
    val want = in.groupBy(identity).map { case (k, xs) => k -> xs.size.toLong }
    out.filter(r => want.get(key(r)).contains(n(r))).groupBy(key).values.map(_.head).toSeq
  }

  /** Per-user funnel levels (monotone, so the highest emitted) rolled up
    * into the batch query's level -> users table. */
  private def rollup(out: Array[Row]): (Seq[String], Seq[Row]) =
    Seq("funnel_level", "n_users") -> out.groupBy(_.getAs[Long]("key"))
      .map(_._2.map(_.getAs[Int]("funnel_level")).max).groupBy(identity)
      .map { case (l, xs) => Row(l, xs.size.toLong) }.toSeq

  private def step(kind: String): Int = kind match {
    case "signup" => 1
    case "click" => 2
    case "purchase" => 3
    case _ => 0
  }

  private def long(r: Row, c: String): Long = r.getAs[Long](c)

  val panel: Seq[Twin[_ <: Product]] = Seq(
    new Twin[StreamingEma.EmaIn]("Ema", "e20_exp_moving_avg") {
      def rows(ev: Array[Ev]) = ev.map(e => e.tsUs -> StreamingEma.EmaIn(e.user, e.tsUs, e.id, e.cents))
      def query(in: Dataset[StreamingEma.EmaIn])(implicit s: SparkSession) = StreamingEma.ema(in)
      def result(out: Array[Row], in: Seq[StreamingEma.EmaIn]) =
        Seq("user_id", "n_events", "ema_scaled", "ema_cents") ->
          last(out, long(_, "key"), long(_, "n"), in.map(_.key)).map(r =>
            Row(long(r, "key"), long(r, "n"), long(r, "ema_scaled"), long(r, "ema_cents")))
    },
    new Twin[StreamingM4.M4In]("M4", "e18_m4_downsample") {
      def rows(ev: Array[Ev]) = ev.map(e => e.tsUs -> StreamingM4.M4In(e.kind, e.hour, e.tsUs, e.id, e.cents))
      def query(in: Dataset[StreamingM4.M4In])(implicit s: SparkSession) = StreamingM4.downsample(in)
      def result(out: Array[Row], in: Seq[StreamingM4.M4In]) =
        Seq("event_type", "bkt", "v_min", "v_max", "v_first", "v_last", "n") ->
          last(out, r => (r.getAs[String]("series"), long(r, "bkt")), long(_, "n"),
            in.map(r => (r.series, r.bkt))).map(r => Row(r.getAs[String]("series"),
            long(r, "bkt"), long(r, "v_min"), long(r, "v_max"), long(r, "v_first"),
            long(r, "v_last"), long(r, "n")))
    },
    new Twin[StreamingTimingQuantiles.TimingIn]("TimingQuantiles", "d28_quantile_timing") {
      def rows(ev: Array[Ev]) = ev.map(e => e.tsUs -> StreamingTimingQuantiles.TimingIn(e.kind, e.id, e.cents))
      def query(in: Dataset[StreamingTimingQuantiles.TimingIn])(implicit s: SparkSession) =
        StreamingTimingQuantiles.quantiles(in)
      def result(out: Array[Row], in: Seq[StreamingTimingQuantiles.TimingIn]) =
        Seq("event_type", "p50_ms", "p90_ms", "p99_ms", "n") ->
          last(out, _.getAs[String]("group"), long(_, "n"), in.map(_.group)).map(r =>
            Row(r.getAs[String]("group"), long(r, "p50_ms"), long(r, "p90_ms"),
              long(r, "p99_ms"), long(r, "n")))
    },
    new Twin[StreamingStrictFunnel.FunnelIn]("StrictFunnel", "j10_funnel_strict_order") {
      def rows(ev: Array[Ev]) = ev.map(e => e.tsUs ->
        StreamingStrictFunnel.FunnelIn(e.user, e.tsUs, e.id, step(e.kind)))
      def query(in: Dataset[StreamingStrictFunnel.FunnelIn])(implicit s: SparkSession) =
        StreamingStrictFunnel.funnel(in)
      def result(out: Array[Row], in: Seq[StreamingStrictFunnel.FunnelIn]) = rollup(out)
    },
    new Twin[StreamingTimeDecay.DIn]("TimeDecay", "e21_time_decayed_sum") {
      def rows(ev: Array[Ev]) = ev.map(e => e.tsUs -> StreamingTimeDecay.DIn(e.user, e.tsUs, e.cents))
      def query(in: Dataset[StreamingTimeDecay.DIn])(implicit s: SparkSession) =
        StreamingTimeDecay.decayedSum(in)
      def result(out: Array[Row], in: Seq[StreamingTimeDecay.DIn]) =
        Seq("user_id", "units", "decayed_sum", "n_events") ->
          last(out, long(_, "user_id"), long(_, "n_events"), in.map(_.user_id)).map(r =>
            Row(long(r, "user_id"), long(r, "units"), r.getAs[Double]("decayed_sum"),
              long(r, "n_events")))
    },
    new Twin[StreamingConcurrency.IvIn]("Concurrency", "e27_running_concurrency") {
      def rows(ev: Array[Ev]) = ev.filter(_.kind == "purchase").map(e => e.tsUs ->
        StreamingConcurrency.IvIn(e.user, e.tsUs, e.tsUs + 7200000000L, e.id))
      def query(in: Dataset[StreamingConcurrency.IvIn])(implicit s: SparkSession) =
        StreamingConcurrency.concurrency(in)
      override def mode = OutputMode.Append()
      def result(out: Array[Row], in: Seq[StreamingConcurrency.IvIn]) =
        Seq("user_id", "event_id", "concurrency") -> out.toSeq.map(r =>
          Row(long(r, "user_id"), long(r, "event_id"), long(r, "concurrency")))
    },
    new Twin[StreamingDedupFunnel.DedupIn]("DedupFunnel", "j11_funnel_strict_dedup") {
      def rows(ev: Array[Ev]) = ev.filter(e => step(e.kind) > 0)
        .map(e => e.tsUs -> StreamingDedupFunnel.DedupIn(e.user, e.tsUs, step(e.kind), e.id))
        .sortBy { case (_, r) => (r.tsUs, r.stepIdx, r.eventId) }
      def query(in: Dataset[StreamingDedupFunnel.DedupIn])(implicit s: SparkSession) =
        StreamingDedupFunnel.funnel(in)
      def result(out: Array[Row], in: Seq[StreamingDedupFunnel.DedupIn]) = rollup(out)
    },
    new Twin[StreamingSessionClose.EventIn]("SessionClose", "j03_session") {
      def rows(ev: Array[Ev]) = ev.map(e => e.tsUs -> StreamingSessionClose.EventIn(e.user, e.ts))
      def query(in: Dataset[StreamingSessionClose.EventIn])(implicit s: SparkSession) =
        StreamingSessionClose.sessions(in.withWatermark("ts", "0 seconds"), 30L * 60 * 1000000)
      override def mode = OutputMode.Append()
      // two sentinels: the first raises the watermark past every session
      // end, the second runs a micro-batch with that watermark
      override def after(ev: Array[Ev]) = {
        val max = ev.map(_.ts.getTime).max
        Seq(2L, 3L).map(h => StreamingSessionClose.EventIn(-1L, new Timestamp(max + h * 3600 * 1000)))
      }
      // Append mode: every session is emitted once, so the output rows
      // (sentinels aside) are the batch result as they stand
      def result(out: Array[Row], in: Seq[StreamingSessionClose.EventIn]) =
        Seq("user_id", "s_start", "s_end", "n_events") -> out.toSeq
          .filter(long(_, "user_id") >= 0).map(r => Row(long(r, "user_id"),
            r.getAs[Timestamp]("s_start"), r.getAs[Timestamp]("s_end"), long(r, "n_events")))
    })

  /** The twins a timed pass runs: two single-`ValueState` folds, the
    * order-sensitive Ema and the commutative M4. The whole panel, with the
    * SessionClose contrast (list state and event-time timers), runs with
    * `--mix full`. */
  def active(a: Args): Seq[Twin[_ <: Product]] =
    if (a.mix == "full") panel
    else panel.filter(t => Set("Ema", "M4")(t.name))

  @volatile private var events: Array[Ev] = _

  /** Read the replay once, in the batch queries' (ts, event_id) order. */
  def prepare(spark: SparkSession, a: Args): Unit = {
    events = graft.engine.Tables.events(spark, a.data)
      .select(F.col("user_id"), F.expr("unix_micros(ts)"), F.col("ts"), F.col("event_id"),
        F.col("event_type"), (F.col("value").cast("decimal(18,2)") * 100).cast("long"),
        F.expr("unix_millis(ts) div 3600000"))
      .collect()
      .map(r => Ev(r.getLong(0), r.getLong(1), r.getTimestamp(2), r.getLong(3), r.getString(4),
        r.getLong(5), r.getLong(6)))
      .sortBy(e => (e.tsUs, e.id))
    warmUp(spark, a)
  }

  /** Share of the replay's events in the warm-up micro-batch. */
  val warmShare = 0.1

  /** The first `warmShare` of the events through each timed twin as one
    * micro-batch, so the timed pass does not meet a JVM that has not yet
    * run a stateful streaming query; nothing of it is kept. */
  private def warmUp(spark: SparkSession, a: Args): Unit = {
    val c = new Ctx(spark, a, None)
    val hi = events((events.length * warmShare).toInt).tsUs
    val running = active(a).map(t => start(c, t, "warm")(spark))
    try running.foreach(_.feedRange(c, Long.MinValue, hi, 0))
    finally running.foreach(_.q.stop())
    running.foreach(r => spark.catalog.dropTempView(r.table))
    Files.delete(new java.io.File(a.work, "folds-warm"))
  }

  /** Seeded cut points: the event time at each even share of the replay,
    * moved by the seed by up to `cutJitter` of its events. */
  def cuts(seed: Long): Seq[Long] = {
    val rnd = new Random(seed)
    val n = events.length
    (1 until batches).map { b =>
      val at = b.toDouble / batches + cutJitter * (2 * rnd.nextDouble() - 1)
      events((n * at).toInt).tsUs
    }
  }

  /** A twin's streaming query during one pass. */
  private final class Running[T <: Product](val twin: Twin[T], in: Array[(Long, T)],
                                            mem: MemoryStream[T], val q: StreamingQuery,
                                            val table: String) {
    /** Feed the twin's rows with event time in [lo, hi) as batch `b`;
      * returns (seconds, rows). */
    def feedRange(c: Ctx, lo: Long, hi: Long, b: Int): (Double, Long) = {
      val xs = c.untimed(in.iterator.collect { case (t, x) if t >= lo && t < hi => x }.toVector)
      (feed(c, xs, b), xs.length.toLong)
    }

    def feedAfter(c: Ctx, from: Int): (Double, Long) =
      c.untimed(twin.after(events)).zipWithIndex.map { case (x, i) => (feed(c, Seq(x), from + i), 1L) }
        .foldLeft((0.0, 0L)) { case ((a, n), (s, m)) => (a + s, n + m) }

    def result(out: Array[Row]): (Seq[String], Seq[Row]) = twin.result(out, in.iterator.map(_._2).toSeq)

    /** One timed micro-batch: `addData` until committed. */
    private def feed(c: Ctx, xs: Seq[T], b: Int): Double = {
      c.attempted += 1
      try c.op(s"${twin.name} batch $b", "streaming") { _ =>
        val t0 = System.nanoTime()
        mem.addData(xs)
        q.processAllAvailable()
        val s = (System.nanoTime() - t0) / 1e9
        c.sample("op", s, s"${twin.name} batch $b")
        s
      } catch { case e: Exception => c.fail(s"${twin.name} batch $b: ${e.getMessage}"); 0.0 }
    }
  }

  /** One replay through the panel, checked against the batch twins. */
  def pass(c: Ctx, p: Int): Unit = {
    implicit val spark: SparkSession = c.spark
    val (expected, bounds) = c.untimed((Expected.load(c.args), cuts(c.args.seed)))
    val running = active(c.args).map(t => start(c, t, s"$p"))
    var fed = 0L
    var busy = 0.0
    def add(sn: (Double, Long)): Unit = { busy += sn._1; fed += sn._2 }
    try {
      for (b <- 0 to bounds.size) {
        val lo = if (b == 0) Long.MinValue else bounds(b - 1)
        val hi = if (b == bounds.size) Long.MaxValue else bounds(b)
        running.foreach(r => add(r.feedRange(c, lo, hi, b)))
      }
      running.foreach(r => add(r.feedAfter(c, bounds.size + 1)))
      c.sample("fold_events_per_s", fed / busy)
      if (c.tracer.isDefined) c.untimed(running.foreach(r => Streams.progress(c, r.q)))
    } finally running.foreach(_.q.stop())
    c.untimed {
      running.foreach { r =>
        c.attempted += 1
        val out = spark.table(r.table).collect()
        spark.catalog.dropTempView(r.table)
        try {
          val (cols, rows) = r.result(out)
          val got = Digest.of(cols, rows.toArray)
          if (!expected.get(r.twin.batch).contains(got))
            c.fail(s"${r.twin.name}: final output differs from batch twin ${r.twin.batch}")
        } catch { case e: Exception => c.fail(s"${r.twin.name}: ${e.getMessage}") }
      }
      Files.delete(new java.io.File(c.args.work, s"folds-$p"))
    }
  }

  private def start[T <: Product](c: Ctx, t: Twin[T], pass: String)(implicit s: SparkSession): Running[T] = {
    implicit val enc: Encoder[T] = t.encoder
    val mem = MemoryStream[T](s)
    val table = s"fold_${t.name.toLowerCase}_$pass"
    val q = t.query(mem.toDS()).writeStream.format("memory").queryName(table)
      .outputMode(t.mode)
      .option("checkpointLocation", new java.io.File(c.args.work, s"folds-$pass/${t.name}").getPath)
      .start()
    new Running(t, c.untimed(t.rows(events)), mem, q, table)
  }
}
