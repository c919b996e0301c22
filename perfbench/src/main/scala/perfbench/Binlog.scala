package perfbench

import java.io.File
import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer
import scala.util.Random
import org.apache.spark.sql.{SparkSession, functions => F}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import graft.connectors.{SchemaReplicator, TableCdcEvent}

/** Whole-schema binlog replication through `SchemaReplicator.start`.
  *
  * One pass: snapshot orders, customer, part and supplier as one
  * micro-batch, then a seeded binlog tail in fixed-size micro-batches
  * (creates, updates and deletes, skewed to hot keys, a small share with an
  * out-of-order `tsMicros`), a FINAL read of every table every few batches
  * and a compaction every few more. Each read is compared with an
  * independent in-memory replay of the same log. */
object Binlog {
  val tables: Seq[(String, String)] = Seq(
    "orders" -> "o_orderkey", "customer" -> "c_custkey",
    "part" -> "p_partkey", "supplier" -> "s_suppkey")
  val batchEvents = 500
  val tailBatches = 3
  val compactEvery = 2
  val readEvery = 3
  val hotShare = 0.3
  val lateShare = 0.03

  final case class Input(snapshot: Array[TableCdcEvent], tail: Array[Array[TableCdcEvent]])
  @volatile private var input: Input = _

  /** Read the snapshot tables and generate the seeded tail. */
  def prepare(spark: SparkSession, a: Args): Unit = {
    val snap = tables.flatMap { case (t, k) =>
      graft.engine.Tables.table(spark, a.data, t)
        .select(F.col(k).cast("long"), F.to_json(F.struct(F.col("*"))))
        .collect().map(r => TableCdcEvent(t, r.getLong(0), 0L, 0L, "c", r.getString(1)))
    }.toArray
    input = Input(snap, generate(snap, a.seed))
  }

  /** The tail: positions 1.. in log order; `tsMicros` follows the position
    * except for the late share, which lands up to 200 positions back. */
  def generate(snap: Array[TableCdcEvent], seed: Long): Array[Array[TableCdcEvent]] = {
    val rnd = new Random(seed)
    val live = tables.map { case (t, _) =>
      t -> ArrayBuffer.from(snap.filter(_.table == t).map(_.key)) }.toMap
    val weights = tables.map { case (t, _) => t -> live(t).size.toDouble }
    val total = weights.map(_._2).sum
    val nextKey = mutable.Map(tables.map { case (t, _) =>
      t -> (live(t).max + 1) }: _*)
    val base = 1700000000000000L
    var pos = 0L
    Array.fill(tailBatches) {
      Array.fill(batchEvents) {
        pos += 1
        var x = rnd.nextDouble() * total
        val t = weights.find { case (_, w) => x -= w; x < 0 }.map(_._1).getOrElse(tables.head._1)
        val keys = live(t)
        val hot = math.max(1, keys.size / 100)
        val r = rnd.nextDouble()
        val late = rnd.nextDouble() < lateShare
        val ts = base + pos * 1000L - (if (late) (1 + rnd.nextInt(200)) * 1000L else 0L)
        if (r < 0.15 || keys.size < 10) {
          val k = nextKey(t); nextKey(t) = k + 1; keys += k
          TableCdcEvent(t, k, pos, ts, "c", s"""{"$t":$k,"v":$pos}""")
        } else {
          val i = if (rnd.nextDouble() < hotShare) rnd.nextInt(hot) else rnd.nextInt(keys.size)
          val k = keys(i)
          if (r < 0.27) {
            keys(i) = keys(keys.size - 1); keys.remove(keys.size - 1)
            TableCdcEvent(t, k, pos, ts, "d", "")
          } else TableCdcEvent(t, k, pos, ts, "u", s"""{"$t":$k,"v":$pos}""")
        }
      }
    }
  }

  def eventBytes(e: TableCdcEvent): Long = e.table.length + 24L + e.op.length + e.payload.length

  /** One replication pass into a fresh replica directory. */
  def pass(c: Ctx, i: Int): Unit = {
    implicit val spark: SparkSession = c.spark
    import spark.implicits._
    val in = input
    val dir = new File(c.args.work, s"binlog-$i")
    val out = new File(dir, "out").getPath
    val ref = new Replay
    val written = new Written(new File(out), spark.sparkContext.hadoopConfiguration)
    val mem = MemoryStream[TableCdcEvent](spark)
    val q = SchemaReplicator.start(mem.toDS(), out, new File(dir, "ckpt").getPath)
    try {
      def batch(evs: Array[TableCdcEvent], name: String): Double = {
        c.attempted += 1
        c.untimed(ref.apply(evs))
        val s = try c.op(name, "connectors") { _ =>
          val t0 = System.nanoTime()
          mem.addData(evs.toIndexedSeq)
          q.processAllAvailable()
          (System.nanoTime() - t0) / 1e9
        } catch { case e: Exception => c.fail(s"$name: ${e.getMessage}"); Double.NaN }
        // before a compaction folds the batch directory away
        if (c.tracer.isDefined) c.untimed(written.collect())
        s
      }
      c.sample("snapshot", batch(in.snapshot, "snapshot"))
      var tailS = 0.0
      in.tail.zipWithIndex.foreach { case (evs, b) =>
        val s = batch(evs, s"binlog batch ${b + 1}")
        c.sample("op", s, s"binlog batch ${b + 1}")
        if (!s.isNaN) tailS += s
        if ((b + 1) % compactEvery == 0) compact(c, out, ref)
        if ((b + 1) % readEvery == 0) read(c, out, ref)
      }
      c.untimed {
        c.sample("binlog_events_per_s", in.tail.map(_.length).sum / tailS)
        val fed = in.snapshot ++ in.tail.flatten
        val stored = Files.bytes(new File(out))
        c.sample("stored_bytes_per_event_byte", stored.toDouble / fed.map(eventBytes).sum)
        if (c.tracer.isDefined) {
          c.addLayer("connectors.sink_bytes", stored.toDouble)
          c.addLayer("connectors.sink_files", Files.count(new File(out)).toDouble)
          c.addLayer("connectors.changes_per_event", written.rows.toDouble / fed.length)
          Streams.progress(c, q)
        }
      }
    } finally q.stop()
    c.untimed(Files.delete(dir))
  }

  /** FINAL read of every table, timed, then checked against the replay. */
  private def read(c: Ctx, out: String, ref: Replay)(implicit spark: SparkSession): Unit = {
    c.attempted += 1
    try {
      val got = c.op("final read", "connectors") { _ =>
        val t0 = System.nanoTime()
        val rows = tables.map { case (t, _) =>
          t -> SchemaReplicator.materializedState(out, t).collect() }
        c.sample("final_read", (System.nanoTime() - t0) / 1e9)
        rows
      }
      c.untimed {
        if (c.tracer.isDefined) {
          c.addLayer("connectors.batch_dirs_at_read",
            new File(out).listFiles().count(_.getName.startsWith("batch_")).toDouble)
          c.addLayer("connectors.read_files_scanned", Files.count(new File(out)).toDouble)
        }
        checkRead(c, out, ref, got)
      }
    } catch { case e: Exception => c.fail(s"final read: ${e.getMessage}") }
  }

  private def checkRead(c: Ctx, out: String, ref: Replay,
                        got: Seq[(String, Array[graft.connectors.CdcEvent])])
                       (implicit spark: SparkSession): Unit = {
    val bad = got.collect { case (t, rows) if !ref.matches(t, rows) => t }
    if (bad.nonEmpty) c.fail(s"final read differs from the replay for ${bad.mkString(", ")}")
    val pos = SchemaReplicator.committedPosition(out)
    if (pos != ref.committedPosition)
      c.fail(s"committedPosition $pos != replay ${ref.committedPosition}")
    val horizon = SchemaReplicator.compactionHorizon(out)
    if (horizon > ref.lastPosition)
      c.fail(s"read at position ${ref.lastPosition} is behind the compaction horizon $horizon")
  }

  private def compact(c: Ctx, out: String, ref: Replay)(implicit spark: SparkSession): Unit = {
    c.attempted += 1
    try {
      c.op("compact", "connectors") { _ =>
        val t0 = System.nanoTime()
        SchemaReplicator.compact(out)
        c.sample("compact", (System.nanoTime() - t0) / 1e9)
      }
      c.untimed {
        ref.compacted()
        if (c.tracer.isDefined)
          c.addLayer("connectors.compact_bytes_rewritten", new File(out).listFiles()
            .filter(_.getName.endsWith("_compacted")).map(Files.bytes).sum.toDouble)
      }
    } catch { case e: Exception => c.fail(s"compact: ${e.getMessage}") }
  }

  /** Rows the replicator has written: the parquet row counts, read from the
    * file footers, of each micro-batch's `batch_N` directory once committed.
    * Compacted directories are rewrites, not new changes, and are left out. */
  final class Written(out: File, conf: Configuration) {
    private val seen = mutable.Set.empty[String]
    var rows = 0L

    def collect(): Unit = Option(out.listFiles()).iterator.flatten
      .filter(d => d.isDirectory && d.getName.startsWith("batch_") &&
        !d.getName.endsWith("_compacted") && seen.add(d.getName))
      .foreach(d => rows += Files.rows(d, conf))
  }

  /** The independent reference: the latest event per (table, key) by
    * (tsMicros, position), with the replicator's emit-on-change rule so the
    * expected committed position is known across compactions. */
  final class Replay {
    private val latest = mutable.HashMap.empty[(String, Long), TableCdcEvent]
    private var sinceCompaction = 0L
    private var compactedMax = 0L
    var lastPosition = 0L

    private def newer(a: TableCdcEvent, b: TableCdcEvent): Boolean =
      a.tsMicros > b.tsMicros || (a.tsMicros == b.tsMicros && a.position > b.position)

    def apply(batch: Array[TableCdcEvent]): Unit = {
      batch.groupBy(e => (e.table, e.key)).foreach { case (k, evs) =>
        val top = evs.reduce((a, b) => if (newer(a, b)) a else b)
        if (latest.get(k).forall(prev => newer(top, prev))) {
          latest(k) = top
          sinceCompaction = math.max(sinceCompaction, top.position)
        }
      }
      lastPosition = math.max(lastPosition, batch.map(_.position).max)
    }

    def compacted(): Unit = {
      compactedMax = if (latest.isEmpty) 0L else latest.valuesIterator.map(_.position).max
      sinceCompaction = 0L
    }

    def committedPosition: Long = math.max(compactedMax, sinceCompaction)

    def matches(table: String, rows: Array[graft.connectors.CdcEvent]): Boolean = {
      val want = latest.iterator.collect { case ((t, _), e) if t == table && e.op != "d" =>
        (e.key, e.position, e.tsMicros, e.op, e.payload) }.toSet
      rows.length == want.size &&
        rows.iterator.map(e => (e.key, e.position, e.tsMicros, e.op, e.payload)).toSet == want
    }
  }
}

/** File-system helpers for the replica's output directory. */
object Files {
  private def walk(f: File): Iterator[File] =
    if (f.isDirectory) Option(f.listFiles()).iterator.flatten.flatMap(walk) else Iterator(f)

  private def data(f: File): Boolean = f.getName.endsWith(".parquet")

  def bytes(f: File): Long = walk(f).filter(data).map(_.length).sum
  def rows(f: File, conf: Configuration): Long = walk(f).filter(data).map { p =>
    val r = ParquetFileReader.open(HadoopInputFile.fromPath(new Path(p.toURI), conf))
    try r.getRecordCount finally r.close()
  }.sum
  def count(f: File): Long = walk(f).count(data).toLong
  def delete(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(delete))
    f.delete(); ()
  }
}
