package perfbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.WholeStageCodegenExec

/** Command-line arguments of one benchmark run (see `run.py`). */
final case class Args(
    workload: String, seed: Long, seconds: Double, trace: Boolean,
    data: String, work: String, out: String, expected: String,
    maxPasses: Int, mix: String)

object Args {
  def parse(a: Array[String]): Args = {
    val m = a.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def get(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Args(get("workload"), get("seed").toLong, get("seconds").toDouble,
      m.getOrElse("trace", "0") == "1", get("data"), get("work"), get("out"),
      m.getOrElse("expected", ""), Int.MaxValue, m.getOrElse("mix", "bench"))
  }
}

/** State shared by a workload and the harness during one run: the latency
  * samples, pass times, failures, and (traced runs only) the tracer. */
final class Ctx(val spark: SparkSession, val args: Args, val tracer: Option[Tracer]) {
  val samples = mutable.LinkedHashMap.empty[String, ArrayBuffer[Double]]
  val passes = ArrayBuffer.empty[Double]
  var attempted = 0L
  var failed = 0L
  val errors = ArrayBuffer.empty[String]
  /** Workload figures beyond the contract's end-to-end set (seconds, ratios). */
  val figures = mutable.LinkedHashMap.empty[String, (Double, String)]
  /** Per-layer counters, filled in traced runs. */
  val layer = mutable.LinkedHashMap.empty[String, Double]
  val runSpan: Int = tracer.map(_.newId()).getOrElse(0)
  private val deadline = System.nanoTime() + (args.seconds * 1e9).toLong

  /** Each timed operation by label, in the order run. */
  val timed = ArrayBuffer.empty[(String, Double)]

  /** Record a sample; a failed operation (NaN) is counted in `failed` only. */
  def sample(name: String, seconds: Double, label: String = ""): Unit =
    if (!seconds.isNaN) {
      samples.getOrElseUpdate(name, ArrayBuffer.empty) += seconds
      if (label.nonEmpty) timed += label -> seconds
    }

  def addLayer(name: String, v: Double): Unit = layer(name) = layer.getOrElse(name, 0.0) + v
  def maxLayer(name: String, v: Double): Unit = layer(name) = math.max(layer.getOrElse(name, 0.0), v)

  def fail(what: String): Unit = { failed += 1; if (errors.size < 50) errors += what }

  /** Whole passes until the measuring time is used up (at least one). */
  def morePasses: Boolean =
    passes.isEmpty || (System.nanoTime() < deadline && passes.size < args.maxPasses)

  private var excluded = 0L

  /** Time one pass of the workload's fixed script, less its checks. */
  def pass(body: Int => Unit): Unit = {
    val i = passes.size
    excluded = 0L
    val t0 = System.nanoTime()
    body(i)
    passes += (System.nanoTime() - t0 - excluded) / 1e9
  }

  /** Harness work inside a pass (result checks, the reference models,
    * accounting, clean-up): its time is left out of the pass and its Spark
    * work out of the counters. */
  def untimed[T](body: => T): T = {
    val t0 = System.nanoTime()
    try body finally {
      tracer.foreach(_.take(keep = false))
      excluded += System.nanoTime() - t0
    }
  }

  /** Pinned checkpoint and cache blocks (bytes) still held by the session. */
  def pinnedBytes: Long =
    spark.sparkContext.getRDDStorageInfo.map(r => r.memSize + r.diskSize).sum

  /** Record an operation span (traced runs) around `body`, which receives
    * the operation's span id; phases inside it attach to that id. */
  def op[T](name: String, layerName: String)(body: Int => T): T = tracer match {
    case None => body(0)
    case Some(t) =>
      val id = t.newId()
      val s = t.nowMs
      val codegen0 = WholeStageCodegenExec.codeGenTime
      try body(id) finally {
        val (w, js) = t.take()
        Layers.work(this, w)
        addLayer("exec.codegen_compile_s", (WholeStageCodegenExec.codeGenTime - codegen0) / 1e9)
        t.spans += Span(id, runSpan, id, name, layerName, s, t.nowMs, w.json)
        js.foreach { case (j, a, b) => t.spans += Span(t.newId(), id, id, s"job $j", "spark", a, b) }
        val pinned = pinnedBytes.toDouble
        layer("session.pinned_storage_bytes") = pinned
        maxLayer("session.pinned_storage_bytes.max", pinned)
      }
  }
}

object Main {

  /** Set-ups per run: one cold, then the warm re-set-ups `setup_s` is the
    * median of. */
  val Setups = 4

  val workloads: Map[String, Ctx => Unit] = Map(
    "replica_olap" -> (c => QueryMix.run(c, QueryMix.relationalMix(c.args))),
    "llm_pipeline" -> (c => QueryMix.run(c, QueryMix.llmMix(c.args))),
    "stream_ingest" -> { c =>
      while (c.morePasses) c.pass { i => Binlog.pass(c, i); Folds.pass(c, i) }
      Streams.figures(c, Seq("snapshot", "final_read", "compact", "binlog_events_per_s",
        "stored_bytes_per_event_byte", "fold_events_per_s"))
    })

  val prepare: Map[String, (SparkSession, Args) => Unit] = Map(
    "replica_olap" -> QueryMix.warmUp(QueryMix.relationalWarmUp),
    "llm_pipeline" -> QueryMix.warmUp(QueryMix.llmWarmUp),
    "stream_ingest" -> { (s, a) => Binlog.prepare(s, a); Folds.prepare(s, a) })

  def session(a: Args): SparkSession = {
    val cores = Runtime.getRuntime.availableProcessors()
    val local = new File(a.work, "spark-local"); local.mkdirs()
    val s = graft.GraftSession.builder("perfbench", Some(s"local[$cores]"), Some(cores))
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", local.getAbsolutePath)
      .config("spark.sql.warehouse.dir", new File(a.work, "warehouse").getAbsolutePath)
      .config("spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
      .config("spark.sql.streaming.checkpointLocation", new File(a.work, "ckpt").getAbsolutePath)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def main(argv: Array[String]): Unit = {
    val a = Args.parse(argv)
    require(workloads.contains(a.workload), s"unknown workload ${a.workload}")
    new File(a.work).mkdirs()
    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime
    // set-up is repeated: session start, the workload's input build and its
    // warm-up, then the session is stopped and started again; the last
    // session is the one that is measured. The first set-up also pays for
    // the JVM start and the cold session; `setup_s` is the median of the
    // warm re-set-ups after it, the cold one is a workload figure
    val setups = ArrayBuffer.empty[Double]
    var spark: SparkSession = null
    for (i <- 0 until Setups) {
      if (spark != null) { spark.stop(); SparkSession.clearActiveSession(); SparkSession.clearDefaultSession() }
      val t0 = if (i > 0) System.nanoTime()
        else System.nanoTime() - (System.currentTimeMillis() - jvmStart) * 1000000L
      spark = session(a)
      val t1 = System.nanoTime()
      prepare(a.workload)(spark, a)
      setups += (System.nanoTime() - t0) / 1e9
      System.err.println(f"perfbench: set-up ${i + 1}: session ${(t1 - t0) / 1e9}%.2f s, " +
        f"prepare ${(System.nanoTime() - t1) / 1e9}%.2f s")
    }
    val t0 = System.nanoTime()
    val ctx = if (!a.trace) {
      val c = new Ctx(spark, a, None)
      workloads(a.workload)(c)
      c
    } else {
      // three passes on the same seed: an untraced one that warms the JVM,
      // the traced one, and an untraced one to compare it with; that one
      // runs on a JVM at least as warm, so the overhead errs high
      val one = a.copy(maxPasses = 1)
      val warm = new Ctx(spark, one, None)
      workloads(a.workload)(warm)
      val c = new Ctx(spark, one, Some(new Tracer(spark)))
      workloads(a.workload)(c)
      val t = c.tracer.get
      t.spans += Span(c.runSpan, 0, 0, s"run ${a.workload}", "harness", 0.0, t.nowMs)
      t.stop()
      val plain = new Ctx(spark, one, None)
      workloads(a.workload)(plain)
      c.figures("untraced_pass_s") = (plain.passes.head, "s")
      c.layer("trace.overhead_s") = c.passes.head - plain.passes.head
      c.layer("exec.core_busy_ratio") = c.layer.getOrElse("exec.task_run_s", 0.0) /
        (c.passes.head * spark.sparkContext.defaultParallelism)
      for (p <- Seq(warm, plain)) {
        c.attempted += p.attempted; c.failed += p.failed; c.errors ++= p.errors
      }
      c
    }
    val runEnd = System.nanoTime()
    val heapMb = retainedHeapMb()
    val header = Header.of(spark, a)
    ctx.figures("cold_setup_s") = (setups.head, "s")
    val result = Report.result(ctx, setups.toSeq, heapMb, (runEnd - t0) / 1e9, header)
    Files.write(Paths.get(a.out), result.getBytes(UTF_8))
    ctx.tracer.foreach(t => Report.writeTrace(ctx, t, header))
    spark.stop()
  }

  /** Driver heap in MB after a full GC, with the session still open: the
    * lowest of a few collections spaced out so that Spark's context cleaner
    * can drop what the last collection made unreachable. */
  def retainedHeapMb(): Double = {
    val mem = ManagementFactory.getMemoryMXBean
    (1 to 4).map { _ =>
      System.gc()
      Thread.sleep(150)
      mem.getHeapMemoryUsage.getUsed / 1048576.0
    }.min
  }
}
