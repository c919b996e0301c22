package perfbench

import java.io.File
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files
import org.apache.spark.sql.SparkSession

/** The run header carried by every result and trace. */
object Header {
  def of(spark: SparkSession, a: Args): Map[String, Any] = {
    val conf = spark.conf
    Map(
      "workload" -> a.workload, "seed" -> a.seed, "seconds" -> a.seconds,
      "trace" -> a.trace,
      "nproc" -> Runtime.getRuntime.availableProcessors(),
      "default_parallelism" -> spark.sparkContext.defaultParallelism,
      "shuffle_partitions" -> conf.get("spark.sql.shuffle.partitions"),
      "master" -> spark.sparkContext.master,
      "spark_version" -> spark.version,
      "scala_version" -> scala.util.Properties.versionNumberString,
      "jvm_version" -> System.getProperty("java.vm.version"),
      "git_commit" -> sys.env.getOrElse("PERFBENCH_COMMIT", "unknown"),
      "data" -> new File(a.data).getName,
      "micro_batch" -> Workloads.microBatch(a.workload))
  }
}

object Report {

  /** Percentile by linear interpolation between closest ranks. */
  def pct(xs: Seq[Double], p: Double): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else {
      val r = p / 100.0 * (s.size - 1)
      val lo = math.floor(r).toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (r - lo)
    }
  }

  def median(xs: Seq[Double]): Double = pct(xs, 50)

  /** Geometric mean: every operation weighs the same, whatever its size. */
  def geomean(xs: Seq[Double]): Double =
    if (xs.isEmpty) Double.NaN else math.exp(xs.map(math.log).sum / xs.size)

  /** `setups` in the order run; the first is the cold one (JVM start). */
  def result(c: Ctx, setups: Seq[Double], heapMb: Double, measuredS: Double,
             header: Map[String, Any]): String = {
    val ops = c.samples.getOrElse("op", Nil).toSeq
    val tailP = Workloads.tailPercentile
    val e2e = Map(
      "setup_s" -> (median(setups.tail), "s"),
      "pass_s" -> (median(c.passes.toSeq), "s"),
      "op_s.geomean" -> (geomean(ops), "s"),
      "op_s.tail" -> (pct(ops, tailP), "s"),
      "retained_heap_mb" -> (heapMb, "MB"))
    def metrics(m: Iterable[(String, (Double, String))]) =
      Json.Raw(m.map { case (k, (v, u)) => Json.str(k) + ":" + Json.obj("value" -> v, "unit" -> u) }
        .mkString("{", ",", "}"))
    val families = c.samples.map { case (k, xs) =>
      k -> Json.Raw(Json.obj("n" -> xs.size, "p50" -> median(xs.toSeq),
        s"p${tailP.toInt}" -> pct(xs.toSeq, tailP), "max" -> xs.max))
    }.toMap
    Json.obj(
      "header" -> Json.Raw(Json.obj(header.toSeq: _*)),
      "correct" -> (c.failed == 0 && c.attempted > 0),
      "attempted" -> c.attempted, "failed" -> c.failed,
      "error_rate" -> (if (c.attempted == 0) 1.0 else c.failed.toDouble / c.attempted),
      "errors" -> c.errors.toSeq,
      "end_to_end" -> metrics(e2e.toSeq),
      "per_layer" -> metrics(Workloads.perLayer.map(n => n -> (c.layer.getOrElse(n, 0.0), Workloads.unitOf(n)))),
      "figures" -> metrics(c.figures),
      "samples" -> Json.Raw(Json.obj(families.toSeq: _*)),
      "setups_s" -> setups, "passes_s" -> c.passes.toSeq, "measured_s" -> measuredS,
      "tail_percentile" -> tailP,
      "timed" -> Json.Raw(c.timed.map { case (k, v) => Json.obj("op" -> k, "s" -> v) }.mkString("[", ",", "]")),
      "self_s" -> Json.Raw(c.tracer.map(t => Json.obj(t.selfTimes: _*)).getOrElse("{}")))
  }

  /** The span tree and counters, written once when the run ends. */
  def writeTrace(c: Ctx, t: Tracer, header: Map[String, Any]): Unit = {
    val dir = new File(c.args.work, "traces"); dir.mkdirs()
    val f = new File(dir, s"${c.args.workload}-seed${c.args.seed}.json")
    val body = Json.obj(
      "header" -> Json.Raw(Json.obj(header.toSeq: _*)),
      "self_s" -> Json.Raw(Json.obj(t.selfTimes: _*)),
      "counters" -> Json.Raw(t.total.json),
      "spans" -> Json.Raw(t.spans.map(_.json).mkString("[", ",\n", "]")))
    Files.write(f.toPath, body.getBytes(UTF_8))
  }
}
