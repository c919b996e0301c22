package perfbench

import scala.util.Random
import org.apache.spark.sql.{Row, SparkSession}
import graft.SparkEntry

/** The two query mixes: a fixed set of declared queries per block set,
  * each timed from the call of its function to its full, ordered result on
  * the driver; its result digest is checked after the clock stops. */
object QueryMix {
  private lazy val fns = SparkEntry.queries
  /** Blocks a–j and l: the analyst's relational traffic (238 queries). */
  lazy val relational: Seq[String] = SparkEntry.all.map(_.name).filterNot(_.startsWith("k")).sorted
  /** Block k: the dedup / ANN / graph tier (76 queries). */
  lazy val llm: Seq[String] = SparkEntry.all.map(_.name).filter(_.startsWith("k")).sorted

  /** The queries a benchmark run times: the named ones (the first opens
    * every pass) and every `stride`-th query of the block set, a fixed set
    * so that runs on different seeds time the same work (the seed only
    * shuffles the order). The full sets run with `--mix full`. */
  def mix(all: Seq[String], stride: Int, named: Seq[String], a: Args): Seq[String] =
    if (a.mix == "full") all
    else (named.flatMap(p => all.find(_.startsWith(p + "_"))) ++
      all.zipWithIndex.collect { case (n, i) if i % stride == 0 => n }).distinct

  /** Relational: 7 by stride, plus d44 (checkpointed subtree reuse). */
  def relationalMix(a: Args): Seq[String] = mix(relational, 35, Seq("d44"), a)

  /** Block k: 4 by stride, plus k57 (the interpreted BPE fold), k23
    * (connected-components rounds) and k66 (checkpointed subtree reuse). */
  def llmMix(a: Args): Seq[String] = mix(llm, 19, Seq("k57", "k23", "k66"), a)

  /** Warm-up queries outside the mixes, run in every set-up: they load and
    * compile the code paths the mix shares (scan, aggregate, join, window;
    * tokenising and hashing for block k), so the first timed queries do not
    * pay for them in whatever order the seed gives. */
  def warmUp(names: Seq[String])(spark: SparkSession, a: Args): Unit =
    names.foreach(n => fns(SparkEntry.all.find(_.name.startsWith(n + "_")).get.name)(spark, a.data).collect())

  val relationalWarmUp: Seq[String] = Seq("d02", "c01", "e02")
  val llmWarmUp: Seq[String] = Seq("k02", "k03")

  /** Passes over `names`: the first query opens every pass, the rest follow
    * in a seed-shuffled order. Whatever query runs first after set-up pays
    * a one-off cost of about half a second; a fixed opener keeps that cost
    * on the same query in every run instead of moving it with the seed. */
  def run(c: Ctx, names: Seq[String]): Unit = {
    val expected = Expected.load(c.args)
    while (c.morePasses) c.pass { i =>
      (names.head +: new Random(c.args.seed * 1000003L + i).shuffle(names.tail))
        .foreach(n => one(c, n, expected))
    }
  }

  private def verify(c: Ctx, name: String, cols: Seq[String], rows: Array[Row],
                     expected: Map[String, String]): Unit = {
    val got = Digest.of(cols, rows)
    val want = expected.getOrElse(name, "<no expected digest>")
    if (got != want) c.fail(s"$name: result digest $got != expected $want")
  }

  private def one(c: Ctx, name: String, expected: Map[String, String]): Unit = {
    c.attempted += 1
    c.op(name, "harness") { id =>
      try {
        val s0 = c.tracer.map(_.nowMs).getOrElse(0.0)
        val t0 = System.nanoTime()
        val df = fns(name)(c.spark, c.args.data)
        val t1 = System.nanoTime()
        // traced runs close the build phase here, so its jobs are its own
        val build = c.tracer.map(_.phase(id, id, "build", "engine", s0, c.tracer.get.nowMs))
        val s1 = c.tracer.map(_.nowMs).getOrElse(0.0)
        val rows = df.collect()
        val t2 = System.nanoTime()
        c.sample("op", (t2 - t0) / 1e9, name)
        c.tracer.foreach { t =>
          val (buildId, b) = build.get
          val (runId, run) = t.phase(id, id, "run", "exec", s1, t.nowMs)
          Layers.build(c, (t1 - t0) / 1e9, b)
          Layers.exec(c, (t2 - t1) / 1e9, run.add(b), rows.length)
          Layers.planning(c, t, df.queryExecution.tracker, id, buildId, runId, s1)
        }
        c.untimed(verify(c, name, df.columns.toSeq, rows, expected))
      } catch {
        case e: Exception => c.fail(s"$name: ${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(200)}")
      }
    }
  }
}

/** The expected per-query digests stored beside the benchmark. */
object Expected {
  def load(a: Args): Map[String, String] = {
    val text = new String(java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(a.expected)), "UTF-8")
    "\"([a-z][0-9]+_[A-Za-z0-9_]*)\"\\s*:\\s*\"([0-9a-f]{64})\"".r
      .findAllMatchIn(text).map(x => x.group(1) -> x.group(2)).toMap
  }
}
