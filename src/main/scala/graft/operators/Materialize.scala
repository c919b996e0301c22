package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD

import scala.collection.mutable.ArrayBuffer

/** The one place a frame is pinned in storage and released again. Every
  * `localCheckpoint` and `persist` in the engine goes through here.
  *
  * Why pin at all: the iterative operators (ConnectedComponents, PageRank,
  * GreedyCover, Hnsw, Bpe) reference each round's frame several times, so
  * without truncation the plan doubles per round; and a pinned frame that
  * feeds two consumers is evaluated once by RDD identity, not by AQE
  * exchange-reuse luck. Why release: a pinned RDD stays in storage memory
  * for the session's lifetime, and Spark has no public un-checkpoint, so a
  * long-lived session (Bench makes several passes, perfbench times a whole
  * mix) creeps in storage and GC pressure unless every path frees what it
  * pinned — the failure paths included.
  *
  * Three forms:
  *  - [[scoped]]: operator-private pins. `s.pin` / `s.cache` record the
  *    RDD or cached frame they create, and the scope releases all of them
  *    when the body exits, normally or by exception, except the frames the
  *    body hands out with `s.keep`. `s.release` frees one early. Release
  *    never walks a plan, so it cannot reach a caller's frame.
  *  - [[shared]]: a pin inside a declared query plan for structural reuse
  *    (d44, k66, k67, RangeJoin, k70's eval gram set). The plan outlives
  *    the call that built it, so these pins are GC-managed: Spark's
  *    ContextCleaner unpersists them once the plan is unreachable.
  *  - [[release]]: frees an operator RESULT the caller is done with.
  *
  * Recovery caveat, stated once for every site: `localCheckpoint` truncates
  * lineage and stores non-replicated blocks on the executors, so a lost
  * executor fails the query instead of recomputing it [public: Zaharia et
  * al., "Resilient Distributed Datasets", NSDI'12 — lineage is what
  * recovery replays]. On a real cluster swap in a reliable `checkpoint`
  * (or `persist` with lineage kept); that swap is a change to this file
  * only.
  */
object Materialize {

  /** The pins of one [[scoped]] body. */
  final class Scope private[Materialize] () {
    private val held = ArrayBuffer.empty[(DataFrame, () => Unit)]

    /** `df.localCheckpoint(eager)`, released when the scope exits. Eager
      * (the default, as in `localCheckpoint`) materializes now; lazy
      * truncates the plan now and stores the rows with the next action.
      * Lazy is not free: taking the checkpoint builds the plan's RDD, and
      * under AQE that runs every shuffle stage of the plan as its own job
      * at the pin — only the final stage waits for the action. */
    def pin(df: DataFrame, eager: Boolean = true): DataFrame = {
      val c = df.localCheckpoint(eager)
      val rdd = c.queryExecution.analyzed.asInstanceOf[LogicalRDD].rdd
      held += c -> (() => rdd.unpersist(blocking = false))
      c
    }

    /** `df.persist()` (lineage kept), unpersisted when the scope exits. */
    def cache(df: DataFrame): DataFrame = {
      val p = df.persist()
      held += p -> (() => p.unpersist())
      p
    }

    /** Free a frame pinned in this scope now, before the scope exits. */
    def release(df: DataFrame): Unit = take(df)()

    /** Hand a frame pinned in this scope out of it: the scope no longer
      * frees it, and the caller releases it with [[Materialize.release]]. */
    def keep(df: DataFrame): DataFrame = { take(df); df }

    private def take(df: DataFrame): () => Unit = {
      val i = held.indexWhere(_._1 eq df)
      require(i >= 0, "Materialize: the frame was not pinned in this scope")
      held.remove(i)._2
    }

    private[Materialize] def close(): Unit = {
      held.foreach(_._2())
      held.clear()
    }
  }

  /** Run `body` with a fresh [[Scope]] and release whatever it still holds
    * when the body returns or throws. */
  def scoped[T](body: Scope => T): T = {
    val s = new Scope
    try body(s) finally s.close()
  }

  /** A GC-managed pin for reuse inside a declared plan (see above). Lazy
    * by default, so the query's own first action materializes it. */
  def shared(df: DataFrame, eager: Boolean = false): DataFrame =
    df.localCheckpoint(eager)

  /** Release the checkpoint an operator result pins. Guarded to frames
    * whose ROOT plan node is the checkpoint: a derived frame (a projection
    * over a caller's own checkpoint, say) is a no-op, because freeing what
    * sits under it would leave the caller a frame that can no longer be
    * computed ("checkpoint block not found"). */
  def release(df: DataFrame): Unit = df.queryExecution.analyzed match {
    case l: LogicalRDD => l.rdd.unpersist(blocking = false)
    case _ => ()
  }
}
