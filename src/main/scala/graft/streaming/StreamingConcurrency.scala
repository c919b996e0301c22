package graft.streaming

import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.streaming.{OutputMode, TTLConfig}

/** Streaming running concurrency: the unbounded-stream twin of the batch
  * `e27_running_concurrency` declared query (ClickHouse
  * `runningConcurrency` analog) — for each arriving interval, how many of
  * the same key's intervals are open at its start.
  *
  * The batch sweep's cumulative sum IS the streaming state: per key only
  * the OPEN interval end-times matter (every closed interval's +1/−1 has
  * cancelled), so state is a sorted list of open ends — bounded by the
  * key's PEAK CONCURRENCY, not its interval count. Each arrival drops the
  * ends ≤ its start (the half-open [s, e) tie: an interval ending exactly
  * at s is closed — e27's ends-before-starts sweep order, adversarially
  * pinned in Round12Spec), counts the remainder plus itself, and pushes
  * its own end.
  *
  * Ordering contract (shared by the family): cross-batch order is arrival
  * order; within a micro-batch rows sort by (s_micros, event_id). With
  * in-order delivery the open-set at each start equals the batch window's
  * prefix state, so emissions match e27 exactly (pinned in StreamingSpec
  * across a batch cut). A late interval whose start precedes an
  * already-processed one would have been counted differently by the batch
  * rule — the standard watermark trade. */
object StreamingConcurrency {

  final case class IvIn(user_id: Long, s_micros: Long, e_micros: Long,
                        event_id: Long)
  final case class OpenState(ends: List[Long], nSeen: Long)
  final case class ConcOut(user_id: Long, event_id: Long, concurrency: Long,
                           n_seen: Long)

  /** Per-interval concurrency over an unbounded interval stream (RocksDB
    * state store provider required). */
  def concurrency(intervals: Dataset[IvIn], ttl: TTLConfig = TTLConfig.NONE)
                 (implicit s: SparkSession): Dataset[ConcOut] = {
    import s.implicits._
    StreamOps.keyedFold(intervals.groupByKey(_.user_id), "conc", ttl,
                        OutputMode.Append()) {
      (key, prior: Option[OpenState], rows) =>
        var st = prior.getOrElse(OpenState(Nil, 0L))
        val out = Vector.newBuilder[ConcOut]
        rows.toArray.sortBy(iv => (iv.s_micros, iv.event_id)).foreach { iv =>
          val open = st.ends.filter(_ > iv.s_micros) // half-open: end == s closed
          val conc = open.length + 1L               // the arrival itself is open
          st = OpenState((iv.e_micros :: open).sorted, st.nSeen + 1L)
          out += ConcOut(key, iv.event_id, conc, st.nSeen)
        }
        (Some(st), out.result().iterator)
    }
  }
}
