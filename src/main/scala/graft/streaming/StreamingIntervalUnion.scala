package graft.streaming

import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.streaming.TTLConfig

/** Streaming union-of-intervals coverage: the unbounded-stream counterpart
  * of the batch e13 query (ClickHouse `intervalLengthSum` analog) — per
  * user, the running total length of the union of [start, end) intervals,
  * overlap counted once.
  *
  * The batch form replays the classic sweep as a window pass; the
  * streaming form keeps the sweep's loop state directly: (frontier =
  * max end seen, covered = union length so far) — TWO longs per user,
  * independent of event count, the same bounded-state class as
  * [[StreamingSequenceCount]]. Each interval in (start, tiebreak) order
  * contributes max(0, end − max(start, frontier)).
  *
  * Ordering contract (same as the sequence counter): cross-batch order is
  * arrival order; within a micro-batch rows are sorted by (start,
  * event_id). A LATE interval — one whose start precedes the current
  * frontier's gap structure — can only be under-counted (never double-
  * counted): coverage it would have added inside an already-passed gap is
  * lost, exactly the watermark trade every out-of-order streaming
  * aggregate makes. In-order delivery (the common change-stream case)
  * is exact — pinned in StreamingSpec against the batch sweep.
  */
object StreamingIntervalUnion {

  final case class IntervalIn(user_id: Long, start: Long, end: Long,
                              event_id: Long)
  final case class CoverState(frontier: Long, covered: Long)
  final case class Coverage(user_id: Long, covered: Long)

  /** Per-user running union coverage over an unbounded interval stream
    * (RocksDB state store provider required, like every transformWithState
    * operator here). */
  def coverage(intervals: Dataset[IntervalIn], ttl: TTLConfig = TTLConfig.NONE)
              (implicit s: SparkSession): Dataset[Coverage] = {
    import s.implicits._
    StreamOps.keyedFold(intervals.groupByKey(_.user_id), "cover", ttl) {
      (key, prior: Option[CoverState], rows) =>
        var st = prior.getOrElse(CoverState(Long.MinValue, 0L))
        rows.toArray.sortBy(iv => (iv.start, iv.event_id)).foreach { iv =>
          if (iv.end > iv.start) {
            val from = math.max(iv.start, st.frontier)
            val add  = math.max(0L, iv.end - from)
            st = CoverState(math.max(st.frontier, iv.end), st.covered + add)
          }
        }
        (Some(st), Iterator.single(Coverage(key, st.covered)))
    }
  }
}
