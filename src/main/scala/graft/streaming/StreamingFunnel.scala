package graft.streaming

import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.streaming.TTLConfig

/** Streaming windowFunnel: the unbounded-stream counterpart of the batch
  * j05 query (ClickHouse `windowFunnel` analog) — per-user funnel depth
  * for signup → view → purchase anchored at the FIRST signup, each later
  * stage the earliest qualifying event inside the 6-hour window opened by
  * that anchor.
  *
  * The batch form computes the three landmark times (l1, l2, l3) with
  * per-user window minima; those three timestamps ARE the complete loop
  * state of the one-pass greedy, so the streaming form carries exactly
  * them — three longs per user, independent of event count, the same
  * bounded-state class as [[StreamingSequenceCount]] and
  * [[StreamingIntervalUnion]]. An event can only tighten a landmark that
  * is still unset (earliest-qualifying semantics + in-order processing),
  * so each row is O(1).
  *
  * Ordering contract (shared by the family): cross-batch order is arrival
  * order; within a micro-batch rows sort by (ts_micros, event_id). A LATE
  * signup earlier than the recorded anchor would re-anchor the funnel in
  * the batch semantic — streaming keeps the first-arrived anchor, the
  * standard watermark trade; in-order delivery is exact (pinned in
  * StreamingSpec against the batch landmark rule).
  */
object StreamingFunnel {

  final case class EventIn(user_id: Long, ts_micros: Long, event_id: Long,
                           event_type: String)
  final case class FunnelState(l1: Long, l2: Long, l3: Long)
  final case class FunnelDepth(user_id: Long, funnel_level: Int)

  private val Unset = Long.MinValue

  /** Per-user running funnel depth over an unbounded event stream (RocksDB
    * state store provider required). Defaults mirror the batch j05 stages
    * and 6-hour window. */
  def funnelDepth(events: Dataset[EventIn],
                  stage1: String = "signup", stage2: String = "view",
                  stage3: String = "purchase",
                  windowMicros: Long = 6L * 3600L * 1000000L,
                  ttl: TTLConfig = TTLConfig.NONE)
                 (implicit s: SparkSession): Dataset[FunnelDepth] = {
    import s.implicits._
    StreamOps.keyedFold(events.groupByKey(_.user_id), "funnel", ttl) {
      (key, prior: Option[FunnelState], rows) =>
        var st = prior.getOrElse(FunnelState(Unset, Unset, Unset))
        rows.toArray.sortBy(e => (e.ts_micros, e.event_id)).foreach { e =>
          val t = e.ts_micros
          if (e.event_type == stage1 && st.l1 == Unset)
            st = st.copy(l1 = t)
          else if (e.event_type == stage2 && st.l2 == Unset && st.l1 != Unset &&
                   t > st.l1 && t <= st.l1 + windowMicros)
            st = st.copy(l2 = t)
          else if (e.event_type == stage3 && st.l3 == Unset && st.l2 != Unset &&
                   t > st.l2 && t <= st.l1 + windowMicros)
            st = st.copy(l3 = t)
        }
        val depth = if (st.l3 != Unset) 3 else if (st.l2 != Unset) 2
                    else if (st.l1 != Unset) 1 else 0
        (Some(st), Iterator.single(FunnelDepth(key, depth)))
    }
  }
}
