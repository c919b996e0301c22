package graft.streaming

import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.streaming.TTLConfig

/** Streaming retention: the unbounded-stream counterpart of the batch j06
  * query (ClickHouse `retention` analog) — per-user activity flags for the
  * K weeks following the user's FIRST 'signup' (the cohort anchor).
  *
  * The batch form is one per-user window min (the anchor) plus K
  * conditional maxima; the anchor and the K bits ARE the complete state,
  * so the streaming form carries exactly them — one long + one bitmask
  * per user, independent of event count: the same bounded-state class as
  * [[StreamingFunnel]] (whose j05 twin this completes on the
  * retention side). Each row is O(1): bucket index by integer division
  * on the age, OR the bit.
  *
  * Ordering contract (shared by the family): cross-batch order is arrival
  * order; within a micro-batch rows sort by (ts_micros, event_id). With
  * in-order delivery the first-arrived signup IS the global minimum, so
  * the streaming flags equal the batch rule exactly (pinned in
  * StreamingSpec, including an anchor-then-late-activity cross-batch
  * case). A signup arriving LATE with an earlier timestamp would
  * re-anchor the cohort in the batch semantic; streaming keeps the
  * first-arrived anchor — the standard watermark trade.
  */
object StreamingRetention {

  final case class EventIn(user_id: Long, ts_micros: Long, event_id: Long,
                           event_type: String)
  final case class RetState(l1: Long, mask: Int)

  /** `flags` has exactly `nBuckets` entries (bucket 0 first) so every
    * configured bucket is visible in the output; `mask` is the same bits
    * packed. `w0..w2` are j06-named conveniences over `flags`, 0 when the
    * bucket is out of range. */
  final case class RetentionFlags(user_id: Long, mask: Int, flags: Seq[Int]) {
    private def at(i: Int): Int = if (i < flags.length) flags(i) else 0
    def w0: Int = at(0)
    def w1: Int = at(1)
    def w2: Int = at(2)
  }

  private val Unset = Long.MinValue

  /** Per-user running retention flags over an unbounded event stream
    * (RocksDB state store provider required). Defaults mirror the batch
    * j06: 'signup' anchor, 7-day buckets, weeks 0–2. Users with no anchor
    * yet emit nothing (j06's `WHERE l1 IS NOT NULL`). */
  def retentionFlags(events: Dataset[EventIn],
                     anchorType: String = "signup",
                     bucketMicros: Long = 7L * 86400L * 1000000L,
                     nBuckets: Int = 3,
                     ttl: TTLConfig = TTLConfig.NONE)
                    (implicit s: SparkSession): Dataset[RetentionFlags] = {
    import s.implicits._
    require(nBuckets >= 1 && nBuckets <= 30, s"nBuckets must be in [1,30], got $nBuckets")
    StreamOps.keyedFold(events.groupByKey(_.user_id), "retention", ttl) {
      (key, prior: Option[RetState], rows) =>
        var st = prior.getOrElse(RetState(Unset, 0))
        rows.toArray.sortBy(e => (e.ts_micros, e.event_id)).foreach { e =>
          if (st.l1 == Unset && e.event_type == anchorType)
            st = st.copy(l1 = e.ts_micros)
          if (st.l1 != Unset && e.ts_micros >= st.l1) {
            val b = (e.ts_micros - st.l1) / bucketMicros
            if (b < nBuckets) st = st.copy(mask = st.mask | (1 << b.toInt))
          }
        }
        (Some(st),
         if (st.l1 == Unset) Iterator.empty
         else Iterator.single(RetentionFlags(key, st.mask,
           (0 until nBuckets).map(b => (st.mask >> b) & 1))))
    }
  }
}
