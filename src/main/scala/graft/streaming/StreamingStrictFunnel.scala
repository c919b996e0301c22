package graft.streaming

import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.streaming.TTLConfig

/** Streaming strict-order funnel: the unbounded-stream counterpart of
  * the batch `j10_funnel_strict_order` declared query (ClickHouse
  * `windowFunnel` strict_order mode family) — live funnel dashboards
  * with the consecutive-chain contract.
  *
  * The state is the ENTIRE fold state of the batch query's list
  * recursion: one int (level 0–3, or 10+level once aborted) plus the
  * (ts, id) of the last folded event for ordering — 3 longs per user,
  * bounded at any stream length. Each micro-batch's rows are sorted
  * into the batch query's (ts, event_id) total order and folded through
  * the IDENTICAL step function ([[step]] — the same transition table as
  * the shared batch CASE, unit-pinned against it in ExtOpsSpec's
  * adversarial-chain test via the spec suite).
  *
  * Like EMA (and unlike the commutative M4/timing twins) the recursion
  * is order-sensitive: the pinned contract is the in-order-replay
  * regime, with out-of-order rows DROPPED never retro-folded; late-data
  * tolerance = a watermark-sized sort buffer in front (documented, not
  * silently approximated). Emits the current funnel level per touched
  * user each batch (Update upsert shape); TTL bounds cold-user state.
  */
object StreamingStrictFunnel {

  final case class FunnelIn(key: Long, tsUs: Long, eventId: Long, stepIdx: Int)
  final case class FunnelState(lastTs: Long, lastId: Long, st: Int)
  final case class FunnelOut(key: Long, funnel_level: Int, aborted: Boolean)

  /** The batch query's transition table, verbatim: acc is 0–3 (level) or
    * 10+level (aborted); s is the event's step index (1–3, 0 = other). */
  def step(acc: Int, s: Int): Int =
    if (acc >= 10) acc
    else if (acc == 3) 3
    else if (acc == 0) { if (s == 1) 1 else 0 }
    else if (s == acc + 1) acc + 1
    else 10 + acc

  /** Per-user running strict-order funnel level over an unbounded stream
    * (needs the RocksDB state store provider, like every
    * transformWithState operator here). */
  def funnel(values: Dataset[FunnelIn], ttl: TTLConfig = TTLConfig.NONE)
            (implicit s: SparkSession): Dataset[FunnelOut] = {
    import s.implicits._
    StreamOps.keyedFold(values.groupByKey(_.key), "funnel", ttl) {
      (key, prior: Option[FunnelState], rows) =>
        var st = prior.getOrElse(FunnelState(Long.MinValue, Long.MinValue, 0))
        rows.toArray.sortBy(r => (r.tsUs, r.eventId)).foreach { r =>
          if (r.tsUs > st.lastTs || (r.tsUs == st.lastTs && r.eventId > st.lastId))
            st = FunnelState(r.tsUs, r.eventId, step(st.st, r.stepIdx))
          // else: out-of-order, dropped by contract
        }
        (Some(st), Iterator.single(FunnelOut(key,
          if (st.st >= 10) st.st - 10 else st.st, st.st >= 10)))
    }
  }
}
