package graft.streaming

import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.streaming.TTLConfig

/** Streaming strict-dedup funnel: the unbounded-stream counterpart of the
  * batch `j11_funnel_strict_dedup` declared query (ClickHouse `windowFunnel`
  * strict_dedup mode) — live funnels where a REPEAT of an already-matched
  * step interrupts progression, while not-yet-reached steps and non-funnel
  * events are ignored. Completes the streaming funnel-mode family next to
  * [[StreamingFunnel]] (base) and [[StreamingStrictFunnel]] (strict_order).
  *
  * State = the batch fold state verbatim: one int (level 0–3, or 10+level
  * once interrupted) plus the (tsUs, stepIdx, eventId) of the last folded
  * event — 4 longs per user, bounded at any stream length. Each
  * micro-batch's rows are sorted into (tsUs, stepIdx, eventId) order —
  * consistent with the batch query's (µs·8 + step) composite key, refined
  * by the unique eventId so that a GENUINE duplicate event (same µs, same
  * step, different id — exactly what a dedup funnel must see to interrupt)
  * folds like the batch does, while an at-least-once REDELIVERY (same id)
  * is dropped idempotently — and folded through the IDENTICAL transition
  * table ([[step]] — the batch CASE in Scala, pinned against it on
  * adversarial chains in ExtOpsSpec).
  *
  * Order-sensitive like EMA/strict_order, so the pinned contract is the
  * in-order-replay regime with out-of-order rows DROPPED never retro-folded;
  * late-data tolerance = a watermark-sized sort buffer in front (documented,
  * not silently approximated). Emits the current level per touched user per
  * batch (Update upsert shape); TTL bounds cold-user state.
  */
object StreamingDedupFunnel {

  final case class DedupIn(key: Long, tsUs: Long, stepIdx: Int, eventId: Long)
  final case class DedupState(lastTs: Long, lastStep: Int, lastId: Long, st: Int)
  final case class DedupOut(key: Long, funnel_level: Int, interrupted: Boolean)

  /** The batch j11 transition table, verbatim: acc is 0–3 (level) or
    * 10+level (interrupted); s is the step index (1–3; 0 = other events,
    * which neither advance nor interrupt in strict_dedup). */
  def step(acc: Int, s: Int): Int =
    if (acc >= 10) acc
    else if (acc == 3) 3
    else if (acc == 0) { if (s == 1) 1 else 0 }
    else if (acc == 1) { if (s == 2) 2 else if (s == 1) 11 else 1 }
    else { if (s == 3) 3 else if (s == 1 || s == 2) 12 else acc }

  /** Per-user running strict-dedup funnel level over an unbounded stream
    * (needs the RocksDB state store provider, like every
    * transformWithState operator here). */
  def funnel(values: Dataset[DedupIn], ttl: TTLConfig = TTLConfig.NONE)
            (implicit s: SparkSession): Dataset[DedupOut] = {
    import s.implicits._
    StreamOps.keyedFold(values.groupByKey(_.key), "dedupFunnel", ttl) {
      (key, prior: Option[DedupState], rows) =>
        var st = prior.getOrElse(
          DedupState(Long.MinValue, Int.MinValue, Long.MinValue, 0))
        rows.toArray.sortBy(r => (r.tsUs, r.stepIdx, r.eventId)).foreach { r =>
          val inOrder =
            r.tsUs > st.lastTs ||
              (r.tsUs == st.lastTs && (r.stepIdx > st.lastStep ||
                (r.stepIdx == st.lastStep && r.eventId > st.lastId)))
          if (inOrder)
            st = DedupState(r.tsUs, r.stepIdx, r.eventId, step(st.st, r.stepIdx))
          // else: out-of-order or redelivered, dropped by contract
        }
        (Some(st), Iterator.single(DedupOut(key,
          if (st.st >= 10) st.st - 10 else st.st, st.st >= 10)))
    }
  }
}
