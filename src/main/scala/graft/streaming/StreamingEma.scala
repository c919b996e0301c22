package graft.streaming

import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.streaming.TTLConfig

/** Streaming exponential moving average: the unbounded-stream
  * counterpart of the batch `e20_exp_moving_avg` declared query
  * (ClickHouse `exponentialMovingAverage` analog) — smoothed live
  * metrics are the canonical streaming use of EMA.
  *
  * The state is 4 longs per key: the (ts, id) of the last folded event
  * and the running scaled EMA plus count — the ENTIRE recursion state,
  * bounded at any stream length. Each micro-batch's rows are sorted by
  * the batch query's exact (ts, event_id) total order before folding
  * through the IDENTICAL integer step (`acc + (x − acc) div 8` on
  * 2^16-scaled cents): one recursion, one scale, one step function
  * across both paths.
  *
  * EMA is order-SENSITIVE (unlike the M4/timing-quantile twins'
  * commutative states), so the parity contract is: rows arriving
  * in (ts, id) order across batches — the in-order-replay regime —
  * reproduce the batch fold EXACTLY (equality-pinned in StreamingSpec
  * across a mid-stream batch cut). Out-of-order rows (ts, id) ≤ the
  * last folded event are DROPPED, never retro-folded — the same
  * no-retroactivity posture as the contamination probe; a production
  * deployment that needs late-data tolerance puts a watermark-sized
  * sort buffer in front (documented, not silently approximated).
  */
object StreamingEma {

  final case class EmaIn(key: Long, tsUs: Long, eventId: Long, cents: Long)
  final case class EmaState(lastTs: Long, lastId: Long, ema: Long, n: Long)
  final case class EmaOut(key: Long, ema_scaled: Long, ema_cents: Long, n: Long)

  /** Per-key running EMA (α = 1/8, exact integer recursion) over an
    * unbounded stream (needs the RocksDB state store provider, like
    * every transformWithState operator here). */
  def ema(values: Dataset[EmaIn], ttl: TTLConfig = TTLConfig.NONE)
         (implicit s: SparkSession): Dataset[EmaOut] = {
    import s.implicits._
    StreamOps.keyedFold(values.groupByKey(_.key), "ema", ttl) {
      (key, prior: Option[EmaState], rows) =>
        var st = prior.orNull
        // the batch query's (ts, event_id) total order within the batch
        rows.toArray.sortBy(r => (r.tsUs, r.eventId)).foreach { r =>
          val x = r.cents * 65536L
          st = if (st == null) EmaState(r.tsUs, r.eventId, x, 1L)
          else if (r.tsUs > st.lastTs ||
                   (r.tsUs == st.lastTs && r.eventId > st.lastId))
            EmaState(r.tsUs, r.eventId, st.ema + (x - st.ema) / 8L, st.n + 1L)
          else st // out-of-order: dropped, never retro-folded
        }
        (Some(st), Iterator.single(EmaOut(key, st.ema, st.ema / 65536L, st.n)))
    }
  }
}
