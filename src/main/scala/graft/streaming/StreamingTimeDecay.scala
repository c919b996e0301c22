package graft.streaming

import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.streaming.TTLConfig

/** Streaming time-decayed sum: the unbounded-stream twin of the batch
  * `e21_time_decayed_sum` declared query (ClickHouse
  * `exponentialTimeDecayedSum` analog on the exact power-of-two day
  * grid).
  *
  * e21's whole design pays off here: because every event's contribution
  * at the FIXED reference instant is an exact integer
  * (`cents · 2^(30 − age_days)` units of 2⁻³⁰ cents), the decayed sum is
  * PURELY ADDITIVE — state per key is ONE long + a count, its addition
  * commutative, idempotence-free but batch-cut-free and arrival-order-
  * free: the strongest equality class in the family (no in-order-replay
  * caveat at all, unlike the funnels). The float rendering divides once
  * at emission (int64→double cast correctly rounded + two exact
  * power-of-two/constant divides — the same three ops as the batch SQL),
  * so emissions are bit-identical to e21 on the same data.
  *
  * Events after the reference instant are ignored (e21's `WHERE ts <=
  * T`); events older than 30 days before it contribute exactly 0 (the
  * batch SQL's long cast of a sub-one power does the same), so streams
  * spanning any history stay bit-identical to e21. A production monitor
  * would advance `refMicros` per watermark epoch and re-seed — the state
  * stays one long either way.
  */
object StreamingTimeDecay {

  final case class DIn(user_id: Long, ts_micros: Long, cents: Long)
  final case class DState(units: Long, n: Long)
  final case class DOut(user_id: Long, units: Long, decayed_sum: Double,
                        n_events: Long)

  final val DayMicros = 86400L * 1000000L

  /** One event's exact contribution in 2⁻³⁰-cent units — the e21 SQL
    * term verbatim in Scala; shared with the spec's oracle.
    *
    * Events older than the 30-day grid contribute 0, matching the batch
    * SQL where `POWER(2, 30 - age)` for age > 30 is sub-one and the long
    * cast truncates the product to 0 — without the guard a Scala shift by
    * a negative count (masked mod 64 by the JVM) would instead produce a
    * garbage term like `1L << 63`. Future events (age < 0) are a caller
    * contract violation (the processor filters `ts <= ref` first) and
    * fail loudly rather than decay "negatively". */
  def contribution(refMicros: Long, tsMicros: Long, cents: Long): Long = {
    val age = (refMicros - tsMicros) / DayMicros
    require(age >= 0, s"event after reference instant: age=$age days")
    if (age > 30) 0L else cents * (1L << (30 - age.toInt))
  }

  /** The batch query's render: cast then two shared divides. */
  def render(key: Long, st: DState): DOut =
    DOut(key, st.units, st.units.toDouble / 1073741824.0 / 100.0, st.n)

  /** Per-user running decayed sum over an unbounded event stream (RocksDB
    * state store provider required). `refMicros` defaults to the batch
    * e21 reference instant (2024-01-31 00:00 UTC). */
  def decayedSum(events: Dataset[DIn],
                 refMicros: Long = 1706659200000000L,
                 ttl: TTLConfig = TTLConfig.NONE)
                (implicit s: SparkSession): Dataset[DOut] = {
    import s.implicits._
    StreamOps.keyedFold(events.groupByKey(_.user_id), "decay", ttl) {
      (key, prior: Option[DState], rows) =>
        var st = prior.getOrElse(DState(0L, 0L))
        rows.foreach { e =>
          if (e.ts_micros <= refMicros)
            st = DState(st.units + contribution(refMicros, e.ts_micros, e.cents),
                        st.n + 1L)
        }
        (Some(st), Iterator.single(render(key, st)))
    }
  }
}
