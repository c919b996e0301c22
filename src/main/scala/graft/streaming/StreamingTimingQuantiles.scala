package graft.streaming

import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.streaming.TTLConfig

import graft.engine.Round8dOps

/** Streaming timing quantiles: the unbounded-stream counterpart of the
  * batch `d28_quantile_timing` declared query (ClickHouse `quantileTiming`
  * analog [public: CH quantile-timing docs]) — latency-percentile
  * monitoring is THE canonical streaming use of this aggregate.
  *
  * The state is exactly the batch query's aggregation unit: the per-group
  * histogram on the fixed timing grid (1 ms exact < 1024, 16 ms steps to
  * 30 s, 30 s clamp — [[Round8dOps.gridMs]], the scalar twin of the
  * Column the batch query uses), so state is bounded by the grid size
  * (≤ ~2838 buckets) per group REGARDLESS of how many rows the group
  * ever sees. Quantile selection is the same all-integer nearest-rank
  * identity (100·cum ≥ q·n, [[Round8dOps.histQuantiles]]) — one state
  * shape, one grid, one selection rule across both paths, so after
  * replaying the same rows the streaming emission EQUALS the batch
  * query's row for the group (equality-pinned in StreamingSpec across a
  * mid-stream batch cut).
  *
  * Histogram merge is a commutative counter sum, so arrival order never
  * matters — unlike the heavy-hitters summary there is no fold-order
  * caveat. Emits the current (p50, p90, p99, n) per touched group each
  * batch (Update-mode upsert shape). `ttl` bounds state for cold groups.
  */
object StreamingTimingQuantiles {

  final case class TimingIn(group: String, seq: Long, ms: Long)
  /** Histogram state as parallel arrays (the state-store row encoder
    * rejects MapType with non-string keys); ≤ grid-size entries. */
  final case class TqSummary(buckets: Array[Long], counts: Array[Long], n: Long)
  final case class TimingQuantiles(group: String, p50_ms: Long, p90_ms: Long,
                                   p99_ms: Long, n: Long)

  /** Per-group running p50/p90/p99 on the timing grid over an unbounded
    * stream (needs the RocksDB state store provider, like every
    * transformWithState operator here). */
  def quantiles(values: Dataset[TimingIn], ttl: TTLConfig = TTLConfig.NONE)
               (implicit s: SparkSession): Dataset[TimingQuantiles] = {
    import s.implicits._
    StreamOps.keyedFold(values.groupByKey(_.group), "tq", ttl) {
      (key, prior: Option[TqSummary], rows) =>
        val prev = prior.getOrElse(TqSummary(Array.empty, Array.empty, 0L))
        var m = prev.buckets.zip(prev.counts).toMap
        var n = prev.n
        rows.foreach { r =>
          val b = Round8dOps.gridMs(r.ms)
          m = m.updated(b, m.getOrElse(b, 0L) + 1L)
          n += 1L
        }
        val sorted = m.toArray.sortBy(_._1)
        val Seq(p50, p90, p99) = Round8dOps.histQuantiles(m, Seq(50, 90, 99))
        (Some(TqSummary(sorted.map(_._1), sorted.map(_._2), n)),
         Iterator.single(TimingQuantiles(key, p50, p90, p99, n)))
    }
  }
}
