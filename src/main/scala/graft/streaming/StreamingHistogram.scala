package graft.streaming

import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.streaming.TTLConfig

import graft.operators.AdaptiveHistogram
import graft.operators.AdaptiveHistogram.HistState

/** Streaming adaptive histogram: the unbounded-stream counterpart of the
  * batch [[graft.operators.AdaptiveHistogram]] (ClickHouse `histogram(N)`
  * analog, Ben-Haim & Tom-Tov JMLR 2010) — the second law-pinned sketch
  * family's streaming twin, beside [[StreamingHeavyHitters]].
  *
  * Per-group ValueState is THE SAME `HistState` the batch aggregator
  * carries (≤ n (sum, count) bins regardless of rows seen), and each
  * micro-batch folds its rows through the identical
  * `AdaptiveHistogram.insertOne` step — one state shape, one merge
  * policy, one code path for the bin math. The batch guarantees carry
  * over verbatim: weight/sum conservation, ≤ n strictly-increasing
  * bins, and the EXACT REGIME (≤ n distinct values seen ⇒ the exact
  * value histogram under ANY fold order — equality-pinned against the
  * batch d58 aggregation in StreamingSpec). As with the batch form, the
  * fine bin structure of the COMPRESSED regime depends on fold order,
  * so it is law-pinned, not equality-pinned.
  *
  * Emits the current bins per touched group each batch (Update-mode
  * shape — sinks upsert on (group, rank)). `ttl` bounds state for cold
  * groups; an expired group restarts from the empty histogram. */
object StreamingHistogram {

  final case class ValueIn(group: String, v: Long)
  final case class BinOut(group: String, rank: Int, sum: Long, count: Long,
                          n_bins: Int)

  /** Per-group running n-bin histogram over an unbounded stream (RocksDB
    * state store provider required, like every transformWithState
    * operator here). Rejects `n < 1` when the query is built. */
  def histogram(values: Dataset[ValueIn], n: Int,
                ttl: TTLConfig = TTLConfig.NONE)
               (implicit s: SparkSession): Dataset[BinOut] = {
    import s.implicits._
    require(n >= 1, s"need n >= 1 bins, got $n")
    StreamOps.keyedFold(values.groupByKey(_.group), "hist", ttl) {
      (key, prior: Option[HistState], rows) =>
        val h = rows.foldLeft(
          prior.getOrElse(HistState(Array.empty[Long], Array.empty[Long])))(
          (acc, r) => AdaptiveHistogram.insertOne(acc, r.v, n))
        (Some(h), h.sums.indices.iterator.map(i =>
          BinOut(key, i + 1, h.sums(i), h.cnts(i), h.sums.length)))
    }
  }
}
