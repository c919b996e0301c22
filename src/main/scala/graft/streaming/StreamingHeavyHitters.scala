package graft.streaming

import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.streaming.TTLConfig

import graft.operators.HeavyHitters
import graft.operators.HeavyHitters.MgSummary

/** Streaming heavy hitters: the unbounded-stream counterpart of the batch
  * [[graft.operators.HeavyHitters]] Misra-Gries summary (ClickHouse `topK`
  * analog [public: CH docs; Misra & Gries 1982]).
  *
  * Where the batch form carries the bounded summary through Spark's
  * partial-aggregate tree, the streaming form persists THE SAME summary as
  * per-group ValueState — ≤ `capacity` (value, count) counters plus one
  * total, regardless of how many rows the group ever sees. Each
  * micro-batch folds its rows through the identical `MisraGries.reduce`
  * step the batch aggregator uses, so the two paths share one state shape,
  * one error bound (under-estimate ≤ n/(capacity+1), survival for
  * frequency > n/(capacity+1)), and one code path for the summary math.
  *
  * Which ties are dropped at the capacity boundary depends on fold order
  * (here: arrival order across batches, (seq) order within one), so — as
  * with the batch operator — results are pinned by the GUARANTEE, not by
  * cross-path equality; with capacity ≥ distinct values the summary is
  * exact counts and IS equality-pinned in StreamingSpec.
  *
  * Emits the current top-k per touched group each batch (Update-mode
  * shape — downstream sinks upsert on (group, value)). `ttl` bounds state
  * for cold groups; an expired group restarts from the empty summary, the
  * standard TTL trade.
  */
object StreamingHeavyHitters {

  final case class ValueIn(group: String, seq: Long, value: String)
  final case class Hitter(group: String, value: String, approx_count: Long,
                          rank: Int, n_rows: Long)

  /** Per-group running top-k over an unbounded stream (needs the RocksDB
    * state store provider, like every transformWithState operator here).
    * Rejects `capacity < k` or `k < 1` when the query is built. */
  def topK(values: Dataset[ValueIn], k: Int, capacity: Int,
           ttl: TTLConfig = TTLConfig.NONE)
          (implicit s: SparkSession): Dataset[Hitter] = {
    import s.implicits._
    require(k >= 1 && capacity >= k,
      s"need capacity >= k >= 1, got k=$k capacity=$capacity")
    // the batch aggregator's reduce IS the streaming update step
    val mg = new HeavyHitters.MisraGries(capacity)
    StreamOps.keyedFold(values.groupByKey(_.group), "mg", ttl) {
      (key, prior: Option[MgSummary], rows) =>
        val st = rows.toArray.sortBy(_.seq)
          .foldLeft(prior.getOrElse(MgSummary(Map.empty, 0L)))((acc, r) =>
            mg.reduce(acc, r.value))
        (Some(st), st.counts.toSeq.sortBy { case (v, c) => (-c, v) }.take(k)
          .iterator.zipWithIndex
          .map { case ((v, c), i) => Hitter(key, v, c, i + 1, st.n) })
    }
  }
}
