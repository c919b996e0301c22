package graft.streaming

import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.streaming.TTLConfig
import graft.operators.{Kmv, KmvBuf}

/** Streaming KMV distinct sketch: the unbounded-stream twin of the batch
  * `d34_kmv_distinct` declared query and of [[graft.operators.Kmv]] — live
  * per-group approximate-distinct counters (users per event type, documents
  * per source, …) with ≤ k longs of state per group at ANY stream length.
  *
  * The per-key ValueState IS the batch aggregator's buffer ([[KmvBuf]]),
  * and every arriving row folds through the IDENTICAL `Kmv.reduce` logic
  * (insert-if-bottom-k of the same fixed hash): one state shape, one
  * estimator, one code path for the sketch math. Bottom-k-of-a-union is
  * commutative and idempotent, so arrival order and batch cuts never matter
  * — like the M4/timing twins (and unlike EMA/funnels) this operator is
  * EQUALITY-pinned against its batch query, with no fold-order caveat.
  * Replays of the same key are absorbed idempotently (at-least-once safe).
  *
  * Emits (group, n_tracked, estimate) per touched group per batch (Update
  * upsert shape); TTL bounds cold-group state.
  */
object StreamingKmv {

  final case class KmvIn(key: String, value: Long)
  final case class KmvOut(key: String, n_tracked: Int, estimate: Long)

  /** Per-group running KMV distinct estimate over an unbounded stream
    * (needs the RocksDB state store provider, like every
    * transformWithState operator here). */
  def distinctSketch(values: Dataset[KmvIn], k: Int,
                     ttl: TTLConfig = TTLConfig.NONE)
                    (implicit s: SparkSession): Dataset[KmvOut] = {
    import s.implicits._
    val agg = Kmv(k)
    StreamOps.keyedFold(values.groupByKey(_.key), "kmv", ttl) {
      (key, prior: Option[KmvBuf], rows) =>
        var b = prior.getOrElse(agg.zero)
        rows.foreach(r => b = agg.reduce(b, r.value))
        (Some(b), Iterator.single(KmvOut(key, b.hs.length, Kmv.estimate(b.hs, k))))
    }
  }
}
