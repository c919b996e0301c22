package graft.streaming

import java.io.ByteArrayInputStream

import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.streaming.TTLConfig
import org.apache.spark.util.sketch.CountMinSketch

/** Streaming Count-Min sketch: the unbounded-stream twin of the batch
  * `d66_cms_exact_counts` declared query [public: Cormode &
  * Muthukrishnan 2005; Spark's `org.apache.spark.util.sketch`
  * CountMinSketch].
  *
  * State shape — NEW relative to the other 30+ twins: a FIXED-SIZE
  * counter matrix per group (depth × width longs, 112 KB at the d66
  * params), held as the sketch's own serialized bytes in a ValueState.
  * Unlike KMV's bounded bottom-k SET (membership, idempotent re-insert)
  * this state answers point-frequency queries over an UNBOUNDED key
  * domain at O(1) size, and its update is pure counter ADDITION —
  * commutative and associative, so batch cuts and arrival order can
  * never matter and the twin is EQUALITY-pinned bit-for-bit against the
  * batch `count_min_sketch` aggregate (StreamingSpec pins serialized
  * bytes, not just estimates).
  *
  * The flip side of addition (the honest caveat, the StreamingDsir
  * discipline): replays are NOT absorbed — an at-least-once source
  * inflates counters, unlike the idempotent KMV twin. Deploy behind an
  * exactly-once source/sink pairing (Kafka offsets + checkpoint — the
  * standard Structured Streaming contract); the one-sided error law
  * (never underestimates) survives replay, so over-delivery degrades
  * gracefully toward overestimates rather than corrupting.
  *
  * Emits (group, sketch bytes) per touched group per batch (Update
  * upsert shape — the StreamingIvf versioned-publish posture: consumers
  * read the latest sketch and run their own estimateCount probes).
  * TTL bounds cold-group state; an expired group restarts from an empty
  * sketch, so the fold is only exact under `TTLConfig.NONE`.
  */
object StreamingCms {

  final case class CmsIn(group: String, value: Long)
  final case class CmsOut(group: String, sketch: Array[Byte])

  /** Per-group running Count-Min sketch over an unbounded stream (needs
    * the RocksDB state store provider, like every transformWithState
    * operator here). Params must match the batch aggregate's exactly
    * for the bit-equality pin to hold. */
  def frequencySketch(values: Dataset[CmsIn], eps: Double, confidence: Double,
                      seed: Int, ttl: TTLConfig = TTLConfig.NONE)
                     (implicit s: SparkSession): Dataset[CmsOut] = {
    import s.implicits._
    StreamOps.keyedFold(values.groupByKey(_.group), "cms", ttl) {
      (key, prior: Option[Array[Byte]], rows) =>
        val sk = prior
          .map(b => CountMinSketch.readFrom(new ByteArrayInputStream(b)))
          .getOrElse(CountMinSketch.create(eps, confidence, seed))
        rows.foreach(r => sk.add(r.value))
        val bytes = sk.toByteArray
        (Some(bytes), Iterator.single(CmsOut(key, bytes)))
    }
  }
}
