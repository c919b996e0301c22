package graft.streaming

import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.streaming.TTLConfig

/** Streaming M4 downsampling: the unbounded-stream counterpart of the
  * batch `e18_m4_downsample` declared query (Jugel et al., VLDB 2014
  * [public paper]; the exact-answer counterpart of ClickHouse's
  * `largestTriangleThreeBuckets` downsampling use case) — live dashboard
  * tiles ARE this operator: every arriving point updates its pixel
  * column's min/max/first/last and the plot stays pixel-perfect without
  * ever re-reading history.
  *
  * The state is exactly the batch query's aggregation unit: per
  * (series, bucket), 9 longs — running min, max, the (ts, id, value)
  * triple of the earliest point and of the latest point (the SAME
  * (ts, event_id) total order e18's two row_numbers use), and the row
  * count. Bounded at 9 longs per pixel column REGARDLESS of how many
  * points the bucket ever sees — the M4 guarantee carried into streams.
  *
  * Every state transition is a commutative/associative fold (min, max,
  * argmin/argmax under a total order, count), so arrival order never
  * matters — like the timing-quantiles twin and unlike heavy hitters
  * there is NO fold-order caveat: after replaying the same rows the
  * streaming emission EQUALS the batch e18 row for the (series, bucket)
  * (equality-pinned in StreamingSpec across a mid-stream batch cut).
  *
  * Emits the current (v_min, v_max, v_first, v_last, n) per touched
  * bucket each batch (Update-mode upsert shape — exactly what a
  * dashboard sink wants). `ttl` bounds state for cold buckets; in
  * production the bucket key ages out naturally once its time window
  * stops receiving late data.
  */
object StreamingM4 {

  final case class M4In(series: String, bkt: Long, tsUs: Long, eventId: Long,
                        cents: Long)
  final case class M4State(vMin: Long, vMax: Long,
                           firstTs: Long, firstId: Long, firstV: Long,
                           lastTs: Long, lastId: Long, lastV: Long, n: Long)
  final case class M4Out(series: String, bkt: Long, v_min: Long, v_max: Long,
                         v_first: Long, v_last: Long, n: Long)

  /** Per-(series, bucket) running M4 tuple over an unbounded stream
    * (needs the RocksDB state store provider, like every
    * transformWithState operator here). */
  def downsample(points: Dataset[M4In], ttl: TTLConfig = TTLConfig.NONE)
                (implicit s: SparkSession): Dataset[M4Out] = {
    import s.implicits._
    StreamOps.keyedFold(points.groupByKey(r => (r.series, r.bkt)), "m4", ttl) {
      (key, prior: Option[M4State], rows) =>
        var st = prior.orNull
        rows.foreach { r =>
          st = if (st == null)
            M4State(r.cents, r.cents, r.tsUs, r.eventId, r.cents,
                    r.tsUs, r.eventId, r.cents, 1L)
          else {
            val earlier = r.tsUs < st.firstTs ||
              (r.tsUs == st.firstTs && r.eventId < st.firstId)
            val later = r.tsUs > st.lastTs ||
              (r.tsUs == st.lastTs && r.eventId > st.lastId)
            M4State(
              math.min(st.vMin, r.cents), math.max(st.vMax, r.cents),
              if (earlier) r.tsUs else st.firstTs,
              if (earlier) r.eventId else st.firstId,
              if (earlier) r.cents else st.firstV,
              if (later) r.tsUs else st.lastTs,
              if (later) r.eventId else st.lastId,
              if (later) r.cents else st.lastV,
              st.n + 1L)
          }
        }
        (Some(st), Iterator.single(
          M4Out(key._1, key._2, st.vMin, st.vMax, st.firstV, st.lastV, st.n)))
    }
  }
}
