package graft.streaming

import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.streaming.TTLConfig

/** Streaming weighted moments: the unbounded-stream twin of the batch
  * `d48_weighted_moments` declared query (ClickHouse `avgWeighted` analog
  * plus the frequency-weight sample variance) — a live monitor of the
  * weighted mean and spread per key.
  *
  * State per key = (Σw, Σwx int64; Σwx² as the unsigned 128-bit two-long
  * accumulator [[StreamingCorrMatrix.add128]] introduced for d46 — the
  * same decimal(38,0)-escape face, exact at any scale) plus the row
  * count. Addition commutative and batch-cut-free. Emission mirrors
  * d48's shared-text trees op-for-op (BigDecimal-identical render for
  * the 128-bit sum), so emitted statistics are bit-identical to the
  * batch query on the same data (EQUALITY-pinned in StreamingSpec
  * across a mid-stream batch cut).
  */
object StreamingWeighted {

  final case class WIn(key: String, w: Long, x: Long)
  final case class WState(n: Long, sw: Long, swx: Long,
                          swx2hi: Long, swx2lo: Long)
  final case class WOut(key: String, n_rows: Long, sum_w: Long,
                        avg_weighted: Double, var_weighted: Double)

  /** d48's closed forms over the exact sums — op-order identical to the
    * avgWE/varWE SQL texts; shared by the processor and the spec. */
  def stats(key: String, st: WState): WOut = {
    val sw = st.sw.toDouble
    val swx = st.swx.toDouble
    val swx2 = StreamingCorrMatrix.toDouble128(st.swx2hi, st.swx2lo)
    WOut(key, st.n, st.sw, swx / sw, (swx2 - swx * swx / sw) / (sw - 1.0))
  }

  /** Per-key running weighted mean/variance over an unbounded stream of
    * (weight, value) pairs (RocksDB state store provider required). */
  def monitor(rows: Dataset[WIn], ttl: TTLConfig = TTLConfig.NONE)
             (implicit s: SparkSession): Dataset[WOut] = {
    import s.implicits._
    StreamOps.keyedFold(rows.groupByKey(_.key), "weighted", ttl) {
      (key, prior: Option[WState], batch) =>
        var st = prior.getOrElse(WState(0L, 0L, 0L, 0L, 0L))
        batch.foreach { e =>
          val (hi, lo) =
            StreamingCorrMatrix.add128(st.swx2hi, st.swx2lo, e.w * e.x * e.x)
          st = WState(st.n + 1, st.sw + e.w, st.swx + e.w * e.x, hi, lo)
        }
        (Some(st), Iterator.single(stats(key, st)))
    }
  }
}
