package graft.streaming

import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.streaming.TTLConfig

/** Streaming distribution moments: the unbounded-stream twin of the batch
  * `d32_skew_kurt` declared query — a live per-key monitor of mean,
  * population variance, skewness, and excess kurtosis.
  *
  * State per key = FIVE longs (n, Σx, Σx², Σx³, Σx⁴) — the r9 exact-moment
  * recipe as streaming state: integer power sums are commutative and
  * batch-cut-free, and the float statistics are ONE fixed IEEE tree at
  * emission, mirroring d32's SQL fragments op-for-op (meanE/m2E/m3E/m4E/
  * skewE/kurtE) — so emissions are bit-identical to the batch query on
  * the same data, EQUALITY-pinned in StreamingSpec across a mid-stream
  * batch cut.
  *
  * Int64 headroom: |x| ≤ B keeps Σx⁴ exact while n·B⁴ < 2^63 (the d32
  * fixture grid B = 50 runs to ~10^12 rows per key); size B to the
  * metric's domain like the d28/A-B grid posture.
  */
object StreamingMoments {

  final case class MIn(key: String, x: Long)
  final case class MState(n: Long, s1: Long, s2: Long, s3: Long, s4: Long)
  final case class MOut(key: String, n_rows: Long, mean: Double,
                        m2: Double, skew_pop: Double, kurt_pop: Double)

  /** d32's closed form over the five exact sums — op-order identical to
    * its meanE/m2E/m3E/m4E/skewE/kurtE SQL fragments; shared by the
    * processor and the spec's oracle. */
  def stats(key: String, st: MState): MOut = {
    if (st.n == 0L)
      return MOut(key, 0L, Double.NaN, Double.NaN, Double.NaN, Double.NaN)
    val n = st.n.toDouble
    val mean = st.s1.toDouble / n
    val r2 = st.s2.toDouble / n
    val r3 = st.s3.toDouble / n
    val r4 = st.s4.toDouble / n
    val m2 = r2 - mean * mean
    val m3 = r3 - 3.0 * mean * r2 + 2.0 * mean * mean * mean
    val m4 = r4 - 4.0 * mean * r3 + 6.0 * mean * mean * r2 -
      3.0 * mean * mean * mean * mean
    MOut(key, st.n, mean, m2, m3 / (m2 * math.sqrt(m2)), m4 / (m2 * m2) - 3.0)
  }

  /** Per-key running moments over an unbounded stream (RocksDB state
    * store provider, like every transformWithState operator here). */
  def monitor(values: Dataset[MIn], ttl: TTLConfig = TTLConfig.NONE)
             (implicit s: SparkSession): Dataset[MOut] = {
    import s.implicits._
    StreamOps.keyedFold(values.groupByKey(_.key), "mom", ttl) {
      (key, prior: Option[MState], rows) =>
        var st = prior.getOrElse(MState(0L, 0L, 0L, 0L, 0L))
        rows.foreach { r =>
          val x = r.x
          st = MState(st.n + 1L, st.s1 + x, st.s2 + x * x, st.s3 + x * x * x,
                      st.s4 + x * x * x * x)
        }
        (Some(st), Iterator.single(stats(key, st)))
    }
  }
}
