package graft.streaming

import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.streaming.TTLConfig

/** Streaming correlation/covariance matrix: the unbounded-stream twin of
  * the batch `d46_corr_matrix` declared query (ClickHouse
  * `corrMatrix`/`covarSampMatrix` analog) — a live monitor of all three
  * pairwise Pearson r and sample covariances over (q, p, d) triples.
  *
  * State per key = the 10 sufficient statistics, all EXACT: nine int64
  * sums plus Σp² as an UNSIGNED 128-BIT two-long accumulator — the
  * streaming face of d46's decimal(38,0) escape (Σcents² exceeds int64
  * at sf0.1 already; the 128-bit add keeps the state 11 longs and exact
  * to ~10^19 rows). Addition is commutative and batch-cut-free. At
  * emission the 128-bit sum renders through BigDecimal.doubleValue —
  * the SAME correctly-rounded conversion Spark's decimal(38,0)→double
  * cast performs — and the r/covar trees mirror d46's shared-text IEEE
  * expressions op-for-op, so emissions are bit-identical to the batch
  * query on the same data (EQUALITY-pinned in StreamingSpec across a
  * mid-stream batch cut).
  */
object StreamingCorrMatrix {

  final case class MIn(key: String, q: Long, p: Long, d: Long)
  final case class MState(n: Long, sq: Long, sq2: Long, sp: Long,
                          sp2hi: Long, sp2lo: Long, sd: Long, sd2: Long,
                          sqp: Long, sqd: Long, spd: Long)
  final case class MOut(key: String, n_rows: Long,
                        corr_qty_price: Double, corr_qty_disc: Double,
                        corr_price_disc: Double, covar_qty_price: Double,
                        covar_qty_disc: Double, covar_price_disc: Double)

  /** Unsigned-128 add of a non-negative int64 into (hi, lo). */
  def add128(hi: Long, lo: Long, x: Long): (Long, Long) = {
    val nlo = lo + x
    // carry iff unsigned overflow: nlo < lo in unsigned order
    if (java.lang.Long.compareUnsigned(nlo, lo) < 0) (hi + 1, nlo) else (hi, nlo)
  }

  /** The 128-bit sum as a double — BigDecimal.doubleValue, identical to
    * Spark's Decimal(38,0) → double cast (both correctly rounded). */
  def toDouble128(hi: Long, lo: Long): Double = {
    val v = (BigInt(hi) << 64) + (BigInt(lo) & ((BigInt(1) << 64) - 1))
    BigDecimal(v).doubleValue
  }

  /** d46's closed forms over the exact sums — op-order identical to the
    * shared corrE/covarE SQL texts; shared by the processor and the
    * spec's oracle. */
  def stats(key: String, st: MState): MOut = {
    val n = st.n.toDouble
    val sq = st.sq.toDouble; val sq2 = st.sq2.toDouble
    val sp = st.sp.toDouble; val sp2 = toDouble128(st.sp2hi, st.sp2lo)
    val sd = st.sd.toDouble; val sd2 = st.sd2.toDouble
    val sqp = st.sqp.toDouble; val sqd = st.sqd.toDouble
    val spd = st.spd.toDouble
    def corr(sa: Double, sb: Double, sa2: Double, sb2: Double, sab: Double) =
      (n * sab - sa * sb) /
        (math.sqrt(n * sa2 - sa * sa) * math.sqrt(n * sb2 - sb * sb))
    def covar(sa: Double, sb: Double, sab: Double) =
      (sab - sa * sb / n) / (n - 1.0)
    MOut(key, st.n,
         corr(sq, sp, sq2, sp2, sqp), corr(sq, sd, sq2, sd2, sqd),
         corr(sp, sd, sp2, sd2, spd), covar(sq, sp, sqp),
         covar(sq, sd, sqd), covar(sp, sd, spd))
  }

  /** Per-key running correlation matrix over an unbounded stream of
    * (q, p, d) triples (RocksDB state store provider required). */
  def monitor(rows: Dataset[MIn], ttl: TTLConfig = TTLConfig.NONE)
             (implicit s: SparkSession): Dataset[MOut] = {
    import s.implicits._
    StreamOps.keyedFold(rows.groupByKey(_.key), "corrmatrix", ttl) {
      (key, prior: Option[MState], batch) =>
        var st = prior.getOrElse(MState(0L, 0L, 0L, 0L, 0L, 0L, 0L, 0L, 0L, 0L, 0L))
        batch.foreach { e =>
          val (hi, lo) = add128(st.sp2hi, st.sp2lo, e.p * e.p)
          st = MState(st.n + 1, st.sq + e.q, st.sq2 + e.q * e.q, st.sp + e.p,
                      hi, lo, st.sd + e.d, st.sd2 + e.d * e.d,
                      st.sqp + e.q * e.p, st.sqd + e.q * e.d, st.spd + e.p * e.d)
        }
        (Some(st), Iterator.single(stats(key, st)))
    }
  }
}
