package graft.streaming

import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.streaming.TTLConfig

/** Streaming two-sample rank statistics: the unbounded-stream twin of the
  * batch `d35_mann_whitney_u` and `d37_ks_test` declared queries — a live
  * A/B-test monitor that maintains, per experiment key, the Mann-Whitney
  * doubled-U statistics, the common-language effect size, and the
  * Kolmogorov-Smirnov distance between two arms.
  *
  * State per key = the two arms' VALUE-GRID histograms (2 × gridMax longs,
  * the d35/d28 fixed-state posture) — bounded at any stream length, and
  * counter ADDITION is commutative, so arrival order and batch cuts never
  * matter: like KMV/M4/timing-quantiles this twin is EQUALITY-pinned
  * against its batch queries with no fold-order caveat. The emitted
  * statistics evaluate the SAME all-integer identities as the batch SQL
  * (doubled midranks 2·cumlt + cnt + 1; KS numerator max |cumA·n_b −
  * cumB·n_a|), with the two float outputs single divisions of exact ints.
  *
  * Values outside [1, gridMax] are clamped into the boundary cells (the
  * d28 grid-clamp posture — documented, not silent: a production grid is
  * sized to the metric's domain). Emits per touched key per batch (Update
  * upsert shape); TTL bounds cold-experiment state.
  */
object StreamingAbTest {

  final case class AbIn(key: String, arm: Int, value: Long) // arm: 0 = A, 1 = B
  final case class AbState(ca: Seq[Long], cb: Seq[Long])
  final case class AbOut(key: String, n_a: Long, n_b: Long,
                         u2_a: Long, u2_b: Long, cles_a: Double,
                         d_num: Long, ks_d: Double)

  /** The batch queries' integer identities over the two grid histograms —
    * one ascending sweep; shared by the processor and the spec's oracle. */
  def stats(key: String, ca: Seq[Long], cb: Seq[Long]): AbOut = {
    val na = ca.sum
    val nb = cb.sum
    var cumA = 0L; var cumB = 0L; var dra = 0L; var dnum = 0L
    var i = 0
    while (i < ca.length) {
      val ct = ca(i) + cb(i)
      val cumlt = cumA + cumB // strictly-below count before this cell
      dra += ca(i) * (2L * cumlt + ct + 1L) // doubled midranks (d35)
      cumA += ca(i); cumB += cb(i)
      val d = math.abs(cumA * nb - cumB * na) // KS numerator (d37)
      if (d > dnum) dnum = d
      i += 1
    }
    val u2a = dra - na * (na + 1L)
    AbOut(key, na, nb, u2a, 2L * na * nb - u2a,
          if (na == 0L || nb == 0L) Double.NaN
          else u2a.toDouble / (2L * na * nb).toDouble,
          dnum,
          if (na == 0L || nb == 0L) Double.NaN
          else dnum.toDouble / (na * nb).toDouble)
  }

  /** Per-experiment running Mann-Whitney / KS statistics over an unbounded
    * stream (needs the RocksDB state store provider, like every
    * transformWithState operator here). */
  def monitor(values: Dataset[AbIn], gridMax: Int = 50,
              ttl: TTLConfig = TTLConfig.NONE)
             (implicit s: SparkSession): Dataset[AbOut] = {
    import s.implicits._
    StreamOps.keyedFold(values.groupByKey(_.key), "ab", ttl) {
      (key, prior: Option[AbState], rows) =>
        val st = prior.getOrElse(
          AbState(Seq.fill(gridMax)(0L), Seq.fill(gridMax)(0L)))
        val ca = st.ca.toArray
        val cb = st.cb.toArray
        rows.foreach { r =>
          val cell = math.min(math.max(r.value, 1L), gridMax.toLong).toInt - 1
          if (r.arm == 0) ca(cell) += 1L else cb(cell) += 1L
        }
        (Some(AbState(ca.toSeq, cb.toSeq)),
         Iterator.single(stats(key, ca.toSeq, cb.toSeq)))
    }
  }
}
