package graft.streaming

import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.streaming.TTLConfig

/** Streaming one-way ANOVA: the unbounded-stream twin of the batch
  * `d41_anova_f` declared query — a live k-arm experiment monitor that
  * maintains, per key, every arm's exact integer power sums and emits the
  * between/within sums of squares and the F statistic.
  *
  * State per key = 3·k longs (n, Σx, Σx² per arm, k fixed at
  * construction) — the StreamingWelch posture generalized from two arms
  * to k: exact integer sufficient statistics whose ADDITION is commutative
  * and batch-cut-free, with the float statistics ONE fixed IEEE tree at
  * emission. The Scala closed form mirrors d41's SQL fragments op-for-op
  * (the generated left-to-right Σ over arms — the d33 pivot discipline
  * carried into Scala as a sequential fold over the FIXED arm order), so
  * emissions are bit-identical to batch d41 on the same data —
  * EQUALITY-pinned in StreamingSpec across a mid-stream batch cut.
  *
  * Arms outside [0, k) are dropped by contract (a production monitor maps
  * its variants to dense indices up front). Emits per touched key per
  * batch (Update upsert shape); TTL bounds cold-experiment state.
  */
object StreamingAnova {

  final case class AIn(key: String, arm: Int, x: Long)
  final case class AState(n: Seq[Long], s: Seq[Long], q: Seq[Long])
  final case class AOut(key: String, n_rows: Long, df_between: Int,
                        df_within: Long, ss_between: Double,
                        ss_within: Double, f_stat: Double)

  /** d41's closed form over the 3·k exact sums — op-order identical to
    * its `ssbE/sswE/fE` SQL fragments with the Σ-over-arms evaluated in
    * fixed arm order; shared by the processor and the spec's oracle. */
  def stats(key: String, st: AState): AOut = {
    val k = st.n.length
    val nT = st.n.sum
    if (st.n.exists(_ == 0L) || nT <= k.toLong)
      return AOut(key, nT, k - 1, nT - k.toLong, Double.NaN, Double.NaN,
                  Double.NaN)
    // left-to-right over arms, like the generated SQL text
    var sumSq = 0.0   // Σ_g s_g²/n_g
    var ssw = 0.0     // Σ_g (q_g − s_g²/n_g)
    var sAll = 0.0
    var nAll = 0.0
    var g = 0
    while (g < k) {
      val n = st.n(g).toDouble; val s = st.s(g).toDouble
      val q = st.q(g).toDouble
      sumSq += s * s / n
      ssw += q - s * s / n
      sAll += s
      nAll += n
      g += 1
    }
    val ssb = sumSq - sAll * sAll / nAll
    val f = (ssb / (k - 1.0)) / (ssw / (nAll - k.toDouble))
    AOut(key, nT, k - 1, nT - k.toLong, ssb, ssw, f)
  }

  /** Per-key running one-way ANOVA over an unbounded stream (RocksDB
    * state store provider, like every transformWithState operator here). */
  def monitor(values: Dataset[AIn], arms: Int, ttl: TTLConfig = TTLConfig.NONE)
             (implicit s: SparkSession): Dataset[AOut] = {
    import s.implicits._
    StreamOps.keyedFold(values.groupByKey(_.key), "aov", ttl) {
      (key, prior: Option[AState], rows) =>
        val st = prior.getOrElse(
          AState(Seq.fill(arms)(0L), Seq.fill(arms)(0L), Seq.fill(arms)(0L)))
        val n = st.n.toArray; val sm = st.s.toArray; val q = st.q.toArray
        rows.foreach { r =>
          if (r.arm >= 0 && r.arm < arms) {
            n(r.arm) += 1L
            sm(r.arm) += r.x
            q(r.arm) += r.x * r.x
          }
        }
        val ns = AState(n.toSeq, sm.toSeq, q.toSeq)
        (Some(ns), Iterator.single(stats(key, ns)))
    }
  }
}
