package graft.streaming

import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.streaming.TTLConfig

/** Streaming two-sample t statistics: the unbounded-stream twin of the
  * batch `d36_welch_ttest` and `d40_student_ttest` declared queries — a
  * live experiment monitor that maintains, per key, both arms' exact
  * integer power sums and emits the Welch AND pooled-Student t statistics.
  *
  * State per key = SIX longs (n, Σc, Σc² per arm) — the round-9 recipe's
  * whole point carried into streaming: the sufficient statistics are exact
  * integers, their ADDITION is commutative and batch-cut-free, and the
  * float statistics are ONE fixed IEEE closed-form tree evaluated at
  * emission time. The Scala trees here mirror the batch SQL fragments
  * op-for-op (left-to-right, ÷ × − sqrt), so every emitted double is
  * bit-identical to the batch queries on the same data — EQUALITY-pinned
  * (no tolerance) in StreamingSpec across a mid-stream batch cut.
  *
  * Int64 headroom matches d36's documented bound (~10^9 rows per key for
  * cents²); emits per touched key per batch (Update upsert shape); TTL
  * bounds cold-experiment state.
  */
object StreamingWelch {

  final case class TIn(key: String, arm: Int, cents: Long) // arm: 0 = A, 1 = B
  final case class TState(n1: Long, s1: Long, q1: Long,
                          n2: Long, s2: Long, q2: Long)
  final case class TOut(key: String, n_a: Long, n_b: Long,
                        t_welch: Double, welch_dof: Double,
                        t_pooled: Double, pooled_var: Double)

  /** The batch queries' closed forms over the six exact sums — op-order
    * identical to d36's `v1E/v2E/tE/dofE` and d40's `vpE/tpE` SQL
    * fragments; shared by the processor and the spec's oracle. */
  def stats(key: String, st: TState): TOut = {
    val n1 = st.n1.toDouble; val s1 = st.s1.toDouble; val q1 = st.q1.toDouble
    val n2 = st.n2.toDouble; val s2 = st.s2.toDouble; val q2 = st.q2.toDouble
    if (st.n1 < 2L || st.n2 < 2L)
      return TOut(key, st.n1, st.n2, Double.NaN, Double.NaN, Double.NaN,
                  Double.NaN)
    val v1 = (q1 - s1 * s1 / n1) / (n1 - 1.0)
    val v2 = (q2 - s2 * s2 / n2) / (n2 - 1.0)
    val tW = (s1 / n1 - s2 / n2) / math.sqrt(v1 / n1 + v2 / n2)
    val dof = ((v1 / n1 + v2 / n2) * (v1 / n1 + v2 / n2)) /
      ((v1 / n1) * (v1 / n1) / (n1 - 1.0) + (v2 / n2) * (v2 / n2) / (n2 - 1.0))
    val vp = ((q1 - s1 * s1 / n1) + (q2 - s2 * s2 / n2)) / (n1 + n2 - 2.0)
    val tP = (s1 / n1 - s2 / n2) / math.sqrt(vp * (1.0 / n1 + 1.0 / n2))
    TOut(key, st.n1, st.n2, tW, dof, tP, vp)
  }

  /** Per-key running Welch + pooled t statistics over an unbounded stream
    * (RocksDB state store provider, like every transformWithState
    * operator here). */
  def monitor(values: Dataset[TIn], ttl: TTLConfig = TTLConfig.NONE)
             (implicit s: SparkSession): Dataset[TOut] = {
    import s.implicits._
    StreamOps.keyedFold(values.groupByKey(_.key), "t", ttl) {
      (key, prior: Option[TState], rows) =>
        var st = prior.getOrElse(TState(0L, 0L, 0L, 0L, 0L, 0L))
        rows.foreach { r =>
          st = if (r.arm == 0)
            st.copy(n1 = st.n1 + 1L, s1 = st.s1 + r.cents,
                    q1 = st.q1 + r.cents * r.cents)
          else
            st.copy(n2 = st.n2 + 1L, s2 = st.s2 + r.cents,
                    q2 = st.q2 + r.cents * r.cents)
        }
        (Some(st), Iterator.single(stats(key, st)))
    }
  }
}
