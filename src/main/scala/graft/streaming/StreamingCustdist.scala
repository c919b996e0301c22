package graft.streaming

import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.streaming.TTLConfig

/** Streaming twin of d63's count-of-counts (TPC-H Q13 shape): the LIVE
  * order-count distribution over an unbounded order stream — the
  * dashboard view "how many customers have placed exactly c qualifying
  * orders so far".
  *
  * This twin carries the one changelog shape no other twin exercises:
  * RETRACTION. A distribution bucket is not monotone — when a customer
  * moves from c to c+1 orders, bucket c LOSES a member — so per-batch
  * emissions are (bucket, ±1) DELTAS, not upserts: a customer whose
  * count steps old→new in a batch emits (old, −1) and (new, +1) (no
  * retraction on first sight — bucket 0 is not state, see below). The
  * sink folds deltas per bucket; intermediate buckets net to zero and
  * vanish, exactly like an aggregate-changelog consumer (the i10
  * mv_retraction semantics carried into transformWithState).
  *
  * State shape: keyed by CUSTOMER, one long (the running qualifying-order
  * count) — the batch pre-aggregate carried incrementally; bounded by
  * |customers| (dimension-sized, the model-class bound), TTL-able per
  * deployment with the caveat that an expired customer's bucket
  * membership is silently forgotten, so the folded distribution is only
  * exact under `TTLConfig.NONE` (the StreamingDsir caveat discipline).
  *
  * The ZERO bucket (customers with no qualifying orders — the outer-join
  * side that makes Q13 irreducible) cannot be observed from an order
  * stream: it needs the customer dimension. It is recovered sink-side in
  * closed form — custdist(0) = |customers| − Σ_{c ≥ 1} custdist(c) —
  * which is exactly what the batch left join computes; pinned bit-equal
  * to batch d63 across a two-batch cut in StreamingSpec.
  *
  * Referential-integrity precondition (r16 ADVICE): the closed form is
  * only valid if every streamed `o_custkey` exists in the customer
  * dimension snapshot |customers| is taken from — an order for an
  * unknown or late-arriving customer adds to Σ custdist(c ≥ 1) without
  * being in |customers|, silently deflating the zero bucket (possibly
  * below zero). The TPC-H fixture guarantees the FK; a production
  * deployment must either enforce it upstream or refresh |customers|
  * from the same watermark as the order stream. */
object StreamingCustdist {

  final case class OrderIn(o_custkey: Long)
  final case class Count(n: Long)
  /** One distribution-changelog row: bucket `c_count` gains/loses one
    * member. */
  final case class DeltaOut(c_count: Long, delta: Long)

  /** Distribution changelog over an unbounded qualifying-order stream
    * (RocksDB state store provider required). The only shuffle is the
    * groupByKey on customer — the batch plan's one pre-agg exchange.
    * Keyed by customer: count += the batch's orders; emit the bucket
    * move as a retraction pair (old bucket only if the customer was
    * already seen — the zero bucket is closed-form, not state). */
  def distributionDeltas(orders: Dataset[OrderIn],
                         ttl: TTLConfig = TTLConfig.NONE)
                        (implicit s: SparkSession): Dataset[DeltaOut] = {
    import s.implicits._
    StreamOps.keyedFold(orders.groupByKey(_.o_custkey), "c", ttl) {
      (_, prior: Option[Count], rows) =>
        var add = 0L
        rows.foreach(_ => add += 1L)
        if (add == 0L) (None, Iterator.empty)
        else {
          val old = prior.map(_.n).getOrElse(0L)
          val next = old + add
          (Some(Count(next)),
           if (old >= 1L) Iterator(DeltaOut(old, -1L), DeltaOut(next, 1L))
           else Iterator.single(DeltaOut(next, 1L)))
        }
    }
  }
}
