package graft.streaming

import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.streaming.TTLConfig

/** Streaming twin of k53's cross-source span-overlap matrix: the LIVE
  * mirror-site / syndicated-boilerplate detector — as documents ingest,
  * emit a (digest, source_a, source_b) row the moment a span is first
  * seen in a NEW source pair, so the sink's per-pair count is always the
  * current overlap matrix.
  *
  * State shape: keyed by span DIGEST, the SORTED set of sources that
  * ever held the span — bounded by the SOURCE DOMAIN per digest (k53's
  * own bound; Σ over digests = the distinct (digest, source) frame the
  * batch plan aggregates), TTL-able. No span text in state (digests
  * only, the [[StreamingSpanDedup]] posture; shingling reuses its
  * `spans` helper, so split/md5 parity with the batch plan is shared,
  * not re-proved).
  *
  * Emission discipline: each (digest, unordered source pair) is emitted
  * EXACTLY ONCE over the stream's life — when the pair first co-holds
  * the span. A batch's new sources are folded in sorted order, each
  * pairing with every source already present (prior state plus the
  * batch's earlier additions), so a one-batch replay emits exactly the
  * i < j pairs of each digest's source set and the sink rollup
  * `count(*) per (a, b)` equals batch k53's distinct-span counts
  * bit-for-bit (pinned in StreamingSpec). Within-source repetition never
  * emits (set semantics). Runs in OutputMode.Update (the repo's
  * transformWithState + memory-sink rollup posture — see [[newPairs]]);
  * the emitted rows are nevertheless append-LIKE facts — each (digest,
  * pair) at most once over the stream's life, never retracted — so a
  * sink configured for either mode accumulates the same matrix as a
  * `count(*) per (a, b)` rollup. */
object StreamingSourceOverlap {

  final case class DocIn(doc_id: Long, source: String, text: String)
  final case class DigestSrc(d: String, source: String)
  final case class Srcs(sources: Seq[String])
  final case class PairOut(d: String, source_a: String, source_b: String)

  /** Distinct (digest, source) rows of one document — the map-side
    * projection of the batch plan's DISTINCT (digest, source) frame. */
  def digests(doc: DocIn): Seq[DigestSrc] =
    StreamingSpanDedup.spans(doc.text).map(_._2).distinct
      .map(DigestSrc(_, doc.source))

  /** Newly-formed (digest, source pair) facts over an unbounded document
    * stream (RocksDB state store provider required). The shingling is
    * map-side; the only shuffle is the groupByKey on digest — the batch
    * plan's one digest exchange. */
  def newPairs(docs: Dataset[DocIn], ttl: TTLConfig = TTLConfig.NONE)
              (implicit s: SparkSession): Dataset[PairOut] = {
    import s.implicits._
    StreamOps.keyedFold(docs.flatMap(digests _).groupByKey(_.d), "srcs", ttl) {
      (key, prior: Option[Srcs], rows) =>
        val have = scala.collection.mutable.TreeSet.empty[String]
        prior.foreach(p => have ++= p.sources)
        val out = Seq.newBuilder[PairOut]
        rows.map(_.source).toSeq.distinct.sorted.foreach { src =>
          if (!have.contains(src)) {
            have.foreach { e =>
              val (a, b) = if (e < src) (e, src) else (src, e)
              out += PairOut(key, a, b)
            }
            have += src
          }
        }
        (Some(Srcs(have.toSeq)), out.result().iterator)
    }
  }
}
