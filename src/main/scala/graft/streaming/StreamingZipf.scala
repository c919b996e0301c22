package graft.streaming

import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.streaming.TTLConfig

/** Streaming twin of k60's per-source Zipf fit: the (source, token)
  * frequency SPECTRUM carried as running state over an unbounded
  * document stream — the live corpus-shape view a crawl operator watches
  * (a source whose slope drifts toward 0 is going templated/spammy).
  *
  * State shape: keyed by (SOURCE, TOKEN), ONE long per key — the running
  * occurrence count, exactly the batch `tf` aggregate carried
  * incrementally; bounded by source-domain × vocabulary (the model-class
  * bound, never the corpus), TTL-able per deployment. No document text
  * is ever held.
  *
  * Emissions are the POST-batch counts of the keys touched in the batch
  * (Update mode: the sink's latest row per key IS the current spectrum —
  * and because counts only grow, "latest" is recoverable as max(c) even
  * from an append-accumulating test sink). The fit itself — ranks, the
  * decimal-exact OLS sums, slope/intercept/TTR — is a sink-side rollup
  * through the SAME finisher the batch query uses
  * ([[graft.engine.Round19Ops.k60FromTf]]), because the slope couples
  * ALL tokens of a source: a per-key processor emitting slopes would be
  * wrong the moment any other token of the source arrived. Stream state
  * ≡ batch tf ⟹ outputs bit-equal, by construction and pinned in
  * StreamingSpec across a two-batch cut. */
object StreamingZipf {

  final case class DocIn(doc_id: Long, source: String, text: String)
  final case class TokRow(source: String, t: String, c: Long)
  final case class Count(n: Long)
  final case class SpectrumOut(source: String, t: String, c: Long)

  /** Per-document token-type counts (split on single space) — the map-side
    * pre-fold, so a doc repeating a token 100× sends ONE row. */
  def tf(d: DocIn): Seq[TokRow] =
    d.text.split(" ", -1).groupBy(identity).iterator
      .map { case (t, occ) => TokRow(d.source, t, occ.length.toLong) }.toSeq

  /** Running (source, token) → count spectrum over an unbounded document
    * stream (RocksDB state store provider required). The only shuffle is
    * the groupByKey on (source, token) — the batch plan's one type-level
    * exchange. Keyed by (source, token): running count += the batch's
    * occurrences, one post-batch emission per touched key. */
  def spectrum(docs: Dataset[DocIn], ttl: TTLConfig = TTLConfig.NONE)
              (implicit s: SparkSession): Dataset[SpectrumOut] = {
    import s.implicits._
    StreamOps.keyedFold(docs.flatMap(tf).groupByKey(r => (r.source, r.t)), "c", ttl) {
      (key, prior: Option[Count], rows) =>
        var add = 0L
        rows.foreach(add += _.c)
        val next = prior.map(_.n).getOrElse(0L) + add
        (Some(Count(next)), Iterator.single(SpectrumOut(key._1, key._2, next)))
    }
  }
}
