package graft.streaming

import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.streaming.TTLConfig

/** Streaming twin of k51's domain-mixture weights: the per-source token
  * MASS and document count carried as running state over an unbounded
  * document stream — the live view a mixture designer watches while a
  * crawl ingests.
  *
  * State shape: keyed by SOURCE, ONE (toks, docs) pair of longs per
  * source — bounded by the source domain (k51's own bound), TTL-able.
  * Token counts are `text.split(" ", -1).length`, identical to the batch
  * `size(split(…))` counting trick — no tokens are ever held.
  *
  * Emissions are the per-source running totals after each batch (Update
  * mode: the sink's latest row per source IS the current corpus state).
  * The mixture arithmetic — share, sample_rate = min(1, target/actual),
  * epochs = ⌈target/actual⌉ — is a sink-side rollup over the latest row
  * per source, because every one of those numbers couples ALL sources
  * through the corpus total: a per-key processor that emitted rates
  * would be wrong the moment any other source received a document. The
  * StreamingSpec pin assembles the rollup with k51's exact formulas and
  * checks a one-batch replay equals batch k51 bit-for-bit.
  */
object StreamingDomainMixture {

  final case class DocIn(doc_id: Long, source: String, text: String)
  final case class SourceMass(toks: Long, docs: Long)
  final case class MassOut(source: String, n_tokens: Long, n_docs: Long)

  /** Running per-source (token mass, doc count) over an unbounded
    * document stream (RocksDB state store provider required). The only
    * shuffle is the groupByKey on source — the batch plan's one
    * source-keyed exchange. Keyed by source: fold the batch's token/doc
    * counts into the running pair, emit the post-batch totals once per
    * source per batch. */
  def sourceMass(docs: Dataset[DocIn], ttl: TTLConfig = TTLConfig.NONE)
                (implicit s: SparkSession): Dataset[MassOut] = {
    import s.implicits._
    StreamOps.keyedFold(docs.groupByKey(_.source), "mass", ttl) {
      (key, prior: Option[SourceMass], rows) =>
        var toks = 0L
        var n = 0L
        rows.foreach { d => n += 1; toks += d.text.split(" ", -1).length.toLong }
        val prev = prior.getOrElse(SourceMass(0L, 0L))
        val next = SourceMass(prev.toks + toks, prev.docs + n)
        (Some(next), Iterator.single(MassOut(key, next.toks, next.docs)))
    }
  }
}
