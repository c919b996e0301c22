package graft.streaming

import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.streaming.TTLConfig

/** Streaming twin of k71's DoReMi domain-weight update: the per-source
  * sufficient statistics (Σ zi, n_docs) carried as running state over an
  * unbounded document stream — the live mixture-controller view (a crawl
  * operator re-tunes sampling weights as domains drift).
  *
  * State shape: keyed by SOURCE, TWO exact longs — the integer
  * classifier-dot sum and the document count, exactly the batch
  * aggregate carried incrementally (the k69 dot is int64 per doc, so the
  * running sum is EXACT under any arrival order — no float state
  * anywhere); bounded by the source domain (the model-class bound).
  *
  * Emissions are the post-batch (source, sum_zi, n_docs) of touched
  * sources (Update upsert shape; n_docs grows monotonically, so "latest"
  * is recoverable as the max-n row even from an append-accumulating test
  * sink). The weight computation itself — means, excess, the two
  * multiplicative rounds — is a sink-side rollup through the SAME
  * finisher the batch query uses ([[graft.engine.Round20cOps.k71FromZi]]),
  * because the update couples ALL sources (global mean + two normalizing
  * sums): per-key emitted weights would be wrong the moment any other
  * source's document arrived. Stream state ≡ batch aggregate ⟹ outputs
  * bit-equal, by construction and pinned across a two-batch cut in
  * StreamingSpec. Under a finite TTL an expired source's statistics
  * restart at zero and every later rollup under-weights it — the twin is
  * exact only with `TTLConfig.NONE` (the StreamingDsir caveat
  * discipline). */
object StreamingDoremi {

  final case class DocIn(doc_id: Long, source: String, text: String)
  final case class ZiStat(sum_zi: Long, n: Long)
  final case class StatOut(source: String, sum_zi: Long, n_docs: Long)

  /** The k69 frozen-classifier integer dot, re-derived per doc in Scala —
    * pinned equal to the batch Column expression by the twin test's
    * bit-equality (split keeps trailing empties, matching Spark's
    * split). */
  def zi(text: String): Long = {
    val k = graft.engine.Round20Ops.K69
    val toks = text.split(" ", -1)
    k("wu") * toks.distinct.length.toLong +
      k("wt") * toks.length.toLong +
      k("ws") * toks.count(t => t == "a" || t == "the").toLong +
      // code POINTS, not UTF-16 units: Spark's length()/DuckDB LENGTH
      // count characters, and a supplementary-plane char (emoji) would
      // silently break the stream≡batch bit-equality via String.length
      k("wc") * text.codePointCount(0, text.length).toLong + k("b")
  }

  /** Running per-source (Σ zi, n) over an unbounded document stream
    * (RocksDB state store provider required). The only shuffle is the
    * groupByKey on source — the batch plan's one exchange. Keyed by
    * source: (Σ zi, n) += the batch's documents; one post-batch emission
    * per touched source. */
  def stats(docs: Dataset[DocIn], ttl: TTLConfig = TTLConfig.NONE)
           (implicit s: SparkSession): Dataset[StatOut] = {
    import s.implicits._
    StreamOps.keyedFold(docs.map(d => (d.source, zi(d.text))).groupByKey(_._1),
                        "s", ttl) {
      (key, prior: Option[ZiStat], rows) =>
        var addZ = 0L; var addN = 0L
        rows.foreach { case (_, z) => addZ += z; addN += 1L }
        val prev = prior.getOrElse(ZiStat(0L, 0L))
        val next = ZiStat(prev.sum_zi + addZ, prev.n + addN)
        (Some(next), Iterator.single(StatOut(key, next.sum_zi, next.n)))
    }
  }
}
