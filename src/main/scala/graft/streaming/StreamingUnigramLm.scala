package graft.streaming

import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.streaming.TTLConfig

/** Streaming twins of the r13 quality gates (the r11 brief item 7):
  *
  *  - the k40 unigram-LM surprise filter's CORPUS-COUNT state as a
  *    per-token ValueState processor with TTL — the
  *    [[StreamingContamination]] posture applied to counts instead of
  *    min-ids;
  *  - the k41 Gopher hard gate, which needs NO state at all (every rule
  *    reads only the document itself) and is therefore declared as the
  *    stateless per-doc map [[gateFlags]] — the honest streaming shape;
  *    wrapping it in a stateful processor would be decoration.
  *
  * k40 state shape: keyed by TOKEN, ONE long per token — the corpus
  * occurrence count, exactly the `cf` aggregate the batch query computes,
  * carried incrementally; bounded by the vocabulary, not the corpus,
  * TTL-able per deployment. A second SINGLETON-keyed long carries the
  * corpus token total (`tot`). No document text is ever held.
  *
  * Semantics are PROBE-AT-ARRIVAL (the StreamingContamination contract):
  * a document scores against the corpus accumulated THROUGH ITS OWN
  * micro-batch, so the batch-at-once replay is exactly k40's corpus
  * distribution; a document arriving later does not retroactively
  * re-score earlier ones (the retrospective answer is the batch query's
  * job — the stream answers "how surprising was this doc when it
  * arrived", the ingest-time decision).
  *
  * Emissions are the per-doc SUFFICIENT STATISTICS, not the final score:
  * one [[TokenHit]] per (doc, token type) carrying the doc's count and
  * the token's corpus count at batch end, plus one [[Tot]] per batch.
  * The score −Σ c·ln(ct/tot) / n is one sink-side upsert aggregation
  * pairing a doc's hits with its batch's total — the same sink-rollup
  * posture as StreamingContamination's per-doc (count, min) rollup.
  */
object StreamingUnigramLm {

  final case class DocIn(doc_id: Long, text: String)
  final case class TokRow(t: String, doc_id: Long, c: Long)
  final case class Count(n: Long)
  final case class TokenHit(doc_id: Long, t: String, c: Long, ct: Long)
  final case class Tot(tot: Long)

  /** Per-document token-type counts, identical to the batch `tf`
    * aggregate (split on single space). */
  def tf(d: DocIn): Seq[TokRow] =
    d.text.split(" ", -1).groupBy(identity).iterator
      .map { case (t, occ) => TokRow(t, d.doc_id, occ.length.toLong) }.toSeq

  /** Per-(doc, token) corpus-count hits over an unbounded document stream
    * (RocksDB state store provider required). The tf map is map-side; the
    * only shuffle is the groupByKey on token — the same token-keyed
    * exchange the batch `cf` aggregate pays once per run. Keyed by token:
    * corpus count state += the batch's occurrences, then every (doc,
    * token) row of the batch scores against the POST-batch count — so a
    * one-batch replay reproduces the batch query's corpus distribution
    * exactly. */
  def tokenHits(docs: Dataset[DocIn], ttl: TTLConfig = TTLConfig.NONE)
               (implicit s: SparkSession): Dataset[TokenHit] = {
    import s.implicits._
    StreamOps.keyedFold(docs.flatMap(tf _).groupByKey(_.t), "ct", ttl) {
      (key, prior: Option[Count], rows) =>
        val arr = rows.toArray
        val ct = prior.map(_.n).getOrElse(0L) + arr.iterator.map(_.c).sum
        (Some(Count(ct)), arr.iterator.map(r => TokenHit(r.doc_id, key, r.c, ct)))
    }
  }

  /** Running corpus token total, one [[Tot]] per micro-batch (the total
    * all documents in that batch score against). The per-doc counts are
    * pre-summed map-side by an explicit mapPartitions fold
    * (groupByKey + transformWithState performs NO partial aggregation on
    * its own — r12 ADVICE), so the singleton key genuinely sees one
    * number per non-empty upstream partition per batch, not one row per
    * document. Empty partitions emit nothing, so an idle batch produces
    * no spurious Tot row. */
  def corpusTotal(docs: Dataset[DocIn], ttl: TTLConfig = TTLConfig.NONE)
                 (implicit s: SparkSession): Dataset[Tot] = {
    import s.implicits._
    val partTotals = docs.mapPartitions { it =>
      var n = 0L
      var any = false
      it.foreach { d => any = true; n += d.text.split(" ", -1).length.toLong }
      if (any) Iterator.single(Count(n)) else Iterator.empty
    }
    StreamOps.keyedFold(partTotals.groupByKey(_ => ""), "tot", ttl) {
      (_, prior: Option[Count], rows) =>
        val tot = prior.map(_.n).getOrElse(0L) + rows.map(_.n).sum
        (Some(Count(tot)), Iterator.single(Tot(tot)))
    }
  }

  final case class GateFlags(doc_id: Long, n_tokens: Int, n_stop_kinds: Int,
                             top_frac: Double, wc_ok: Int, stop_ok: Int,
                             conc_ok: Int, keep: Int)

  private val stops = Set("a", "the", "of", "and", "to", "value", "data")

  /** The k41 Gopher hard gate, stateless: every rule is a function of the
    * single document, so the streaming form is a map — per-doc working
    * memory is one count-by-token table, the same per-doc bound the batch
    * aggregation carries. Flags decide on the raw mc/n quotient and the
    * same ≥50 / ≥2-kinds / ≤0.1 literals as batch k41. */
  def gateFlags(docs: Dataset[DocIn])
               (implicit s: SparkSession): Dataset[GateFlags] = {
    import s.implicits._
    docs.map { d =>
      val toks = d.text.split(" ", -1)
      val counts = toks.groupBy(identity)
      val n = toks.length
      val mc = counts.valuesIterator.map(_.length).max
      val kinds = counts.keysIterator.count(stops)
      val frac = mc.toDouble / n
      GateFlags(d.doc_id, n, kinds,
        BigDecimal(frac).setScale(9, BigDecimal.RoundingMode.HALF_UP)
          .toDouble,
        if (n >= 50) 1 else 0, if (kinds >= 2) 1 else 0,
        if (frac <= 0.1) 1 else 0,
        if (n >= 50 && kinds >= 2 && frac <= 0.1) 1 else 0)
    }
  }
}
