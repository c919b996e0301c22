package graft.streaming

import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.streaming.TTLConfig

/** Streaming twin of k58's DSIR importance weights: the per-token RAW and
  * TARGET corpus counts carried as running state over an unbounded
  * document stream — the [[StreamingUnigramLm]] posture applied to the
  * two-distribution log-ratio (ingest-time "does this doc look like my
  * target domain?" scoring, the decision DSIR makes while a crawl runs).
  *
  * State shape: keyed by TOKEN, ONE (cr, ctt) pair of longs — the raw
  * and target occurrence counts, exactly the batch `cr` regroup carried
  * incrementally; bounded by the vocabulary, TTL-able. A second
  * SINGLETON-keyed (nr, nt) pair carries the corpus totals. The vocab
  * size V (the smoothing denominator) is NOT a state scalar: it is the
  * count of distinct tokens ever seen, recovered sink-side from the
  * `first` flag each hit carries (true iff its token was unseen before
  * its batch — an append-like once-per-token fact, the
  * StreamingSourceOverlap discipline).
  *
  * Semantics are PROBE-AT-ARRIVAL (the family contract): a document
  * scores against the corpus accumulated THROUGH its own micro-batch,
  * so a one-batch replay reproduces batch k58's distributions exactly;
  * later target docs do not retroactively re-score earlier ones.
  *
  * Emissions are per-doc SUFFICIENT STATISTICS, not the final score: one
  * [[TokenHit]] per (doc, token type) with the doc's count and the
  * post-batch (cr, ctt), plus one [[Tot]] per batch. The mean-llr —
  * Σ c·ln(((ctt+1)(nr+V))/((cr+1)(nt+V))) / Σ c — is one sink-side
  * rollup pairing a doc's hits with its batch's totals (pinned equal to
  * batch k58 bit-for-bit on a one-batch replay in StreamingSpec).
  *
  * PAIRING CONTRACT (r19 review): neither emission carries a batch id,
  * so across batches the hits↔totals↔V alignment needs a batch-indexed
  * sink — deploy [[tokenHits]] and [[corpusTotals]] behind foreachBatch
  * sinks sharing one trigger and key both by the sink's batchId (the
  * production posture). An unindexed Update sink recovers the exact
  * pairing only for the one-batch replay the pin exercises; "latest
  * Tot against earlier hits" is deliberately NOT a defined read.
  *
  * TTL CONTRACT (r20 advice): V-via-`first` is only valid with
  * `TTLConfig.NONE`. Under a finite TTL an expired token that reappears
  * re-emits `first=true` (its ValueState was dropped, so `prev.isEmpty`
  * again) and its (cr, ctt) restart at 0 — the sink-side distinct-first
  * count then OVER-counts the vocabulary and the restarted counts no
  * longer mean "occurrences ever". A TTL deployment must either accept
  * that V and the counts become windowed quantities (consistent with
  * each other — both forget together, which is often exactly the wanted
  * drift-tracking semantics) or carry V as a singleton-keyed state
  * scalar alongside [[Tot]] with the same TTL. The constructors default
  * to NONE; pass a TTL only with one of those two postures chosen. */
object StreamingDsir {

  final case class DocIn(doc_id: Long, source: String, text: String)
  final case class TokRow(t: String, doc_id: Long, c: Long, tgt: Boolean)
  final case class Counts(cr: Long, ctt: Long)
  final case class TokenHit(doc_id: Long, t: String, c: Long,
                            cr: Long, ctt: Long, first: Boolean)
  final case class Tot(nr: Long, nt: Long)

  /** Per-document token-type counts with the doc's target flag (split on
    * single space) — identical to the batch type-level frame. */
  def tf(d: DocIn, targets: Set[String]): Seq[TokRow] = {
    val tgt = targets.contains(d.source)
    d.text.split(" ", -1).groupBy(identity).iterator
      .map { case (t, occ) => TokRow(t, d.doc_id, occ.length.toLong, tgt) }
      .toSeq
  }

  /** Per-(doc, token) hits against post-batch raw/target counts. Keyed by
    * token: (cr, ctt) += the batch's raw/target occurrences, then every
    * (doc, token) row scores against the POST-batch counts; `first` marks
    * the rows of the batch that first saw this token. */
  def tokenHits(docs: Dataset[DocIn],
                targets: Set[String] =
                  graft.engine.Round19Ops.DsirTargetSources.toSet,
                ttl: TTLConfig = TTLConfig.NONE)
               (implicit s: SparkSession): Dataset[TokenHit] = {
    import s.implicits._
    StreamOps.keyedFold(docs.flatMap(tf(_, targets)).groupByKey(_.t), "c", ttl) {
      (key, prior: Option[Counts], rows) =>
        // fold to per-doc multiplicities first (the StreamingBigramLm
        // type-level buffer bound — never the raw row objects)
        val dc = scala.collection.mutable.LinkedHashMap.empty[Long, Long]
        var addR = 0L
        var addT = 0L
        rows.foreach { r =>
          dc.update(r.doc_id, dc.getOrElse(r.doc_id, 0L) + r.c)
          addR += r.c
          if (r.tgt) addT += r.c
        }
        val next = Counts(prior.map(_.cr).getOrElse(0L) + addR,
                          prior.map(_.ctt).getOrElse(0L) + addT)
        val first = prior.isEmpty
        (Some(next), dc.iterator.map { case (doc, c) =>
          TokenHit(doc, key, c, next.cr, next.ctt, first)
        })
    }
  }

  /** Running corpus (raw, target) token totals, one [[Tot]] per batch
    * (the totals that batch's documents score against). The singleton
    * key sees ONE small row per DOCUMENT (token count + target flag
    * folded map-side — r19 review: the first cut funneled the whole
    * per-token-type stream through the one key and re-tokenized every
    * document a second time; this shape shuffles doc-count rows and
    * needs no tokenization beyond a split length). */
  def corpusTotals(docs: Dataset[DocIn],
                   targets: Set[String] =
                     graft.engine.Round19Ops.DsirTargetSources.toSet,
                   ttl: TTLConfig = TTLConfig.NONE)
                  (implicit s: SparkSession): Dataset[Tot] = {
    import s.implicits._
    val perDoc = docs.map { d =>
      val n = d.text.split(" ", -1).length.toLong
      TokRow("", d.doc_id, n, targets.contains(d.source))
    }
    StreamOps.keyedFold(perDoc.groupByKey(_ => "corpus"), "t", ttl) {
      (_, prior: Option[Tot], rows) =>
        var nr = prior.map(_.nr).getOrElse(0L)
        var nt = prior.map(_.nt).getOrElse(0L)
        rows.foreach { r => nr += r.c; if (r.tgt) nt += r.c }
        val next = Tot(nr, nt)
        (Some(next), Iterator.single(next))
    }
  }
}
