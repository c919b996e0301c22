package graft.streaming

import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.streaming.TTLConfig

/** Streaming ExactSubstr span dedup: the unbounded-stream counterpart of
  * the batch k44 query (duplicate ≥20-token spans across documents, Lee
  * et al. 2022 §3.1) — the same twin relationship StreamingContamination
  * has to k34.
  *
  * State shape: keyed by span DIGEST, exactly TWO longs per digest — the
  * min and max doc_id that ever produced the span. That is the batch
  * form's whole duplication predicate (`dup iff min(doc) < max(doc)` over
  * the digest window) and its keep-min rule (`removed iff doc ≠ min`),
  * carried incrementally: bounded by the span-digest domain, not the
  * corpus, TTL-able per deployment. No span text crosses the shuffle or
  * enters state — digests only, like the batch plan.
  *
  * Semantics are PROBE-AT-ARRIVAL at micro-batch granularity (the
  * StreamingContamination contract): a span row is judged against the
  * state accumulated so far PLUS every same-digest row of its own
  * micro-batch — so a batch-at-once replay reproduces the batch k44
  * verdicts EXACTLY (pinned in StreamingSpec: the per-doc rollup of
  * emitted hits equals k44's n_dup_spans/n_removed_spans columns). A doc
  * arriving in a LATER batch does not retroactively flag the earlier
  * holder's spans — the retrospective answer is the batch query's job;
  * the stream answers "was this span a duplicate when it arrived", the
  * decision an ingest pipeline actually makes. Replay is idempotent on
  * state (min/max are); replayed rows re-emit their hits for the sink to
  * upsert by (doc_id, st).
  *
  * Emits one [[SpanHit]] per duplicated span occurrence — Update-mode
  * shape; the per-doc rollup (n_dup = count, n_removed = count of
  * removed = 1) is a sink-side upsert aggregation, the family's standard
  * posture.
  */
object StreamingSpanDedup {

  final case class SpanRow(doc_id: Long, st: Int, d: String)
  final case class Extremes(minDoc: Long, maxDoc: Long)
  final case class SpanHit(doc_id: Long, st: Int, first_holder: Long,
                           removed: Int)

  /** Stride-1 20-token span digests with 1-based start positions,
    * identical to the batch k44 shingling (split on single space, docs
    * under 20 tokens produce none). limit −1 on the split matters for
    * that identity: Spark's `split` and DuckDB's STRING_SPLIT both KEEP
    * trailing empty tokens, while the Scala default drops them — a
    * trailing space would otherwise shift the token count and diverge
    * from the batch twin. md5 via the JDK so the map-side flatMap needs
    * no Spark expression context. */
  def spans(text: String, width: Int = 20): Seq[(Int, String)] = {
    val t = text.split(" ", -1)
    if (t.length < width) Seq.empty
    else (0 to t.length - width).map { i =>
      val md = java.security.MessageDigest.getInstance("MD5")
        .digest(t.slice(i, i + width).mkString(" ")
          .getBytes(java.nio.charset.StandardCharsets.UTF_8))
      (i + 1, md.map("%02x".format(_)).mkString)
    }
  }

  /** Span-level duplication hits over an unbounded document stream
    * (RocksDB state store provider required). The shingling flatMap is
    * map-side; the only shuffle is the groupByKey on the digest — the
    * same digest-keyed exchange the batch window pays once per run, here
    * paid per micro-batch on that batch's rows only. Unchanged extremes
    * are not rewritten (replays stay idempotent on state) unless a TTL is
    * set — the [[StreamOps.keyedFold]] contract. */
  def spanDupStream(docs: Dataset[(Long, String)],
                    ttl: TTLConfig = TTLConfig.NONE)
                   (implicit s: SparkSession): Dataset[SpanHit] = {
    import s.implicits._
    val spanRows = docs.flatMap { case (id, text) =>
      spans(text).map { case (pos, dg) => SpanRow(id, pos, dg) } }
    StreamOps.keyedFold(spanRows.groupByKey(_.d), "spanextremes", ttl) {
      (_, prior: Option[Extremes], rows) =>
        val arr = rows.toArray
        var mn = prior.map(_.minDoc).getOrElse(Long.MaxValue)
        var mx = prior.map(_.maxDoc).getOrElse(Long.MinValue)
        arr.foreach { r =>
          if (r.doc_id < mn) mn = r.doc_id
          if (r.doc_id > mx) mx = r.doc_id
        }
        (Some(Extremes(mn, mx)),
         if (mn < mx)
           arr.iterator.map(r =>
             SpanHit(r.doc_id, r.st, mn, if (r.doc_id != mn) 1 else 0))
         else Iterator.empty)
    }
  }
}
