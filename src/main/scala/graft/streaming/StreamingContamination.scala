package graft.streaming

import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.streaming.TTLConfig

/** Streaming k-gram contamination probe: the unbounded-stream counterpart
  * of the batch k34 query (eval-set docs sharing a verbatim 3-gram with
  * any train doc — the Brown et al. 2020 §C n-gram decontamination
  * predicate). The last batch/streaming parity gap in the dedup stack
  * after the r7 trio (sequenceCount / intervalUnion / funnel).
  *
  * State shape: keyed by 3-gram, ONE long per gram — the minimum train
  * doc_id that has ever produced this gram. That is exactly the per-gram
  * window `min(train doc_id)` the batch form computes (PipelineOps k34),
  * carried incrementally: bounded by the gram domain, not the corpus,
  * TTL-able per deployment. No doc text, gram list, or pair state is ever
  * held.
  *
  * Semantics are PROBE-AT-ARRIVAL: an eval doc is checked against the
  * train corpus accumulated so far (train rows of the SAME micro-batch
  * count — the batch-at-once replay is then exactly k34). A train doc
  * arriving AFTER an eval doc does not retroactively flag it — the
  * retrospective answer needs the full eval history and is the batch
  * query's job; the stream answers "was this doc contaminated when it
  * arrived", which is the decision actually made in an ingest pipeline.
  *
  * Emits one [[GramHit]] per (eval doc, shared gram) — Update-mode shape;
  * the per-doc rollup (n_shared = count, contaminated_by = min) is a
  * sink-side upsert aggregation, same posture as the other parity
  * operators' per-key emissions. Replay of a train doc is idempotent
  * (min is); replay of an eval doc re-emits its hits for the sink to
  * upsert by (doc_id, gram).
  */
object StreamingContamination {

  final case class DocIn(doc_id: Long, split: String, text: String)
  final case class GramRow(g: String, doc_id: Long, split: String)
  final case class MinTrain(doc_id: Long)
  final case class GramHit(doc_id: Long, g: String, contaminated_by: Long)

  /** Distinct word 3-grams, identical to the batch k34 shingling
    * (split on single space, docs under 3 tokens produce none). limit −1
    * on the split matters for that identity: Spark's `split` and
    * DuckDB's STRING_SPLIT both KEEP trailing empty tokens, while the
    * Scala default drops them (the StreamingSpanDedup lesson, applied to
    * the same latent class here). */
  def grams(text: String): Seq[String] = {
    val t = text.split(" ", -1)
    if (t.length < 3) Seq.empty
    else (0 until t.length - 2).map(i => t(i) + " " + t(i + 1) + " " + t(i + 2)).distinct
  }

  /** Gram-level contamination hits over an unbounded document stream
    * (RocksDB state store provider required, like every transformWithState
    * operator here). The flatMap shingling is map-side; the only shuffle
    * is the groupByKey on gram — the same (gram)-keyed exchange the batch
    * window pays once per run, here paid per micro-batch on the batch's
    * rows only. A gram no train row has produced keeps no state. */
  def contaminationStream(docs: Dataset[DocIn], ttl: TTLConfig = TTLConfig.NONE)
                         (implicit s: SparkSession): Dataset[GramHit] = {
    import s.implicits._
    val gramRows =
      docs.flatMap(d => grams(d.text).map(g => GramRow(g, d.doc_id, d.split)))
    StreamOps.keyedFold(gramRows.groupByKey(_.g), "mintrain", ttl) {
      (key, prior: Option[MinTrain], rows) =>
        val arr = rows.toArray
        val m = (prior.iterator.map(_.doc_id) ++
          arr.iterator.filter(_.split == "train").map(_.doc_id)).reduceOption(_ min _)
        (m.map(MinTrain(_)), m match {
          case None => Iterator.empty
          case Some(t) =>
            arr.iterator.filter(_.split != "train").map(r => GramHit(r.doc_id, key, t))
        })
    }
  }
}
