package graft.streaming

import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.streaming.TTLConfig

/** Streaming twin of k61's n-gram novelty: the train-split 5-gram SET
  * carried as per-digest state over an unbounded document stream — the
  * ingest-time "how much of this doc is new material?" gate (a crawl
  * operator drops or downweights arrivals assembled from already-held
  * text). The [[StreamingContamination]] state class (per-digest, one
  * tiny value, digest-domain-bounded) applied to the novelty axis.
  *
  * Semantics are PROBE-AT-ARRIVAL (the family contract): a TEST doc
  * scores against the train 5-grams accumulated THROUGH its own
  * micro-batch — train rows of the batch fold into state first, then the
  * batch's test rows read it — so a one-batch replay reproduces batch
  * k61's train set exactly, and a test doc arriving before its matching
  * train text counts as novel (the honest ingest-time answer; the
  * retrospective answer is the batch query's job).
  *
  * State shape: keyed by DIGEST, one boolean-as-presence ValueState —
  * set iff any train doc has held the 5-gram; test-only digests store
  * NOTHING (novelty needs no memory of what test docs carried).
  * Emissions are per-(test doc, digest) sufficient statistics
  * (occurrence count, train-held flag); the per-doc novelty fraction and
  * memorized flag are one sink-side rollup (pinned equal to batch k61 on
  * a one-batch replay in StreamingSpec). */
object StreamingNovelty {

  final case class DocIn(doc_id: Long, text: String, is_test: Boolean)
  final case class GramRow(d: String, doc_id: Long, c: Long, is_test: Boolean)
  final case class Seen(v: Boolean)
  final case class GramHit(doc_id: Long, d: String, c: Long, in_train: Boolean)

  private val W = 5

  /** Per-document 5-gram type counts — identical to the batch frame
    * (stride-1 windows over the single-space split). */
  def grams(doc: DocIn): Seq[GramRow] = {
    val ts = doc.text.split(" ", -1)
    if (ts.length < W) Seq.empty
    else {
      // ONE digest instance per document — digest() resets it after each
      // use; a fresh getInstance per gram was measured as pure allocation
      // churn in the hot flatMap path (r19 review finding)
      val md = java.security.MessageDigest.getInstance("MD5")
      ts.sliding(W).map(_.mkString(" "))
        .foldLeft(Map.empty[String, Long]) { (m, g) =>
          m.updated(g, m.getOrElse(g, 0L) + 1L)
        }
        .iterator.map { case (g, c) =>
          GramRow(md.digest(g.getBytes("UTF-8"))
                    .map(b => f"${b & 0xff}%02x").mkString,
                  doc.doc_id, c, doc.is_test)
        }.toSeq
    }
  }

  /** Per-(test doc, 5-gram) hits against the post-batch train set
    * (RocksDB state store provider required). The only shuffle is the
    * groupByKey on digest — the batch plan's one digest exchange. Keyed by
    * digest: the batch's TRAIN rows fold into the presence bit first,
    * then the batch's TEST rows read the post-fold state. */
  def gramHits(docs: Dataset[DocIn], ttl: TTLConfig = TTLConfig.NONE)
              (implicit s: SparkSession): Dataset[GramHit] = {
    import s.implicits._
    StreamOps.keyedFold(docs.flatMap(grams).groupByKey(_.d), "s", ttl) {
      (key, prior: Option[Seen], rows) =>
        // fold to per-doc counts; remember whether any train row arrived
        val tests = scala.collection.mutable.LinkedHashMap.empty[Long, Long]
        var trainInBatch = false
        rows.foreach { r =>
          if (r.is_test) tests.update(r.doc_id, tests.getOrElse(r.doc_id, 0L) + r.c)
          else trainInBatch = true
        }
        val held = prior.exists(_.v) || trainInBatch
        (if (trainInBatch) Some(Seen(true)) else None,
         tests.iterator.map { case (doc, c) => GramHit(doc, key, c, held) })
    }
  }
}
