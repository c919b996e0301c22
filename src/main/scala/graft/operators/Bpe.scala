package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.Bridge
import graft.functions.{BpeEncodeExpression, BpeMergeTable, BpePiecesExpression}

/** Byte-pair-encoding tokenizer [public: Sennrich et al. 2016, "Neural
  * Machine Translation of Rare Words with Subword Units"; Gage 1994]:
  * deterministic merge-table TRAINING over a distributed word-frequency
  * frame, the ENCODE Column faces over the native fold
  * ([[graft.functions.BpePiecesExpression]] and its array form), and an
  * independent reference encode in plain Scala that the native fold is
  * tested against (the two share no code).
  *
  * Semantics pinned here (Round18Spec):
  *
  *  - TRAIN: iterate `nMerges` times; each round counts ADJACENT symbol
  *    pairs weighted by word frequency and merges the argmax under the
  *    pinned tie rule (count DESC, left ASC, right ASC — a total order,
  *    so training is reproducible bit-for-bit on any cluster layout).
  *  - ENCODE: a word's base symbols are its code points (an empty word
  *    is one empty symbol); apply the learned merges IN ORDER, each rule
  *    exhaustively (greedy leftmost within a rule). Sequential full
  *    application is equivalent to the classic lowest-rank-pair-first
  *    encode because a rule's operands are always symbols formed by
  *    EARLIER rules only — a later merge can never re-enable an earlier
  *    one (spec-pinned on the chained-merge corpus).
  *
  * Scale shape of `train`: the input is the WORD-TYPE frame (word,
  * freq) — vocabulary-sized, not corpus-sized (the caller aggregates
  * the corpus once; Zipf bounds word types far below token mass). Each
  * round is ONE distributed explode + hash agg over that frame and one
  * 1-ROW argmax collect (the merge table is model-sized and
  * driver-resident by contract, like the IVF centroid tables); the
  * symbol column is re-derived map-side and `localCheckpoint`ed each
  * round so the plan does not deepen with the merge count (the
  * ConnectedComponents lineage discipline). Encode is map-only.
  */
object Bpe {

  /** Reference encode step: one rule (a, b) → a+b, greedy leftmost.
    * Within one rule no cascade is possible (the merged symbol a+b can
    * never equal `a` again since `b` is nonempty), so a single left
    * fold IS the exhaustive application. */
  def applyMerge(sym: Vector[String], a: String, b: String): Vector[String] =
    sym.foldLeft(Vector.empty[String]) { (acc, x) =>
      if (acc.nonEmpty && acc.last == a && x == b)
        acc.init :+ (a + b)
      else acc :+ x
    }

  /** Reference encode: code-point symbols (an empty word is one empty
    * symbol) → merges in learned order. */
  def encode(word: String, merges: Seq[(String, String)]): Vector[String] = {
    val symbols =
      if (word.isEmpty) Vector("")
      else word.codePoints.toArray.toVector.map(Character.toString(_))
    merges.foldLeft(symbols) { case (s, (a, b)) => applyMerge(s, a, b) }
  }

  /** BPE piece count of a text column under `merges`: ' '-split words
    * (empty ones kept), code-point symbols, merges in learned order,
    * summed per row — the native codegen'd
    * [[graft.functions.BpePiecesExpression]]; null text gives null. */
  def pieces(text: Column, merges: Seq[(String, String)]): Column =
    Bridge.column(BpePiecesExpression(Bridge.expression(text), BpeMergeTable(merges)))

  /** A symbol-array column re-encoded under `merges` — the same native
    * fold in its array → array form ([[graft.functions.BpeEncodeExpression]]). */
  def encodeSymbols(symbols: Column, merges: Seq[(String, String)]): Column =
    Bridge.column(BpeEncodeExpression(Bridge.expression(symbols), BpeMergeTable(merges)))

  /** Deterministic distributed BPE training over a (word, freq) frame.
    * Returns the learned merge table in order; stops early when no
    * adjacent pair remains. Each round's pinned symbol frame is released
    * once the next one is materialized, and the last when training ends. */
  def train(words: DataFrame, wordCol: String, freqCol: String,
            nMerges: Int): Seq[(String, String)] = Materialize.scoped { s =>
    var df = s.pin(words
      .select(split(col(wordCol), "").as("__s"), // one symbol per code point
              col(freqCol).cast("long").as("__f")))
    val merges = Vector.newBuilder[(String, String)]
    var done = false
    var round = 0
    while (round < nMerges && !done) {
      // adjacent-pair counts weighted by word frequency — one explode +
      // one vocab-bounded hash agg; argmax is a 1-row TakeOrdered under
      // the pinned total order
      val top = df
        .filter(size(col("__s")) >= 2)
        .select(col("__f"), explode(expr(
          "transform(sequence(1, size(__s) - 1), i -> named_struct(" +
            "'a', element_at(__s, i), 'b', element_at(__s, i + 1)))"))
          .as("__p"))
        .groupBy(col("__p.a").as("a"), col("__p.b").as("b"))
        .agg(sum(col("__f")).as("c"))
        .orderBy(desc("c"), asc("a"), asc("b"))
        .limit(1)
        .collect()
      if (top.isEmpty) done = true
      else {
        val (a, b) = (top(0).getString(0), top(0).getString(1))
        merges += ((a, b))
        // re-derive symbols map-side; pin so lineage stays flat
        val next = s.pin(df.withColumn("__s", encodeSymbols(col("__s"), Seq((a, b)))))
        s.release(df)
        df = next
        round += 1
      }
    }
    merges.result()
  }
}
