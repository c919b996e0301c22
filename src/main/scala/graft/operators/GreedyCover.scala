package graft.operators

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import scala.collection.mutable.ArrayBuffer

/** Greedy maximum-coverage selection — pick `k` documents one at a time,
  * each maximizing the count of NOT-YET-COVERED items (shingles, n-grams,
  * vocabulary, …). The classic (1 − 1/e)-approximate submodular
  * maximization (Nemhauser–Wolsey–Fisher 1978), and the shape
  * coverage-driven data selection takes in a pretraining pipeline
  * ("choose the k docs that together cover the most distinct n-grams").
  *
  * This is a genuinely SEQUENTIAL operator class — round t's argmax
  * depends on rounds 1..t−1's union, so no single declarative plan
  * expresses it. The distribution contract is the k-means/IVF posture:
  * `k` driver rounds, each a fully distributed job (one anti-join +
  * one count-aggregate + a TakeOrdered top-1), and the only thing ever
  * collected is the 1-row argmax per round. The covered set stays a
  * DISTRIBUTED frame (pinned per round, [[Materialize]], so lineage is
  * O(1), not O(k)).
  *
  * Scale path at 100 TB: the per-round anti-join is an equi-join on the
  * item column — hash-partitioned, AQE-splittable, and Bloom-prunable
  * ([[BloomPrune]]) once the covered set outgrows the broadcast gate;
  * the classic sequential accelerants (CELF lazy evaluation, Leskovec et
  * al. KDD'07; GreeDi partition-local pre-selection, Mirzasoleiman et
  * al. NIPS'13) drop in without changing the declared semantics because
  * greedy's chosen set is invariant to skipping provably-dominated
  * candidates.
  *
  * Determinism: gains are exact integer counts; the argmax tie-breaks
  * (gain DESC, id ASC) — a total order, so the selection is unique and
  * an independent engine unrolling the same k rounds agrees exactly.
  * A document whose items are all covered contributes no rows to the
  * anti-join and so can never be re-selected (its gain group vanishes);
  * rounds after universe exhaustion select nothing and the result simply
  * has fewer than `k` rows.
  */
object GreedyCover {

  /** Greedily select up to `k` ids from `items` (idCol: long, itemCol:
    * any equatable type). Returns (`sel_rank` int, `<idCol>` long,
    * `gain` long) with one row per selection in selection order.
    *
    * EAGER construction (the k70 class): calling this runs the whole
    * k-round selection — one distributed job chain per round plus a
    * 1-row argmax collect (the k-means posture).
    */
  def select(items: DataFrame, idCol: String, itemCol: String, k: Int): DataFrame = {
    require(k >= 1, s"GreedyCover: k must be >= 1, got $k")
    val spark = items.sparkSession
    require(items.schema(idCol).dataType == LongType,
      s"GreedyCover: $idCol must be LONG, got ${items.schema(idCol).dataType}")

    // distinct per (id, item): gains are DISTINCT-item counts, and one
    // materialization serves all k rounds; the scope frees every pin on
    // exit, the failure paths included
    val picks = Materialize.scoped { s =>
      val g = s.pin(items.select(col(idCol), col(itemCol)).distinct())

      // require-reject NULL ids (the r17 ADVICE item): a NULL id would form
      // its own gains group — Spark's asc() sorts it FIRST while DuckDB's
      // default is NULLS LAST, so a NULL winner would silently diverge the
      // engines (and getLong below would NPE). The declared domain is
      // non-null ids; one cheap scan of the already-checkpointed frame
      // enforces it loudly instead of ordering around it.
      require(g.filter(col(idCol).isNull).isEmpty,
        s"GreedyCover: NULL $idCol rows present — the argmax tie-break " +
          "(gain DESC, id ASC) needs a total order over non-null ids; " +
          "filter NULLs upstream or assign surrogate ids")

      var covered = g.select(col(itemCol)).limit(0)
      val picks = ArrayBuffer[(Int, Long, Long)]()
      var exhausted = false
      for (i <- 1 to k if !exhausted) {
        // top-1 via TakeOrdered (no global sort); 1-row collect per round
        val top = gains(g, covered, idCol, itemCol)
          .orderBy(desc("gain"), asc(idCol)).limit(1).collect()
        if (top.isEmpty) exhausted = true
        else {
          val id = top(0).getLong(top(0).fieldIndex(idCol))
          picks += ((i, id, top(0).getLong(top(0).fieldIndex("gain"))))
          // covered is a BAG, deliberately: the anti-join is insensitive to
          // build-side duplicates, so the per-round distinct exchange is pure
          // cost; the bag is bounded by the selected docs' total item count
          // (k × max doc size) with or without it
          covered = s.pin(covered
            .unionAll(g.filter(col(idCol) === lit(id)).select(col(itemCol))))
        }
      }
      picks
    }

    // k-row driver-built result: self-contained, pins nothing
    val schema = StructType(Seq(
      StructField("sel_rank", IntegerType, nullable = false),
      StructField(idCol, LongType, nullable = false),
      StructField("gain", LongType, nullable = false)))
    spark.createDataFrame(
      java.util.Arrays.asList(picks.map(p => Row(p._1, p._2, p._3)).toArray: _*),
      schema)
  }

  /** One round's marginal-gain frame as a LAZY plan — the loop body,
    * exposed so the plan-pin suite can see the per-round shape the eager
    * loop hides: an equi anti-join on the item column (hash-partitioned /
    * broadcastable while the covered set is small) into one count
    * aggregate. */
  private[graft] def gains(g: DataFrame, covered: DataFrame,
                           idCol: String, itemCol: String): DataFrame =
    g.join(covered, Seq(itemCol), "left_anti")
      .groupBy(idCol).agg(count(lit(1)).as("gain"))
}
