package graft

import scala.util.Try
import org.apache.spark.sql.catalyst.plans.logical.{Join, LogicalPlan}
import graft.engine.SqlBody

/** Every declared Tier-1 query runs and returns rows on sf0.001 (the full
  * value-level check is the DuckDB oracle — scripts/selfcheck.py / driver t2;
  * this guards against runtime regressions in between). The same single
  * run also guards each query's executed plan and its Q.fromSql status,
  * so a failure names its query.
  */
class Tier1SmokeSpec extends SparkSpec {

  test("entry returns rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("oracle SQL declared for every query") {
    assert(SparkEntry.oracleSql.keySet == SparkEntry.queries.keySet)
  }

  // Every BroadcastNestedLoopJoin in the surface must be a DELIBERATE
  // tiny-build broadcast; a new query that accidentally plans a
  // cartesian-shaped join (the c09 class of bug) fails here by name
  // instead of surfacing as a 100× blowup later. CartesianProduct is
  // never acceptable.
  private val allowedBnlj = Set(
    "c08_join_cross",      // declared cross join; grid side is tiny
    "d08_agg_having",      // 1-row scalar-subquery threshold broadcast
    "i08_pitr_state",      // 1-row cutoff broadcast, non-equi prefix filter
    "i09_mv_incremental",  // same 1-row cutoff broadcast as i08 (base/delta log split)
    "i10_mv_retraction",   // same 1-row cutoff broadcast (suffix/prefix retraction split)
    "i11_ttl_expiry",      // same 1-row cutoff broadcast (TTL frontier)
    "h25_bar_render",      // 1-row global-max broadcast for the bar scale
    "k03_sim_topk_cosine", // 1-row probe vector broadcast
    "k16_ivf_assign",      // 8-row centroid set broadcast (IVF coarse scoring)
    "k20_tfidf_topterms",  // 1-row corpus-count broadcast for idf
    "k40_unigram_logprob", // 1-row corpus-token-total broadcast for ln p
    "k43_ivf_probe_exact_regime", // k16's 8-row centroid broadcast +
                                  // k03's 1-row probe broadcast, composed
    "k49_quality_buckets", // 1-row corpus-token-total broadcast (k40's
                           // score chain inside the bucket query)
    "k51_domain_mixture",  // 1-row corpus-total broadcast for share/rate
    "k58_dsir_weight",     // 1-row totals broadcast (nr/nt/v) for the
                           // per-token smoothed log-ratio
    "k62_source_divergence", // 1-row corpus-total broadcast for the
                             // KL ratio denominators
    "k64_interleave_order",  // 1-row source-count broadcast for the
                             // interleave key arithmetic
    "k67_dedup_threshold_sweep", // 5-row threshold GRID range join
                             // (j >= t is non-equi by design; the
                             // multiplier is grid-sized, never data²)
    "k68_dedup_mixture_drift", // 1-row corpus-totals broadcast for the
                             // share denominators
    "d62_agg_q11_share",     // 1-row global-share threshold broadcast
                             // (Q11's 0.001·total — the d08 class)
    "d65_agg_q22_idle_rich", // 1-row avg-balance threshold broadcast
                             // (Q22's scalar subquery — the d08 class)
    "d66_cms_exact_counts",  // 1-row sketch-bytes broadcast probed by
                             // the 25-row key domain (the d08 class;
                             // the lit-key equijoin constant-folds to
                             // TRUE, so it plans as BNLJ by design)
    "k71_doremi_update",     // three 1-row broadcasts over the
                             // SOURCE-sized frame (global mean + the
                             // two normalizing sums — the k51/k68
                             // corpus-totals class)
    "k75_ipf_mixture_balance", // 1-row marginal-count broadcast over
                             // the domain-sized grid (the k51/k68
                             // class; all sweeps live on ≤ src×lang
                             // rows)

    "k52_embedding_decontam")     // NOT tiny-build: the eval×train
                                  // Cartesian IS the declared semantics
                                  // (all-pairs decontamination truth,
                                  // the oracle-gated exact regime whose
                                  // 100 TB path is k43's IVF shortlist;
                                  // argmax partials keep it shuffle-free)

  // A hand-written body whose text Spark binds to the same optimized plan,
  // with the same join hints, is a second copy of that plan and must
  // become Q.fromSql. The bodies below are kept on purpose: each is the
  // declared-query face of library code, which the oracle gates through it
  // at fixture scale.
  private val libraryFaces = Map(
    "e08_win_topk_group"   -> "api.Windows.topKPerGroup",
    "i01_inc_scan"         -> "api.Replication.incrementalSlice",
    "i02_cdc_latest"       -> "api.Replication.latestPerKey",
    "i03_cdc_tombstone"    -> "api.Replication.latestPerKey",
    "i06_partition_stats"  -> "api.Replication.partitionStats",
    "j08_sequence_count"   -> "operators.SequenceMatch.countChains",
    "k01_dedup_exact_text" -> "api.Dedup.exactByDigest")

  private def joinHints(p: LogicalPlan) =
    p.collectWithSubqueries { case j: Join => j.hint }.groupBy(identity).view.mapValues(_.size).toMap

  SparkEntry.all.foreach { q =>
    test(s"${q.name} runs non-empty on sf0.001") {
      val df = q.fn(spark, sf0001)
      assert(df.collect().nonEmpty, s"${q.name} returned 0 rows")
      val p = df.queryExecution.executedPlan.toString
      assert(!p.contains("CartesianProduct"), s"${q.name} plans a CartesianProduct")
      assert(!p.contains("BroadcastNestedLoopJoin") || allowedBnlj(q.name),
        s"${q.name} plans a BroadcastNestedLoopJoin (add to allowedBnlj ONLY with " +
          "a tiny-build justification)")
      if (!q.fn.isInstanceOf[SqlBody]) {
        val hand = df.queryExecution.optimizedPlan
        val same = Try(SqlBody(q.sql)(spark, sf0001).queryExecution.optimizedPlan).toOption
          .exists(b => b.sameResult(hand) && joinHints(b) == joinHints(hand))
        assert(same == libraryFaces.contains(q.name),
          if (same) s"${q.name}: hand body plans exactly as its SQL (declare it Q.fromSql)"
          else s"${q.name}: a library face no longer plans as its SQL")
      }
    }
  }
}
