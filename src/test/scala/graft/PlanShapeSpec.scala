package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import graft.engine.{ExtOps, JoinOps}

/** Physical-plan regression guards for the round-3 plan rewrites: the
  * correctness oracle can't see plan shape, so the scale properties the
  * rewrites bought are pinned here (the same style as BucketingSpec's
  * no-Exchange assertion).
  */
class PlanShapeSpec extends SparkSpec {

  private def executedPlan(df: DataFrame): String = {
    df.collect() // force execution so AQE finalizes the plan
    df.queryExecution.executedPlan.toString
  }

  private object Aqe extends AdaptiveSparkPlanHelper

  /** Pretty names of the `CodegenFallback` expressions (evaluated
    * interpreted even inside generated code) in a DataFrame's executed
    * plan, AQE stages and subqueries included. */
  private def codegenFallbacks(df: DataFrame): Seq[String] = {
    df.collect() // force execution so AQE finalizes the plan
    Aqe.collectWithSubqueries(df.queryExecution.executedPlan) { case p => p }
      .flatMap(_.expressions.flatMap(_.collect { case e: CodegenFallback => e.prettyName }))
      .distinct
  }

  test("k57: no CodegenFallback expression in the executed plan") {
    // the BPE piece count is the native graft_bpe_pieces; a HOF fold
    // (aggregate/transform are CodegenFallback) coming back fails here
    val found = codegenFallbacks(graft.engine.Round18Ops.k57.fn(spark, sf0001))
    assert(found.isEmpty, s"k57 runs interpreted expressions: $found")
  }

  test("full-surface sweep: no declared query plans an unintended nested-loop or cartesian") {
    // Every BroadcastNestedLoopJoin in the surface must be a DELIBERATE
    // tiny-build broadcast; a new query that accidentally plans a
    // cartesian-shaped join (the c09 class of bug) fails here by name
    // instead of surfacing as a 100× blowup later. CartesianProduct is
    // never acceptable.
    val allowedBnlj = Set(
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
    val offenders = graft.SparkEntry.queries.toSeq.sortBy(_._1).flatMap {
      case (name, fn) =>
        val df = fn(spark, sf0001)
        df.collect()
        val p = df.queryExecution.executedPlan.toString
        val bad =
          (if (p.contains("BroadcastNestedLoopJoin") && !allowedBnlj(name))
             Seq(s"$name: BroadcastNestedLoopJoin") else Nil) ++
          (if (p.contains("CartesianProduct")) Seq(s"$name: CartesianProduct")
           else Nil)
        bad
    }
    assert(offenders.isEmpty,
      s"unintended join shapes (add to the whitelist ONLY with a tiny-build " +
        s"justification): ${offenders.mkString("; ")}")
  }

  test("c11 as-of: no join anywhere in the physical plan") {
    // the quadratic range-join + per-key max is gone; the as-of value rides
    // a running window over the union of both event streams
    val p = executedPlan(JoinOps.c11.fn(spark, sf0001))
    assert(!p.contains("Join"), s"c11 must be join-free:\n$p")
    assert(p.contains("Window"), "c11 should carry the running as-of window")
  }

  test("c09 theta join: no nested-loop join, no cartesian, fact side never broadcast") {
    // the raw non-equi LEFT JOIN would plan as BroadcastNestedLoopJoin
    // building the customer (fact) side — OOM at 100×. The rankAgainst
    // rewrite's only join is the broadcast of the #partitions-row offset
    // table.
    val p = executedPlan(JoinOps.c09.fn(spark, sf0001))
    assert(!p.contains("BroadcastNestedLoopJoin"),
      s"c09 must not plan a nested-loop join:\n$p")
    assert(!p.contains("CartesianProduct"), s"c09 must not plan a cartesian:\n$p")
    assert(p.contains("Window"), "c09 should carry the prefix-sum window")
  }

  test("k16 argmax: hash aggregate, no ranking window") {
    // max(struct(sim, -cid)) partial-aggregates 8 scored rows to 1 per
    // vec_id before the shuffle; a row_number window would sort the full
    // scored set instead
    val p = executedPlan(ExtOps.k16.fn(spark, sf0001))
    assert(!p.contains("Window"), s"k16 must not plan a window:\n$p")
    assert(p.contains("HashAggregate"), s"k16 argmax should hash-aggregate:\n$p")
  }

  test("k20: the token explode runs once (df via window, not a self-join)") {
    // AdaptiveSparkPlan.toString prints final AND initial plans — count
    // nodes in the final section only
    val p = executedPlan(graft.engine.PipelineOps.k20.fn(spark, sf0001))
      .split("== Initial Plan ==").head
    val explodes = "\\bGenerate\\b".r.findAllIn(p).length
    assert(explodes == 1,
      s"tf-idf must explode the corpus exactly once, found $explodes:\n$p")
  }

  test("k34: one shingle pass, train-min via window, no gram self-join") {
    // the per-side split filters get pushed below any repartition
    // materialization point, so a self-join formulation shingles the
    // corpus TWICE (ReuseExchange can't match the differing subtrees) —
    // the window formulation is the single-pass shape, pinned here
    val p = executedPlan(graft.engine.PipelineOps.k34.fn(spark, sf0001))
      .split("== Initial Plan ==").head
    val explodes = "\\bGenerate\\b".r.findAllIn(p).length
    assert(explodes == 1,
      s"k34 must shingle the corpus exactly once, found $explodes:\n$p")
    assert(p.contains("Window"), "k34 should carry the per-gram train-min window")
  }

  test("k19: each near-dup pair appears exactly once") {
    // multi-band collisions are collapsed by a candidate-sized distinct
    // (NOT the first-colliding-band rule, which silently drops pairs when
    // an earlier band's bucket was star-degraded by the GroupEmit cap)
    val df = ExtOps.k19.fn(spark, sf0001)
    val pairs = df.collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(pairs.nonEmpty)
    assert(pairs.distinct.length == pairs.length,
      "multi-band hits must collapse to one row per pair")
  }

  test("d28: histogram agg below the windows, windows share one exchange") {
    // the scale contract: the raw-row shuffle ships map-combined
    // histogram partials (bounded by the timing grid), and the cum/total
    // windows run over histogram-sized data sharing ONE exchange+sort --
    // three shuffles total (hist agg, window repartition, final sort)
    val p = executedPlan(graft.engine.Round8dOps.d28.fn(spark, sf0001))
      .split("== Initial Plan ==").head
    assert("partial_count".r.findAllIn(p).nonEmpty,
      s"histogram must map-side combine before the shuffle:\n$p")
    val windows = "\\bWindow\\b".r.findAllIn(p).length
    assert(windows == 2, s"expected the cum + total window pair, got $windows:\n$p")
    val firstWindow = p.indexOf("Window")
    assert(p.substring(firstWindow).contains("HashAggregate"),
      s"the histogram agg must sit BELOW the windows (window input is histogram-sized):\n$p")
    val shuffles = "Exchange (?:hash|range)partitioning".r.findAllIn(p).length
    assert(shuffles >= 2 && shuffles <= 3,
      s"d28 plans 2-3 shuffles (hist agg, window, [final sort]), got $shuffles:\n$p")
  }

  test("k76: both window passes ride ONE source exchange; no join") {
    // the systematic-draw scale contract: the running sum and the source
    // total share hashpartitioning(source) — a second data exchange means
    // the windows stopped sharing the partitioning; the only other
    // shuffle is the declared output sort (rangepartitioning)
    val p = executedPlan(graft.engine.Round23Ops.k76.fn(spark, sf0001))
      .split("== Initial Plan ==").head
    assert(!p.contains("Join"), s"k76 must not join:\n$p")
    val windows = "\\bWindow\\b".r.findAllIn(p).length
    assert(windows == 2, s"expected the cum + total window pair, got $windows:\n$p")
    val dataExchanges = "Exchange hashpartitioning".r.findAllIn(p).length
    assert(dataExchanges == 1,
      s"k76: one shared source exchange, got $dataExchanges:\n$p")
  }

  test("d32/d36: power sums map-side combine; no window, no data-sized sort") {
    // the exact-moment recipe's scale contract: ONE two-phase hash agg
    // carries the int64 power sums (partial_sum map-side), the closed
    // forms are projections over |groups| rows — nothing else touches
    // data-sized cardinality
    for (q <- Seq(graft.engine.Round9Ops.d32, graft.engine.Round9Ops.d36)) {
      val p = executedPlan(q.fn(spark, sf0001)).split("== Initial Plan ==").head
      assert("partial_sum".r.findAllIn(p).nonEmpty,
        s"${q.name}: power sums must map-side combine:\n$p")
      assert(!p.contains("Window"), s"${q.name} needs no window:\n$p")
      val aggShuffles = "Exchange hashpartitioning".r.findAllIn(p).length
      assert(aggShuffles <= 1,
        s"${q.name}: one agg shuffle at most, got $aggShuffles:\n$p")
    }
  }

  test("d40/d41: power sums map-side combine; no window, no data-sized sort") {
    // the round-10 members of the exact-moment family inherit the d32/d36
    // scale contract verbatim
    for (q <- Seq(graft.engine.Round10Ops.d40, graft.engine.Round10Ops.d41)) {
      val p = executedPlan(q.fn(spark, sf0001)).split("== Initial Plan ==").head
      assert("partial_sum".r.findAllIn(p).nonEmpty,
        s"${q.name}: power sums must map-side combine:\n$p")
      assert(!p.contains("Window"), s"${q.name} needs no window:\n$p")
      val aggShuffles = "Exchange hashpartitioning".r.findAllIn(p).length
      assert(aggShuffles <= 1,
        s"${q.name}: one agg shuffle at most, got $aggShuffles:\n$p")
    }
  }

  test("d42: grid agg below the sweep window (window input is grid-sized)") {
    // the AUC sweep's scale contract: the raw-row shuffle ships
    // map-combined cents-cell partials; the one unpartitioned window and
    // the closing agg run over the domain-bounded grid (<= 56,022 cells)
    val p = executedPlan(graft.engine.Round10Ops.d42.fn(spark, sf0001))
      .split("== Initial Plan ==").head
    assert("partial_sum".r.findAllIn(p).nonEmpty,
      s"d42: grid counts must map-side combine:\n$p")
    val firstWindow = p.indexOf("Window")
    assert(firstWindow >= 0 && p.substring(firstWindow).contains("HashAggregate"),
      s"d42: the grid agg must sit BELOW the window:\n$p")
  }

  test("d35/d37: grid agg below the windows (window input is grid-sized)") {
    // the rank-statistic scale contract: the raw-row shuffle ships
    // map-combined (group, value-cell) partials; every window and the
    // closing agg run over <= 2x50 cells per group
    for (q <- Seq(graft.engine.Round9Ops.d35, graft.engine.Round9Ops.d37)) {
      val p = executedPlan(q.fn(spark, sf0001)).split("== Initial Plan ==").head
      assert("partial_sum".r.findAllIn(p).nonEmpty,
        s"${q.name}: grid counts must map-side combine:\n$p")
      val firstWindow = p.indexOf("Window")
      assert(firstWindow >= 0 && p.substring(firstWindow).contains("HashAggregate"),
        s"${q.name}: the grid agg must sit BELOW the windows:\n$p")
    }
  }

  test("d45: one two-phase sketch agg, one-row algebra — no window, no join") {
    // the theta-sketch scale contract: the ONLY shuffle is the
    // map-combined 2-sketch agg's single-partition exchange (each partial
    // is <= 2x64 longs); union/theta/intersection are array expressions
    // over the ONE result row — no rank window over the distinct hash
    // sets (that's the oracle's independent formulation, data-sized) and
    // no self-join for the intersection
    val p = executedPlan(graft.engine.Round11Ops.d45.fn(spark, sf0001))
      .split("== Initial Plan ==").head
    assert(!p.contains("Window"), s"d45 must not window the hash sets:\n$p")
    assert(!p.contains("Join"), s"d45 must not join for the intersection:\n$p")
    val exchanges = "\\bExchange\\b".r.findAllIn(p).length
    assert(exchanges == 1,
      s"d45 plans exactly the sketch agg's exchange, got $exchanges:\n$p")
    assert(p.contains("ObjectHashAggregate"),
      s"d45's sketches must flow through the two-phase object hash agg:\n$p")
  }

  test("d47: grid quartiles + broadcast fence join — no percentile buffer") {
    // the Tukey scale contract: quartiles come off the cents GRID (raw
    // rows map-combine to <= |domain| cells; the cum/total windows see
    // grid-sized input), the 5-row fence frame joins back by BROADCAST,
    // and no data-sized percentile sort-agg buffer appears anywhere —
    // Spark's builtin `percentile` silently reappearing would be the
    // 100x regression sf0.1 can't see
    val p = executedPlan(graft.engine.Round11Ops.d47.fn(spark, sf0001))
      .split("== Initial Plan ==").head
    assert(!p.toLowerCase.contains("percentile"),
      s"d47 must not plan a data-sized percentile buffer:\n$p")
    assert(p.contains("BroadcastHashJoin"),
      s"d47's fence frame must join back by broadcast:\n$p")
    assert("partial_sum".r.findAllIn(p).nonEmpty,
      s"d47: grid counts must map-side combine:\n$p")
    val firstWindow = p.indexOf("Window")
    assert(firstWindow >= 0 && p.substring(firstWindow).contains("HashAggregate"),
      s"d47: the grid agg must sit BELOW the windows:\n$p")
  }

  test("compiled sequence patterns: all windows + the agg share ONE hash exchange, no join") {
    // the compiler's scale contract: rn ranks, lead-conjunction run
    // flags, chained per-key minima, the valid-opener running extremum,
    // and the closing per-user agg ALL ride one hashpartitioning
    // exchange on the key — a second data exchange or a join appearing
    // means the compiled plan degraded (the oracle formulations DO join;
    // the Spark side must not)
    for (q <- Seq(graft.engine.Round12Ops.j13, graft.engine.Round12Ops.j14,
                  graft.engine.Round12Ops.j15)) {
      val p = executedPlan(q.fn(spark, sf0001)).split("== Initial Plan ==").head
      assert(!p.contains("Join"), s"${q.name}: compiled plan must not join:\n$p")
      val dataExchanges = "Exchange hashpartitioning".r.findAllIn(p).length
      assert(dataExchanges == 1,
        s"${q.name}: one shared key exchange, got $dataExchanges:\n$p")
    }
  }

  test("j16/j18 folds: one key exchange, no join, no window — the sorted-fold posture") {
    // the fold family's scale contract: per-key collect + one aggregate
    // HOF on ONE hashpartitioning exchange; the oracle formulations join
    // (reachability CTEs / recursive steps) — the Spark side must not,
    // and a window or second exchange appearing means the fold degraded
    // into the per-row compile's shape
    for (q <- Seq(graft.engine.Round13Ops.j16, graft.engine.Round13Ops.j18)) {
      val p = executedPlan(q.fn(spark, sf0001)).split("== Initial Plan ==").head
      assert(!p.contains("Join"), s"${q.name} must not join:\n$p")
      assert(!p.contains("WindowExec") && !"\\bWindow\\b".r.findFirstIn(p).isDefined,
        s"${q.name} must not window:\n$p")
      val dataExchanges = "Exchange hashpartitioning".r.findAllIn(p).length
      assert(dataExchanges == 1,
        s"${q.name}: one key exchange, got $dataExchanges:\n$p")
    }
  }

  test("k41 join-free, k42 one broadcast join — the round-13-close postures") {
    // k41's rewrite derived the stopword-kind count inside the
    // concentration leg, deleting a second documents scan and a
    // document-count-sized join; this pin keeps it deleted. k42's only
    // join is the label-cardinality-sized broadcast of the gram leg — a
    // shuffle join appearing there means the tiny side stopped
    // broadcasting and the query picked up a data-sized exchange
    val pk41 = executedPlan(
      graft.engine.Round13Ops.k41.fn(spark, sf0001))
      .split("== Initial Plan ==").head
    assert(!pk41.contains("Join"), s"k41 must not join:\n$pk41")
    assert("Scan parquet".r.findAllIn(pk41).length == 1,
      s"k41 must scan documents once:\n$pk41")
    val pk42 = executedPlan(
      graft.engine.Round13Ops.k42.fn(spark, sf0001))
      .split("== Initial Plan ==").head
    assert("BroadcastHashJoin".r.findAllIn(pk42).length == 1 &&
           "(?<!Broadcast)HashJoin".r.findAllIn(pk42).isEmpty &&
           !pk42.contains("SortMergeJoin"),
      s"k42: exactly one broadcast join, no shuffle join:\n$pk42")
  }

  test("f06/d54: WindowGroupLimit prunes both sides of their rank exchanges") {
    // the offset form (rn > n AND rn <= n+m) and the DESC mirror must
    // keep the same pushdown d51 pins — the filter rewrite drifting out
    // of the rn <= k pattern match would silently ship every row through
    // the rank exchange
    for (q <- Seq(graft.engine.Round13Ops.f06, graft.engine.Round13Ops.d54)) {
      val p = executedPlan(q.fn(spark, sf0001)).split("== Initial Plan ==").head
      val wgl = "WindowGroupLimit".r.findAllIn(p).length
      assert(wgl == 2,
        s"${q.name} needs the partial+final WindowGroupLimit pair, got $wgl:\n$p")
    }
  }

  test("d51: WindowGroupLimit prunes both sides of the rank exchange") {
    // the bottom-k scale contract: Spark's WindowGroupLimit pushdown must
    // appear BELOW the rank window on both the map side (pre-shuffle
    // per-partition top-5) and the reduce side — it silently disappearing
    // (e.g. a filter rewrite breaking the rn <= k pattern match) would
    // ship every row through the rank exchange, a 100x scale regression
    // invisible at sf0.1
    val p = executedPlan(graft.engine.Round11Ops.d51.fn(spark, sf0001))
      .split("== Initial Plan ==").head
    val wgl = "WindowGroupLimit".r.findAllIn(p).length
    assert(wgl == 2,
      s"d51 needs the partial+final WindowGroupLimit pair, got $wgl:\n$p")
    assert(p.indexOf("Window") < p.indexOf("WindowGroupLimit"),
      s"d51: the group limit must sit below the rank window:\n$p")
  }

  test("h50: map-only — no join, no explode, no key exchange") {
    // the dense enumeration rides per-row array HOFs over the bounded
    // prefix; only the presentation sort exchanges. A relational rewrite
    // (the oracle's explode + two windows) sneaking in would show up as
    // Generate/Window/hash exchanges here and cost 20x the rows at scale.
    val p = executedPlan(graft.engine.Round14Ops.h50.fn(spark, sf0001))
      .split("== Initial Plan ==").head
    assert(!p.contains("Join") && !p.contains("Generate") &&
           !p.contains("Window"), s"h50 must stay map-only:\n$p")
    assert(!p.contains("Exchange hashpartitioning"),
      s"h50 must not key-exchange:\n$p")
  }

  test("j19: the lag window, both base maxima, and the agg share ONE key exchange") {
    // scaladoc claim pinned: all three Window operators and the closing
    // per-user agg partition on user_id, so exactly one hashpartitioning
    // exchange moves data
    val p = executedPlan(graft.engine.Round14Ops.j19.fn(spark, sf0001))
      .split("== Initial Plan ==").head
    val dataExchanges = "Exchange hashpartitioning".r.findAllIn(p).length
    assert(dataExchanges == 1,
      s"j19: one shared user_id exchange, got $dataExchanges:\n$p")
    assert(!p.contains("Join"), s"j19 must not join:\n$p")
  }

  test("e28: total-count window first — one key exchange, no join") {
    // hash(user_id) satisfies the (user, hour) rank window's clustering,
    // the lag window's, and the closing agg's — so the whole
    // dedup-then-fold chain moves data ONCE and n_dropped costs no join
    val p = executedPlan(graft.engine.Round14Ops.e28.fn(spark, sf0001))
      .split("== Initial Plan ==").head
    val dataExchanges = "Exchange hashpartitioning".r.findAllIn(p).length
    assert(dataExchanges == 1,
      s"e28: one shared user_id exchange, got $dataExchanges:\n$p")
    assert(!p.contains("Join"), s"e28 must not join:\n$p")
  }

  test("j20: match events come off one window pass — no join, one key exchange") {
    // the pair-join formulation (the ORACLE's road) is quadratic in
    // per-user signup×click counts; the reversed running-min window is
    // the linear shape, and the closing agg shares its user_id exchange
    val p = executedPlan(graft.engine.Round14Ops.j20.fn(spark, sf0001))
      .split("== Initial Plan ==").head
    assert(!p.contains("Join"), s"j20 must not join:\n$p")
    val dataExchanges = "Exchange hashpartitioning".r.findAllIn(p).length
    assert(dataExchanges == 1,
      s"j20: one shared user_id exchange, got $dataExchanges:\n$p")
  }

  test("d57/d58: exact-regime sketches aggregate once — one key exchange, no window") {
    // the sketch queries' scale contract: partial Misra-Gries / histogram
    // states merge through ONE hashpartitioning exchange (bounded
    // per-state payload), and the rank/bins come from the aggregate's own
    // output — a ranking-window rewrite would sort the raw rows instead
    for (q <- Seq(graft.engine.Round14Ops.d57, graft.engine.Round14Ops.d58)) {
      val p = executedPlan(q.fn(spark, sf0001)).split("== Initial Plan ==").head
      val dataExchanges = "Exchange hashpartitioning".r.findAllIn(p).length
      assert(dataExchanges == 1,
        s"${q.name}: one agg exchange, got $dataExchanges:\n$p")
      assert(!p.contains("Window"), s"${q.name} must not plan a window:\n$p")
      assert(p.contains("ObjectHashAggregate"),
        s"${q.name} should run the udaf through ObjectHashAggregate:\n$p")
    }
  }

  test("j21: first-match chain windows share ONE key exchange, no join") {
    // j19's recipe applied to the forward/first_match base: the lead
    // windows and the whole-partition conditional MIN all cluster on
    // user_id, as does the closing agg — one exchange end to end
    val p = executedPlan(graft.engine.Round15Ops.j21.fn(spark, sf0001))
      .split("== Initial Plan ==").head
    val dataExchanges = "Exchange hashpartitioning".r.findAllIn(p).length
    assert(dataExchanges == 1,
      s"j21: one shared user_id exchange, got $dataExchanges:\n$p")
    assert(!p.contains("Join"), s"j21 must not join:\n$p")
  }

  test("d61: bounding ratio is one hash aggregate — no window, no join") {
    // the oracle needs two ROW_NUMBER windows (a data-sized sort); the
    // DataFrame face reads both extremes as struct MIN/MAX in a single
    // map-combined aggregate — the 100 TB shape for a two-point statistic
    val p = executedPlan(graft.engine.Round15Ops.d61.fn(spark, sf0001))
      .split("== Initial Plan ==").head
    assert(!p.contains("Join") && !p.contains("Window"),
      s"d61 must stay a single aggregate:\n$p")
    val dataExchanges = "Exchange hashpartitioning".r.findAllIn(p).length
    assert(dataExchanges == 1,
      s"d61: one agg exchange, got $dataExchanges:\n$p")
  }

  test("d49/d59: independent DataFrame quantile grids plan NO join") {
    // r12 brief item 3: both faces previously ran the oracle SQL text
    // verbatim, whose portable form needs a DISTINCT-n CTE joined back.
    // The hand-built DataFrame plans compute the k rank indices inline
    // off the per-row n window column — grid agg, shared event_type
    // exchange for both window specs, final hash agg, zero joins. A Join
    // reappearing here means the formulation regressed to the CTE shape.
    for (q <- Seq(graft.engine.Round11Ops.d49, graft.engine.Round14Ops.d59)) {
      val p = executedPlan(q.fn(spark, sf0001)).split("== Initial Plan ==").head
      assert(!p.contains("Join"), s"${q.name} must not join:\n$p")
      val dataExchanges = "Exchange hashpartitioning".r.findAllIn(p).length
      assert(dataExchanges <= 2,
        s"${q.name}: grid agg + window exchanges only, got $dataExchanges:\n$p")
    }
  }

  test("k73/k74 internals: per-round shapes — BHJ under the gate, shuffle join above, equi anti-join gains, never BNLJ") {
    // the r22 operators run eager loops whose returned frames are
    // checkpoint roots, so the full-surface sweep above cannot see the
    // per-round plans; PageRank.round / GreedyCover.gains expose the loop
    // bodies lazily and the regime behavior is pinned here (the closed-form
    // VALUE gates for both regimes live in ScaleProbe's r22 section)
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val pairs = Seq((0L, 1L), (1L, 2L), (2L, 0L))
    val edges = (pairs ++ pairs.map(p => (p._2, p._1))).toDF("src", "dst")
    val deg = edges.groupBy("src").agg(count(lit(1)).as("outdeg"))
    val edgesD = edges.join(deg, "src")
    val nodes = edgesD.select(col("src").as("node")).distinct()
    val ranks = nodes.withColumn("r", lit(100L))

    val pSmall = executedPlan(
      graft.operators.PageRank.round(edgesD, nodes, ranks, 5L, 85, small = true))
    assert(pSmall.contains("BroadcastHashJoin"),
      s"under the gate the rank join must broadcast:\n$pSmall")
    assert(!pSmall.contains("BroadcastNestedLoopJoin") &&
           !pSmall.contains("CartesianProduct"), s"k73 small regime:\n$pSmall")

    // above the gate: kill both broadcast thresholds so tiny test data
    // cannot auto-broadcast, and pin the fallback to a real shuffle join
    val k1 = "spark.sql.autoBroadcastJoinThreshold"
    val k2 = "spark.sql.adaptive.autoBroadcastJoinThreshold"
    def opt(k: String): Option[String] =
      try Option(spark.conf.get(k)) catch { case _: Exception => None }
    val (o1, o2) = (opt(k1), opt(k2))
    try {
      spark.conf.set(k1, "-1"); spark.conf.set(k2, "-1")
      val pBig = executedPlan(
        graft.operators.PageRank.round(edgesD, nodes, ranks, 5L, 85, small = false))
      assert(!pBig.contains("BroadcastNestedLoopJoin") &&
             !pBig.contains("CartesianProduct"), s"k73 big regime:\n$pBig")
      assert(pBig.contains("SortMergeJoin") || pBig.contains("ShuffledHashJoin"),
        s"above the gate the rank join must be a shuffle join:\n$pBig")
      assert(!pBig.contains("BroadcastHashJoin"),
        s"no broadcast above the gate:\n$pBig")
    } finally {
      def restore(k: String, o: Option[String]): Unit =
        o.fold(spark.conf.unset(k))(v => spark.conf.set(k, v))
      restore(k1, o1); restore(k2, o2)
    }

    // non-empty covered set: an empty one is folded away entirely by
    // PropagateEmptyRelation and no join would remain to pin
    val items = Seq((1L, "a"), (2L, "b")).toDF("id", "item")
    val covered = Seq("a").toDF("item")
    val pG = executedPlan(
      graft.operators.GreedyCover.gains(items, covered, "id", "item"))
    assert(pG.contains("LeftAnti"), s"gains must plan an anti join:\n$pG")
    assert(!pG.contains("BroadcastNestedLoopJoin") &&
           !pG.contains("CartesianProduct"), s"k74 gains:\n$pG")
  }
}
