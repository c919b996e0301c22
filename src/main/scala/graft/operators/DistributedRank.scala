package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Two-pass distributed midranks — the scale path for rank statistics
  * (Spearman d39, Mann-Whitney d35, ROC AUC d42) when the value domain is
  * unbounded so neither the fixed value grid (d35/d28) nor a per-group
  * window sort (d39's fixture shape) applies.
  *
  * The declared queries' doubled-midrank identity is
  * `dr2(v) = 2·|{x < v}| + cnt(v) + 1` (exact int64, tie-correct). This
  * operator computes it with NO data-sized single-partition sort:
  *
  *  1. hash agg to distinct `(group, value) → cnt` (map-combined;
  *     distinct-sized from here on),
  *  2. range-repartition the distinct keys by `(group, value)` — each
  *     partition holds a contiguous slice, equal keys never split
  *     (the `Windows.rankAgainst` discipline),
  *  3. partition-local running sums give the strictly-less count WITHIN
  *     the slice; a per-`(partition, group)` total frame — at most
  *     `#partitions + #groups` rows — prefix-sums into slice OFFSETS and
  *     broadcasts back.
  *
  * Pass 2's window partitions by `(slice, group)`, so the largest sort is
  * one slice of the distinct keys (≈ |distinct| / #partitions), not a
  * group's whole data. Output is a `(group, value) → (cnt, dr2)` mapping
  * the caller joins back onto rows (a co-partitioned equi-join on the
  * same keys). Pinned bit-identical to the window formulation — and to
  * the declared d39 Spearman ρ end-to-end — in Round10Spec.
  *
  * NULL values carry no rank and are dropped (the d39 contract: rank
  * statistics are over present values; callers keep NULL rows out of the
  * centered sums on their side).
  */
object DistributedRank {

  /** Doubled midranks per distinct `(groupCols, valueCol)` key.
    *
    * @return `groupCols ++ (valueCol, cnt, dr2)` — `cnt` the tie count,
    *         `dr2` the doubled midrank `2·|{x < v}| + cnt + 1`.
    */
  def midranks2(df: DataFrame, groupCols: Seq[String],
                valueCol: String): DataFrame =
    midranks2Weighted(df, groupCols, valueCol, lit(1L))

  /** [[midranks2]] over PRE-AGGREGATED rows: each input row represents
    * `weight` original rows with the same value. Ranks come out identical
    * to running [[midranks2]] on the un-aggregated data (tie count =
    * Σ weight per distinct key — same int64 arithmetic), but every stage
    * downstream of the first hash agg is sized by the DISTINCT key domain
    * instead of the data. For callers whose pair domain is genuinely
    * discrete; [[spearman]] measured the pre-aggregation NEUTRAL on
    * continuous-valued columns (see its scaladoc) and rides exchange
    * reuse instead. */
  def midranks2Weighted(df: DataFrame, groupCols: Seq[String],
                        valueCol: String, weight: Column): DataFrame = {
    val gc: Seq[Column] = groupCols.map(col)
    // The ranged frame feeds TWO consumers (the running-sum window and the
    // slice-offset aggregate below). Planned twice, the scan → distinct-agg
    // → range-exchange subtree repeats statically and the reuse is left to
    // AQE's runtime exchange canonicalization — a match that pruning or a
    // rule change can silently break, at which point the DOMINANT exchange
    // of the whole operator materializes twice (the r18 verdict's d44
    // item). A lazy shared pin ([[Materialize.shared]], the RangeJoin
    // discipline) makes the reuse STRUCTURAL: both consumers read one
    // stored evaluation by RDD identity, not by plan-shape luck. Lazy, so
    // the caller's first action still materializes it as part of its own
    // job; distinct-key-sized (never data-sized) rows are what gets
    // pinned. Exposed pre-checkpoint as [[midranks2Ranged]] so
    // Round10Spec's plan pin can still see the range exchange (the
    // checkpoint hides the subtree behind a LogicalRDD).
    val ranged = Materialize.shared(midranks2Ranged(df, groupCols, valueCol, weight))
    // pass 2a: strictly-less count within this slice of the group
    val wRun = Window.partitionBy(("__p" +: groupCols).map(col): _*)
      .orderBy(col(valueCol).asc)
      .rowsBetween(Window.unboundedPreceding, -1)
    // pass 2b: slice offsets — rows counted in all earlier slices of the
    // same group. ≤ #partitions + #groups rows total: broadcast-sized.
    val wOff = Window.partitionBy(gc: _*).orderBy(col("__p").asc)
      .rowsBetween(Window.unboundedPreceding, -1)
    val offsets = ranged.groupBy(("__p" +: groupCols).map(col): _*)
      .agg(sum("__cnt").as("__tot"))
      .withColumn("__off", coalesce(sum("__tot").over(wOff), lit(0L)))
      .select(("__p" +: groupCols).map(col) :+ col("__off"): _*)
    ranged
      .withColumn("__run", coalesce(sum("__cnt").over(wRun), lit(0L)))
      .join(broadcast(offsets), "__p" +: groupCols)
      .select(gc ++ Seq(
        col(valueCol),
        col("__cnt").as("cnt"),
        (lit(2L) * (col("__off") + col("__run")) + col("__cnt") + lit(1L))
          .as("dr2")): _*)
  }

  /** Pass 1 of [[midranks2Weighted]] before its materialization point: the
    * distinct `(group, value) → Σweight` aggregate, range-repartitioned
    * with the slice id stamped. Factored out so the plan pin (Round10Spec)
    * can assert the range exchange / no-SinglePartition shape that the
    * checkpoint in [[midranks2Weighted]] hides behind a LogicalRDD. */
  private[graft] def midranks2Ranged(df: DataFrame, groupCols: Seq[String],
                                     valueCol: String,
                                     weight: Column): DataFrame = {
    val gc: Seq[Column] = groupCols.map(col)
    df.filter(col(valueCol).isNotNull)
      .groupBy((gc :+ col(valueCol)): _*)
      .agg(sum(weight).as("__cnt"))
      .repartitionByRange((gc :+ col(valueCol).asc): _*)
      .withColumn("__p", spark_partition_id())
  }

  /** Midranks over a caller-asserted BOUNDED value domain: one
    * map-combined hash agg collapses the data to the distinct
    * `(group, value)` grid, then a single per-group running-sum window
    * over THE GRID (group size = domain size — safe at any corpus scale
    * only because the caller asserts the domain is bounded; that is the
    * same assertion `spearman`'s `broadcastXRanks` makes). Same doubled-
    * midrank identity and int64 arithmetic as [[midranks2]] — pinned
    * bit-equal in Round10Spec — without the range-exchange/slice-offset
    * machinery an unbounded domain needs (6 plan stages → 3). */
  def midranks2Bounded(df: DataFrame, groupCols: Seq[String],
                       valueCol: String): DataFrame = {
    val gc: Seq[Column] = groupCols.map(col)
    val w = Window.partitionBy(gc: _*).orderBy(col(valueCol).asc)
      .rowsBetween(Window.unboundedPreceding, -1)
    df.filter(col(valueCol).isNotNull)
      .groupBy((gc :+ col(valueCol)): _*)
      .agg(count(lit(1)).as("__cnt"))
      .withColumn("__run", coalesce(sum("__cnt").over(w), lit(0L)))
      .select(gc ++ Seq(
        col(valueCol),
        col("__cnt").as("cnt"),
        (lit(2L) * col("__run") + col("__cnt") + lit(1L)).as("dr2")): _*)
  }

  /** Spearman ρ per group via the 2-pass midranks — the d39 statistic
    * computed WITHOUT a per-group data-sized window (the round-9 "at real
    * scale" claim, made executable). Same integers, same one-division
    * closed form; pinned equal to the declared d39 in Round10Spec.
    *
    * Plan budget (the r13-brief "trim d44" item, resolved by measurement
    * and plan reads, both recorded here):
    *  - a duplicate-pair PRE-AGGREGATION was tried first and REJECTED —
    *    on lineitem the distinct (group, x, y) domain is 599,806 of
    *    600,000 rows (prices are near-unique, as any continuous-valued
    *    column is), so the extra exchange bought nothing;
    *  - an explicit (group, y) CO-PARTITION was tried second and
    *    REJECTED by plan read — column pruning pushes differing
    *    projections below the exchange copies (the probe keeps x, the
    *    y-agg subtree drops it), so ReuseExchange never matches and the
    *    "shared" exchange materializes twice;
    *  - what ships: NO forced exchange on the data. The probe side joins
    *    the two rank mappings directly — AQE broadcasts a mapping that
    *    fits (both do at test scale) and falls back to shuffle joins
    *    when one doesn't, which is the right call at every scale — and
    *    `broadcastXRanks = true` additionally routes a caller-asserted
    *    BOUNDED x domain (d44: ~50 physical quantity values at any
    *    corpus size) through [[midranks2Bounded]] + an explicit
    *    broadcast: the x mapping is domain-sized by construction, so
    *    neither its rank pass nor its join may ever touch a data-sized
    *    exchange.
    *
    * Rows where EITHER column is NULL carry no rank and join into
    * nothing: ranks are computed over exactly the complete-pair
    * population (the d39 contract made explicit — ranking x over rows
    * whose y is NULL would center against a population the sums never
    * see).
    *
    * @param xCol,yCol non-null numeric columns (long-valued).
    * @param broadcastXRanks caller-asserted bounded x domain: the
    *        distinct `(group, x)` grid fits a broadcast. Leave false
    *        when x is continuous-valued.
    */
  def spearman(df: DataFrame, groupCols: Seq[String],
               xCol: String, yCol: String,
               broadcastXRanks: Boolean = false): DataFrame = {
    val gc: Seq[Column] = groupCols.map(col)
    val base = df.filter(col(xCol).isNotNull && col(yCol).isNotNull)
    // The x-rank mapping feeds TWO consumers (the group-size aggregate n
    // below and the probe join): planned twice, its whole subtree repeats
    // statically and only AQE's runtime exchange-canonicalization merges
    // the copies. Same structural-reuse move as midranks2Weighted's ranged
    // checkpoint: one stored evaluation, distinct-grid-sized (and with
    // broadcastXRanks, domain-sized — tiny by the caller's assertion).
    val rx0 = Materialize.shared(
      (if (broadcastXRanks) midranks2Bounded(base, groupCols, xCol)
       else midranks2(base, groupCols, xCol))
        .withColumnRenamed("cnt", "__cx").withColumnRenamed("dr2", "__dx"))
    val ry = midranks2(base, groupCols, yCol)
      .withColumnRenamed("cnt", "__cy").withColumnRenamed("dr2", "__dy")
    // group sizes from the mapping itself (Σ tie counts = row count) — a
    // groups-sized frame, broadcast back; no data-sized window anywhere.
    val n = rx0.groupBy(gc: _*).agg(sum("__cx").as("__n"))
    val rx = if (broadcastXRanks) broadcast(rx0) else rx0
    base.join(ry, groupCols :+ yCol)
      .join(rx, groupCols :+ xCol)
      .join(broadcast(n), groupCols)
      .select(gc ++ Seq((col("__dx") - (col("__n") + 1)).as("__ux"),
                        (col("__dy") - (col("__n") + 1)).as("__uy")): _*)
      .groupBy(gc: _*)
      .agg(count(lit(1)).cast("long").as("n"),
           sum(col("__ux") * col("__uy")).cast("long").as("sxy"),
           sum(col("__ux") * col("__ux")).cast("long").as("sxx"),
           sum(col("__uy") * col("__uy")).cast("long").as("syy"))
      .select(gc ++ Seq(col("n").as("n_rows"),
        expr("CAST(sxy AS DOUBLE) / (SQRT(CAST(sxx AS DOUBLE)) * SQRT(CAST(syy AS DOUBLE)))")
          .as("spearman_rho")): _*)
  }
}
