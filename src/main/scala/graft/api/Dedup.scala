package graft.api

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Generic deduplication operators for training-data pipelines, over
  * arbitrary DataFrames. Exact forms here; sub-quadratic approximate forms
  * in `graft.operators` (MinHashLSH, SimHash).
  */
object Dedup {

  /** Exact row dedup on a projection. */
  def exactRows(df: DataFrame, cols: Seq[String]): DataFrame =
    df.select(cols.map(col): _*).distinct()

  /** Exact content dedup by digest: one group per distinct content, with the
    * minimal id as keeper and the copy count. */
  def exactByDigest(df: DataFrame, idCol: String, contentCol: String): DataFrame =
    df.groupBy(md5(col(contentCol)).as("h"))
      .agg(min(col(idCol)).as("keeper"), count(lit(1)).as("n_copies"))

  /** [[exactByDigest]] on the Unicode-CANONICAL content (NFC + casefold +
    * accent strip — [[TextAnalysis.canonicalText]]): duplicates differing
    * only by case, accents, or composition form collapse too — the
    * normalize-before-hash posture of every production corpus pipeline
    * (the k72 declared query's library face). Same 100 TB shape: map-only
    * canonicalization into one hash aggregate. */
  def exactByCanonicalDigest(df: DataFrame, idCol: String,
                             contentCol: String): DataFrame =
    df.groupBy(md5(TextAnalysis.canonicalText(col(contentCol))).as("h"))
      .agg(min(col(idCol)).as("keeper"), count(lit(1)).as("n_copies"))

  /** Exact token-set Jaccard near-dup pairs within a blocking key.
    * Inverted-index self-join: cost Σ_token df(token)² per block — use a
    * selective blocking column; the unblocked 100 TB path is MinHashLSH. */
  def tokenJaccardPairs(df: DataFrame, idCol: String, textCol: String,
                        blockCol: String, threshold: Double,
                        sep: String = " "): DataFrame = {
    // dedup tokens per-row with array_distinct (no shuffle), carry the set
    // size through the explode — the only shuffles left are the inverted-
    // index join and the pair aggregation
    // the repartition is the materialization point: it pre-shuffles on the
    // join keys (so the self-join adds no further exchange) and both join
    // sides reuse ONE computation of the tokenization via ReuseExchange
    val tok = df.select(col(idCol).as("__id"), col(blockCol).as("__blk"),
                        array_distinct(split(col(textCol), sep)).as("__ts"))
      .select(col("__id"), col("__blk"), size(col("__ts")).as("__sz"),
              explode(col("__ts")).as("__tok"))
      .repartition(col("__tok"), col("__blk"))
    // length filter [public: PPJoin/prefix-filtering literature]: J(A,B) ≥ t
    // requires min(|A|,|B|) ≥ t·max(|A|,|B|) — semantics-preserving pruning
    // applied inside the join, before the pair-count aggregation ever sees
    // the row (the epsilon keeps exact-boundary pairs despite float t·max)
    val lenOk =
      col("a.__sz") >= col("b.__sz") * threshold - 1e-9 &&
      col("b.__sz") >= col("a.__sz") * threshold - 1e-9
    // SHUFFLE_HASH, not sort-merge: both sides already share one reused
    // exchange (the repartition above), so the only difference is two
    // full sorts of Σdf rows (SMJ) vs one per-partition hash map (SHJ).
    // Measured at sf0.1: 3.8 → 1.7 s for the identical 354k-pair output.
    // Partition payload is bounded by the same (token, block) groups the
    // dense path is selected FOR (dup-dense bounded blocks — the sparse/
    // Zipf route is tokenJaccardPairsPrefix and keeps SMJ for its
    // unbounded-skew posture).
    val inter = tok.as("a")
      .join(tok.as("b").hint("shuffle_hash"),
            col("a.__tok") === col("b.__tok") && col("a.__blk") === col("b.__blk") &&
            col("a.__id") < col("b.__id") && lenOk)
      .groupBy(col("a.__id").as("id1"), col("b.__id").as("id2"))
      .agg(count(lit(1)).as("i"), first(col("a.__sz")).as("sza"),
           first(col("b.__sz")).as("szb"))
    val j = col("i").cast("double") / (col("sza") + col("szb") - col("i"))
    inter.filter(j >= threshold)
      .select(col("id1"), col("id2"), j.as("jaccard"))
  }

  /** Token-set CONTAINMENT pairs: C(A,B) = |A∩B| / min(|A|,|B|) ≥ t — the
    * asymmetric complement of Jaccard [public: SSJoin overlap-predicate
    * family, Chaudhuri et al. ICDE'06]. A 50-token doc fully embedded in a
    * 5000-token doc scores C = 1.0 but J ≈ 0.01: Jaccard-only dedup never
    * sees it, and subset/quotation duplication is a distinct real hazard in
    * training corpora. The Jaccard length filter is NOT valid here (the
    * size-skewed pair is exactly the target), so the inverted-index join
    * relies on blocking alone — same Σdf² shape as [[tokenJaccardPairs]];
    * the scale route is [[tokenContainmentPairsPrefix]] (min-side prefix
    * filter), selected automatically by [[tokenContainmentPairsAuto]]. */
  def tokenContainmentPairs(df: DataFrame, idCol: String, textCol: String,
                            blockCol: String, threshold: Double,
                            sep: String = " "): DataFrame = {
    val tok = df.select(col(idCol).as("__id"), col(blockCol).as("__blk"),
                        array_distinct(split(col(textCol), sep)).as("__ts"))
      .select(col("__id"), col("__blk"), size(col("__ts")).as("__sz"),
              explode(col("__ts")).as("__tok"))
      .repartition(col("__tok"), col("__blk"))
    // same SHUFFLE_HASH rationale as tokenJaccardPairs: reused exchange,
    // dense-path-only (the scale route is tokenContainmentPairsPrefix)
    val inter = tok.as("a")
      .join(tok.as("b").hint("shuffle_hash"),
            col("a.__tok") === col("b.__tok") && col("a.__blk") === col("b.__blk") &&
            col("a.__id") < col("b.__id"))
      .groupBy(col("a.__id").as("id1"), col("b.__id").as("id2"))
      .agg(count(lit(1)).as("i"), first(col("a.__sz")).as("sza"),
           first(col("b.__sz")).as("szb"))
    val c = col("i").cast("double") / least(col("sza"), col("szb"))
    inter.filter(c >= threshold - 1e-9)
      .select(col("id1"), col("id2"), c.as("containment"))
  }

  /** EXACT containment pairs with a MIN-SIDE prefix filter — the
    * sub-quadratic route for [[tokenContainmentPairs]]'s predicate
    * [public: the prefix-filtering principle of SSJoin/PPJoin (Chaudhuri
    * et al. ICDE'06; Xiao et al. WWW'08), specialized to the asymmetric
    * overlap bound].
    *
    * If C(A,B) ≥ t and |A| ≤ |B|, then |A∩B| ≥ ⌈t·|A|⌉ — the overlap bound
    * depends ONLY on the smaller set, which is exactly why the Jaccard
    * length filter is invalid here and also why a one-sided prefix filter
    * is valid: order all tokens by ascending document frequency (ties by
    * token — any shared total order), and A's (|A| − ⌈t·|A|⌉ + 1)-prefix
    * must contain a token of A∩B, else the intersection fits inside A's
    * last ⌈t·|A|⌉ − 1 positions — contradiction. The matching token can
    * sit ANYWHERE in B (nothing bounds B's prefix), so the candidate join
    * probes each doc's min-side prefix against the FULL inverted index:
    * cost Σ_token prefixDf·df instead of Σ_token df² — at t = 0.8 the
    * probe side keeps ~20% of each doc's tokens, and df-ascending ordering
    * makes those the rare ones, so stopword groups never explode.
    * Candidates are verified exactly on the full token arrays, so results
    * are identical to [[tokenContainmentPairs]] — asserted in ApiSpec.
    *
    * Each unordered pair is generated in one canonical orientation (the
    * strictly-smaller set probes; equal sizes tie-break by id), then
    * verified once. The ceil epsilon keeps the prefix conservative under
    * float t·|A|, matching the exact predicate's `≥ t − 1e-9` boundary. */
  def tokenContainmentPairsPrefix(df: DataFrame, idCol: String, textCol: String,
                                  blockCol: String, threshold: Double,
                                  sep: String = " "): DataFrame = {
    val docs = df.select(col(idCol).as("__id"), col(blockCol).as("__blk"),
                         array_distinct(split(col(textCol), sep)).as("__ts"))
      .withColumn("__sz", size(col("__ts")))
    val tok = docs.select(col("__id"), col("__blk"), col("__sz"),
                          explode(col("__ts")).as("__tok"))
    val prefLen = col("__sz") - ceil(lit(threshold) * col("__sz") - 1e-9) + 1
    // single-pass df-as-window shape (see tokenJaccardPairsPrefix): the
    // ranked frame is the reuse point for BOTH join sides — the probe side
    // filters it to the prefix, the index side keeps every token
    val wdf = org.apache.spark.sql.expressions.Window.partitionBy("__tok")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("__id").orderBy(col("__df"), col("__tok"))
    val ranked = tok.withColumn("__df", count(lit(1)).over(wdf))
      .withColumn("__rnk", row_number().over(w))
    val pref = ranked.filter(col("__rnk") <= prefLen)
    // canonical orientation: the probe (a) is the min side
    val minSide = col("a.__sz") < col("b.__sz") ||
      (col("a.__sz") === col("b.__sz") && col("a.__id") < col("b.__id"))
    val cand = pref.as("a")
      .join(ranked.as("b"),
            col("a.__tok") === col("b.__tok") && col("a.__blk") === col("b.__blk") &&
            col("a.__id") =!= col("b.__id") && minSide)
      .select(least(col("a.__id"), col("b.__id")).as("id1"),
              greatest(col("a.__id"), col("b.__id")).as("id2"))
      .distinct()
    val sets = docs.select(col("__id"), col("__ts"), col("__sz"))
    val verified = cand
      .join(sets.select(col("__id").as("id1"), col("__ts").as("__tsa"),
                        col("__sz").as("sza")), "id1")
      .join(sets.select(col("__id").as("id2"), col("__ts").as("__tsb"),
                        col("__sz").as("szb")), "id2")
      .withColumn("i", size(array_intersect(col("__tsa"), col("__tsb"))))
    val c = col("i").cast("double") / least(col("sza"), col("szb"))
    verified.filter(c >= threshold - 1e-9)
      .select(col("id1"), col("id2"), c.as("containment"))
  }

  /** EXACT containment pairs with automatic path selection — the
    * containment analog of [[tokenJaccardPairsAuto]], sharing its memoized
    * [[corpusStats]] decision (the density question is identical: dense
    * dup-heavy blocks favor the single-agg naive join, Zipf corpora favor
    * prefix probing). Results are identical either way. */
  def tokenContainmentPairsAuto(df: DataFrame, idCol: String, textCol: String,
                                blockCol: String, threshold: Double,
                                sep: String = " ",
                                densityCrossover: Double = 0.05,
                                statsSampleOneIn: Int = 1): DataFrame = {
    val key = (df.queryExecution.analyzed.canonicalized.semanticHash(),
               idCol, textCol, blockCol, sep, densityCrossover, statsSampleOneIn)
    val usePrefix = pathDecisions.computeIfAbsent(key, _ =>
      prefersPrefixPath(corpusStats(df, idCol, textCol, blockCol, sep, statsSampleOneIn),
                        densityCrossover))
    if (usePrefix)
      tokenContainmentPairsPrefix(df, idCol, textCol, blockCol, threshold, sep)
    else
      tokenContainmentPairs(df, idCol, textCol, blockCol, threshold, sep)
  }

  /** EXACT token-Jaccard pairs with PPJoin-style prefix filtering [public:
    * Chaudhuri et al. ICDE'06 SSJoin; Xiao et al. WWW'08 PPJoin] — the
    * exact join that survives scale-up, where [[tokenJaccardPairs]] indexes
    * EVERY token and pays Σ_token df(token)².
    *
    * Order all tokens by ascending document frequency (rarest first, ties
    * by token string — any shared total order works; df-ascending minimizes
    * candidate collisions). If J(A,B) ≥ t then |A∩B| ≥ ⌈t·|A|⌉, and two
    * sorted sets with intersection ≥ α must each hold a common token in
    * their (size − α + 1)-prefixes — so indexing only each doc's prefix
    * finds every qualifying pair, and the inverted-index cost drops to
    * Σ_{prefix tokens} df² over the RAREST ~(1−t) fraction of each doc.
    * Candidates are then verified exactly on the full token arrays
    * (array_intersect), so results are identical to the naive join —
    * asserted in ApiSpec.
    *
    * MEASURED (sf0.1, local[32], one warm `count()` of each path over the
    * cached documents table, t = 0.6): both paths emit the
    * same 353,929 pairs; naive 2.5 s, prefix 5.9 s. The fixture is
    * adversarial for prefix filtering — over half of all within-block
    * pairs genuinely qualify at t=0.6, so candidate pruning is nil and the
    * extra stages (df ranking, verify join) are pure overhead. The
    * crossover is the duplicate RATE: on a production corpus (dups a few
    * percent, df² cost dominated by common tokens that never survive a
    * prefix) this shape wins by orders of magnitude, which is why it is
    * the library's exact-at-scale path while [[tokenJaccardPairs]] remains
    * the right choice for small, dup-dense blocks.
    *
    * The ceil epsilon keeps the prefix conservative (≥ the theoretical
    * length) under float t·|A|, never shorter — pruning stays
    * semantics-preserving at exact-boundary sizes. */
  def tokenJaccardPairsPrefix(df: DataFrame, idCol: String, textCol: String,
                              blockCol: String, threshold: Double,
                              sep: String = " "): DataFrame = {
    val docs = df.select(col(idCol).as("__id"), col(blockCol).as("__blk"),
                         array_distinct(split(col(textCol), sep)).as("__ts"))
      .withColumn("__sz", size(col("__ts")))
    val tok = docs.select(col("__id"), col("__blk"), col("__sz"),
                          explode(col("__ts")).as("__tok"))
    val prefLen = col("__sz") - ceil(lit(threshold) * col("__sz") - 1e-9) + 1
    // document frequency as a window count, NOT tok ⋈ tok.groupBy(__tok):
    // referencing tok twice defeats exchange reuse (the aggregate subtree
    // differs under pruning), re-scanning and re-exploding the corpus —
    // the same single-pass shape k20 uses
    val wdf = org.apache.spark.sql.expressions.Window.partitionBy("__tok")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("__id").orderBy(col("__df"), col("__tok"))
    val pref = tok.withColumn("__df", count(lit(1)).over(wdf))
      .withColumn("__rnk", row_number().over(w))
      .filter(col("__rnk") <= prefLen)
    val lenOk =
      col("a.__sz") >= col("b.__sz") * threshold - 1e-9 &&
      col("b.__sz") >= col("a.__sz") * threshold - 1e-9
    val cand = pref.as("a")
      .join(pref.as("b"),
            col("a.__tok") === col("b.__tok") && col("a.__blk") === col("b.__blk") &&
            col("a.__id") < col("b.__id") && lenOk)
      .select(col("a.__id").as("id1"), col("b.__id").as("id2"))
      .distinct()
    val sets = docs.select(col("__id"), col("__ts"), col("__sz"))
    val verified = cand
      .join(sets.select(col("__id").as("id1"), col("__ts").as("__tsa"),
                        col("__sz").as("sza")), "id1")
      .join(sets.select(col("__id").as("id2"), col("__ts").as("__tsb"),
                        col("__sz").as("szb")), "id2")
      .withColumn("i", size(array_intersect(col("__tsa"), col("__tsb"))))
    val j = col("i").cast("double") / (col("sza") + col("szb") - col("i"))
    verified.filter(j >= threshold)
      .select(col("id1"), col("id2"), j.as("jaccard"))
  }

  /** Cheap corpus statistics that drive the exact-dedup path selection in
    * [[tokenJaccardPairsAuto]].
    *
    * `blockDensity` = meanDf / maxBlock, where meanDf is the UNWEIGHTED
    * mean document frequency over distinct (block, token) groups: "what
    * fraction of its block does a typical vocabulary entry appear in?"
    *  - dup-dense corpora (the sf fixtures: measured meanDf/maxBlock =
    *    19.0/25 ≈ 0.76 at sf0.001 and 187.5/250 ≈ 0.75 at sf0.1, via this
    *    exact stats job) → documents genuinely overlap, inverted-index
    *    groups are dense, prefix pruning is nil, and the naive join's
    *    single agg-shape wins (measured 2.5 s vs 5.9 s at sf0.1).
    *  - natural corpora (Zipf vocabulary, dup rate a few %) → the vocab
    *    is dominated by rare tokens, so meanDf ≈ N·L/V ≪ block size and
    *    density is ≪ 0.05; the Σdf² cost of the naive join is then pure
    *    stopword blow-up that never survives a prefix, and the PPJoin
    *    prefix path wins by orders of magnitude.
    * (The df²-weighted mean is deliberately NOT used: stopwords dominate
    * Σdf² on exactly the corpora where the prefix path wins, so weighting
    * by df² misreads Zipf corpora as dense.)
    *
    * Under deterministic document hash-sampling (`sampleOneIn` = n keeps
    * 1/n of docs) both meanDf and maxBlock scale ≈ linearly with the
    * sample fraction on the dense side, leaving density invariant; on the
    * sparse side meanDf floors at 1, biasing density upward by at most
    * n/maxBlock — so keep n ≪ maxBlock·crossover and sampling can only
    * flip a near-boundary corpus toward the (always-correct) naive path. */
  final case class CorpusStats(nDocs: Long, maxBlock: Long,
                               sumDf: Long, sumDf2: Long, nTokenGroups: Long) {
    /** Unweighted mean document frequency per distinct (block, token). */
    def meanDf: Double = if (nTokenGroups == 0) 0.0 else sumDf.toDouble / nTokenGroups
    /** Naive-join candidate token-pair rows per document, Σdf²/nDocs —
      * diagnostic for the cost the prefix path avoids. */
    def candPerDoc: Double = if (nDocs == 0) 0.0 else sumDf2.toDouble / nDocs
    def blockDensity: Double = if (maxBlock == 0) 0.0 else meanDf / maxBlock
  }

  /** Two bounded aggregation jobs (each collects ONE row — same driver-side
    * posture as MLlib centroids): per-(block, token) document frequencies
    * folded to Σdf/Σdf²/group-count, and the max block size. `sampleOneIn`
    * keeps only documents with xxhash64(id) ≡ 0 (mod n) — deterministic,
    * and the density ratio tolerates sampling (see [[CorpusStats]]). */
  def corpusStats(df: DataFrame, idCol: String, textCol: String,
                  blockCol: String, sep: String = " ",
                  sampleOneIn: Int = 1): CorpusStats = {
    require(sampleOneIn >= 1, s"sampleOneIn must be >= 1, got $sampleOneIn")
    val sampled =
      if (sampleOneIn == 1) df
      else df.filter(pmod(xxhash64(col(idCol)), lit(sampleOneIn)) === 0)
    val dfreq = sampled
      .select(col(idCol).as("__id"), col(blockCol).as("__blk"),
              explode(array_distinct(split(col(textCol), sep))).as("__tok"))
      .groupBy("__blk", "__tok").agg(count(lit(1)).as("df"))
      .agg(coalesce(sum(col("df") * col("df")), lit(0L)).as("sum_df2"),
           coalesce(sum(col("df")), lit(0L)).as("sum_df"),
           count(lit(1)).as("n_groups"))
      .collect()(0)
    val blocks = sampled.groupBy(col(blockCol)).agg(count(lit(1)).as("n"))
      .agg(coalesce(max(col("n")), lit(0L)).as("max_blk"),
           coalesce(sum(col("n")), lit(0L)).as("n_docs"))
      .collect()(0)
    CorpusStats(nDocs = blocks.getLong(1), maxBlock = blocks.getLong(0),
                sumDf = dfreq.getLong(1), sumDf2 = dfreq.getLong(0),
                nTokenGroups = dfreq.getLong(2))
  }

  /** Path decision for [[tokenJaccardPairsAuto]], exposed for tests and for
    * callers that want to reuse one stats pass across several dedup calls.
    * Below the crossover the corpus is sparse/Zipf-shaped and the PPJoin
    * prefix path wins; above it the blocks are dup-dense and the naive
    * inverted-index join's simpler shape wins (both are EXACT — the choice
    * affects cost only, never results). */
  def prefersPrefixPath(stats: CorpusStats, densityCrossover: Double = 0.05): Boolean =
    stats.blockDensity < densityCrossover

  /** EXACT token-Jaccard pairs with automatic path selection: measures
    * [[corpusStats]] (two 1-row aggregation jobs) and routes to
    * [[tokenJaccardPairsPrefix]] on sparse corpora or [[tokenJaccardPairs]]
    * on dup-dense ones. Results are identical either way (both exact,
    * equality pinned in ApiSpec) — the selector exists so a 100 TB caller
    * gets the scale-safe Σ(prefix-df)² plan without knowing to ask for it,
    * while small dup-dense blocks keep the cheaper naive shape. */
  def tokenJaccardPairsAuto(df: DataFrame, idCol: String, textCol: String,
                            blockCol: String, threshold: Double,
                            sep: String = " ",
                            densityCrossover: Double = 0.05,
                            statsSampleOneIn: Int = 1): DataFrame = {
    // The DECISION is memoized per canonicalized input plan: several
    // pipeline stages (pairs → clusters → decontamination) dedup the same
    // corpus in one session, and the stats job answers the same question
    // each time. Keyed on the semantic plan hash + the selector inputs;
    // a plan whose underlying files change mid-session may reuse a stale
    // decision, which only affects COST (both paths are exact).
    val key = (df.queryExecution.analyzed.canonicalized.semanticHash(),
               idCol, textCol, blockCol, sep, densityCrossover, statsSampleOneIn)
    val usePrefix = pathDecisions.computeIfAbsent(key, _ =>
      prefersPrefixPath(corpusStats(df, idCol, textCol, blockCol, sep, statsSampleOneIn),
                        densityCrossover))
    if (usePrefix)
      tokenJaccardPairsPrefix(df, idCol, textCol, blockCol, threshold, sep)
    else
      tokenJaccardPairs(df, idCol, textCol, blockCol, threshold, sep)
  }

  private val pathDecisions =
    new java.util.concurrent.ConcurrentHashMap[
      (Int, String, String, String, String, Double, Int), java.lang.Boolean]()

  /** The whole near-dedup pipeline as ONE call — pairs → clusters → keep
    * the smallest-id document per cluster: the operation a training-data
    * pipeline actually wants ("give me the deduplicated corpus"), composed
    * from the pieces that are each oracle/spec-checked separately
    * ([[tokenJaccardPairsAuto]] for edges, seed-and-contract connected
    * components for clusters). Returns the input rows of the kept
    * representatives only; singleton documents (no near-dup) always
    * survive. Every stage is the selector-routed scale path, so this is
    * safe to call on a corpus the caller couldn't pair-join naively. */
  def keepRepresentatives(df: DataFrame, idCol: String, textCol: String,
                          blockCol: String, threshold: Double,
                          sep: String = " "): DataFrame = {
    val pairs = tokenJaccardPairsAuto(df, idCol, textCol, blockCol, threshold, sep)
    val clusters = graft.operators.ConnectedComponents.assignContracted(
      df.select(col(idCol)), pairs, idCol, "id1", "id2")
    val keep = clusters.filter(col(idCol) === col("component"))
      .select(col(idCol).as("__keep"))
    df.join(keep, col(idCol) === col("__keep")).drop("__keep")
  }

  /** Word n-gram (shingle) Jaccard pairs — shingles are far more selective
    * than tokens, so this is the exact-dedup shape that survives scale-up. */
  def shingleJaccardPairs(df: DataFrame, idCol: String, textCol: String,
                          blockCol: String, n: Int, threshold: Double): DataFrame = {
    require(n >= 2)
    val slots = (0 until n).map(k => s"element_at(__t, g + $k)").mkString(", ")
    val base = df.select(col(idCol).as("__id"), col(blockCol).as("__blk"),
                         split(col(textCol), " ").as("__t"))
      .filter(size(col("__t")) >= n)
    // explode → distinct-aggregate → window count. Measured best shape at
    // sf0.1 (3.1 s vs 15 s for array_distinct+repartition): shingles are
    // nearly unique per doc, so the join groups are tiny and the dominant
    // cost is the shingling expression itself — the distinct aggregate is
    // the materialization both self-join sides reuse, so shingling runs once
    val w = org.apache.spark.sql.expressions.Window.partitionBy("__id")
    val sh = base.select(col("__id"), col("__blk"),
        explode(expr(s"transform(sequence(1, size(__t) - ${n - 1}), " +
                     s"g -> concat_ws(' ', $slots))")).as("__sh"))
      .distinct()
      .withColumn("__sz", count(lit(1)).over(w))
    // same length filter as tokenJaccardPairs: J ≥ t ⟹ min ≥ t·max
    val lenOk =
      col("a.__sz") >= col("b.__sz") * threshold - 1e-9 &&
      col("b.__sz") >= col("a.__sz") * threshold - 1e-9
    // NO shuffle-hash hint here (unlike the token joins): shingle keys
    // are near-unique, so the per-partition hashed relation holds nearly
    // every row of the partition keyed by long strings — measured SLOWER
    // than the sort-merge (2.0 → 2.9 s at sf0.1); the token joins win
    // with SHJ because their key domain is block-vocabulary-sized
    val inter = sh.as("a")
      .join(sh.as("b"),
            col("a.__sh") === col("b.__sh") && col("a.__blk") === col("b.__blk") &&
            col("a.__id") < col("b.__id") && lenOk)
      .groupBy(col("a.__id").as("id1"), col("b.__id").as("id2"))
      .agg(count(lit(1)).as("i"), first(col("a.__sz")).as("sza"),
           first(col("b.__sz")).as("szb"))
    val j = col("i").cast("double") / (col("sza") + col("szb") - col("i"))
    inter.filter(j >= threshold)
      .select(col("id1"), col("id2"), j.as("jaccard"))
  }

  /** Embedding-cosine near-dup pairs with IVF-CLUSTER blocking — the
    * SemDeDup shape [public: Abbas et al., "SemDeDup: Data-efficient
    * learning at web-scale through semantic deduplication", 2023] and the
    * 100 TB scale path for embedding dedup: no all-pairs join ever forms
    * across clusters. Each vector is assigned to its `nprobe` nearest
    * centroids ([[graft.operators.Ivf.assignTopN]] — multi-probe is what
    * recovers pairs astride a cluster boundary), pairs form ONLY within a
    * probed cluster via the shared [[Similarity.cosinePairs]] machinery
    * (normalize once, co-partition on the cluster id, one codegen'd dot
    * per candidate pair), and a pair probed into two common clusters is
    * collapsed to one row. Cost: Σ over clusters of (members choose 2) —
    * the centroid count is the knob trading cluster size against recall.
    * Returns (id1, id2, cos) with id1 < id2, cos exact (the same value
    * k07's brute force computes — approximation lives only in candidate
    * GENERATION, so precision is exactly 1 and recall is the measured
    * quantity; pinned ≥ 0.9 at nprobe = 2 in ScaleOpsSpec). */
  def embeddingCosinePairs(df: DataFrame, idCol: String, vecCol: String,
                           centroids: DataFrame, threshold: Double,
                           nprobe: Int = 2): DataFrame = {
    val asg = graft.operators.Ivf.assignTopN(
      df.select(col(idCol).as("vec_id"), col(vecCol).as("embedding")),
      centroids, nprobe)
    val blocked = df.select(col(idCol), col(vecCol))
      .join(asg.select(col("vec_id").as(idCol), col("cid")), Seq(idCol))
    Similarity.cosinePairs(blocked, idCol, vecCol, "cid", threshold)
      .groupBy("id1", "id2").agg(max("cos").as("cos"))
  }

  /** The whole embedding near-dedup pipeline as ONE call — the embedding
    * analog of [[keepRepresentatives]] and the composed SemDeDup scale
    * path the r8 verdict named: k-means centroids → IVF-cluster-blocked
    * cosine pairs ([[embeddingCosinePairs]]) → connected components →
    * keep the smallest-id vector per cluster. Returns the input rows of
    * the kept representatives; singletons always survive. Every stage is
    * the bounded-state scale form (driver holds only k × dim centroid
    * doubles; clusters contract with checkpointed O(log² n) rounds). */
  def keepRepresentativesByEmbedding(df: DataFrame, idCol: String,
                                     vecCol: String, threshold: Double,
                                     k: Int = 8, nprobe: Int = 2,
                                     kmeansIters: Int = 2): DataFrame = {
    val centroids = graft.operators.Ivf.kmeansCentroids(
      df.select(col(idCol).as("vec_id"), col(vecCol).as("embedding")),
      k, kmeansIters)
    val pairs = embeddingCosinePairs(df, idCol, vecCol, centroids,
                                     threshold, nprobe)
    val clusters = graft.operators.ConnectedComponents.assignContracted(
      df.select(col(idCol)), pairs, idCol, "id1", "id2")
    val keep = clusters.filter(col(idCol) === col("component"))
      .select(col(idCol).as("__keep"))
    df.join(keep, col(idCol) === col("__keep")).drop("__keep")
  }
}
