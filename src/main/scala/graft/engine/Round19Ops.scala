package graft.engine

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Round-19 declared queries — the targeted-selection / fuzzy-matching
  * tier of the LLM-data pipeline (the three selection axes the k-block
  * does not yet cover):
  *
  *  - `k58_dsir_weight` — DSIR importance weights [public: Xie et al.
  *    2023, "Data Selection for Language Models via Importance
  *    Resampling"]: per-doc unigram log-likelihood ratio between a
  *    TARGET domain and the raw corpus — the targeted-selection
  *    complement of k40's typicality score (k40 asks "is this doc
  *    normal?"; DSIR asks "does this doc look like the domain I want
  *    more of?").
  *  - `k59_edit_fuzzy_decontam` — fuzzy benchmark decontamination:
  *    exact shingle blocking + Levenshtein verify — the EDIT-DISTANCE
  *    modality between k24's whole-doc digests, k34/k45's verbatim
  *    n-grams/spans, and k52's embedding cosine (a lightly-paraphrased
  *    eval doc evades all three verbatim gates and may sit below an
  *    embedding threshold; small edit distance catches it).
  *  - `k60_zipf_fit` — per-source Zipf-law fit [public: Zipf 1949;
  *    Piantadosi 2014 review]: OLS slope of ln(freq) on ln(rank) over
  *    the source's token frequency spectrum — the corpus-SHAPE quality
  *    signal (natural text reads ≈ −1; templated/synthetic sources
  *    read far shallower), per-source where k36/k40 are per-doc.
  *
  * Every query follows the SURVEY §2 determinism rules (explicit NULLS,
  * total ORDER BY, integer-exact arithmetic except the declared ROUND-4
  * ratio/transcendental class).
  */
object Round19Ops {

  // ---------------------------------------------------------------- k58

  /** The declared target domain: a fixed source whitelist (a real
    * pipeline's "high-quality domain" — the Wikipedia/books proxy). */
  val DsirTargetSources: Seq[String] = Seq("src0", "src1", "src2", "src3")

  /** Selection threshold on the ROUND-4 mean log-likelihood ratio;
    * probed to bite at sf0.01 (mean_llr spans [−0.0393, +0.0362]). */
  private val DsirTau = 0.005

  /** k58 — DSIR importance weight per document [public: Xie et al. 2023
    * §3 — hashed-unigram importance resampling scores each raw doc by
    * log p_target(doc) − log p_raw(doc) under bag-of-ngram language
    * models and resamples proportionally]: per doc, the mean per-token
    * log-likelihood ratio ln(p̂_t(w) / p̂_r(w)) with both unigram models
    * add-1 smoothed over the SHARED corpus vocabulary V (smoothing is
    * load-bearing, not decorative: every non-target token has
    * target-count 0 and would send the ratio to ln 0 without it), plus
    * the selection flag mean_llr > τ on the ROUNDED value (both engines
    * compare identical doubles — the k40 flag discipline).
    *
    * Scale shape (the k48 lesson applied from the start): ONE token
    * explode → the type-level (doc, token, target-flag) tf frame, whose
    * exchange every consumer REUSES (plan-pinned single Generate); raw
    * and target counts fall out of one vocab-sized CONDITIONAL regroup
    * (no filtered re-aggregation — a filter would push below the agg
    * and break the reuse); the totals derive from the vocab-sized frame;
    * the 1-row totals broadcast; the per-token weight table joins tf by
    * token as a plain hash join AQE can skew-split on a Zipf-hot token —
    * no data-sized window anywhere, and NO broadcast hint on the weight
    * table (vocab-sized is model-class here but ~10⁷ rows at web scale —
    * the k52 lesson: let AQE decide). The `ln` rides the k20/k36/k40
    * IEEE recipe: both engines build the ratio from the SAME exact
    * integers with the SAME operation order — (ct+1 as double)·(nr+v) /
    * ((cr+1 as double)·(nt+v)) — take `ln` of identical bits, and
    * ROUND 4 absorbs the ≤1-ulp transcendental class; the per-doc
    * Σ c·llr_t then routes through DECIMAL(18,6) (Determinism.dsum,
    * as k60/k62 — r20 advice: merge order must not flip a mean at a
    * ROUND-4 boundary, because `selected` compares the rounded value). */
  val k58: Q = Q(
    "k58_dsir_weight",
    s"""WITH tok AS (SELECT doc_id, source, UNNEST(STRING_SPLIT(text, ' ')) AS t
      |             FROM documents),
      |tf AS (SELECT doc_id, t, COUNT(*) AS c FROM tok GROUP BY 1, 2),
      |cr AS (SELECT t, COUNT(*) AS cr FROM tok GROUP BY 1),
      |ct AS (SELECT t, COUNT(*) AS ctt FROM tok
      |       WHERE source IN ('src0', 'src1', 'src2', 'src3') GROUP BY 1),
      |n AS (SELECT COUNT(*) AS nr,
      |        COUNT(*) FILTER (WHERE source IN ('src0', 'src1', 'src2', 'src3')) AS nt,
      |        COUNT(DISTINCT t) AS v
      |      FROM tok),
      |per AS (
      |  SELECT tf.doc_id, SUM(tf.c) AS n_tok,
      |    ${Determinism.dsumSql(
             "tf.c * LN((CAST(COALESCE(ctt, 0) + 1 AS DOUBLE) * (nr + v)) " +
               "/ (CAST(cr + 1 AS DOUBLE) * (nt + v)))")} AS llr
      |  FROM tf JOIN cr ON tf.t = cr.t LEFT JOIN ct ON tf.t = ct.t
      |  CROSS JOIN n
      |  GROUP BY 1)
      |SELECT doc_id, CAST(n_tok AS BIGINT) AS n_tokens,
      |  ROUND(llr / n_tok, 4) + 0.0 AS mean_llr,
      |  CAST(CASE WHEN ROUND(llr / n_tok, 4) > 0.005 THEN 1 ELSE 0 END AS INT)
      |    AS selected
      |FROM per ORDER BY doc_id ASC NULLS LAST""".stripMargin,
    (s, dir) => k58Plan(Tables.documents(s, dir)))

  /** The k58 plan body, factored so Round19Spec can drive the REAL plan
    * on synthetic frames (the h46Plan discipline). */
  def k58Plan(docs: DataFrame): DataFrame = {
    val isTarget = col("source").isin(DsirTargetSources: _*)
    val tok = docs.select(col("doc_id"),
                          explode(split(col("text"), " ")).as("t"),
                          isTarget.as("tgt"))
    // ONE corpus pass: the type-level (doc, token, target-flag) frame —
    // tgt is functionally dependent on doc_id, so the grouping granularity
    // IS (doc, token). Everything downstream derives from this frame via
    // CONDITIONAL aggregation (no filtered re-aggregation, no left join):
    // a filter between tf and a consumer would be pushed below the
    // aggregate and break exchange-subtree identity, re-running the
    // Generate per consumer (the k48 ReusedExchange lesson; the first cut
    // of this plan exploded the corpus 4× exactly that way).
    val tf = tok.groupBy("doc_id", "t", "tgt").agg(count(lit(1)).as("c"))
    // vocab-sized: raw and target counts in one regroup; sum(when) skips
    // non-target rows (null), so a token absent from the target reads NULL
    // → coalesce 0 (the add-1 smoothing's domain)
    val cr = tf.groupBy("t")
      .agg(sum(col("c")).as("cr"),
           sum(when(col("tgt"), col("c"))).as("ctt"))
    // totals derived from the VOCAB-sized frame, not the corpus
    val n = cr.agg(sum(col("cr")).as("nr"),
                   sum(coalesce(col("ctt"), lit(0L))).as("nt"),
                   count(lit(1)).as("v"))
    val w = cr.crossJoin(broadcast(n))
      .select(col("t"), log(
        ((coalesce(col("ctt"), lit(0L)) + 1L).cast("double")
          * (col("nr") + col("v")))
          / ((col("cr") + 1L).cast("double") * (col("nt") + col("v"))))
        .as("llr_t"))
    // + 0.0 canonicalizes a −0.0 round result to +0.0 (IEEE: −0.0 + 0.0 =
    // +0.0, identity elsewhere) — a doc whose llr rounds to zero from below
    // serialized as -0x0.0p+0 in DuckDB but +0x0.0p+0 here (caught by the
    // sf0.001 selfcheck, row 33); both engines apply the same normalization.
    // The per-doc Σ c·llr_t routes through DECIMAL(18,6) (Determinism.dsum,
    // the k60/k62 posture) — r20 advice: a raw double sum's partial-merge
    // order can flip a mean_llr sitting at a ROUND-4 boundary, and the
    // `selected` flag compares the rounded value
    val meanLlr = round(Determinism.dsum(col("c") * col("llr_t")) / sum(col("c")), 4) + 0.0
    tf.join(w, "t")
      .groupBy("doc_id")
      .agg(sum(col("c")).cast("long").as("n_tokens"),
           meanLlr.as("mean_llr"),
           when(meanLlr > DsirTau, 1).otherwise(0).cast("int").as("selected"))
      .orderBy(asc_nulls_last("doc_id"))
  }

  // ---------------------------------------------------------------- k59

  /** Blocking shingle width: SHORTER than k44's 20 because the whole
    * point is catching EDITED near-copies — a doc paraphrased every ~10
    * tokens shares no 20-token span with its original but plenty of
    * 5-token ones. */
  private val BlockW = 5

  /** Stop-shingle document-frequency cap: shingles held by more docs
    * are boilerplate, discriminate nothing, and would emit df² candidate
    * pairs — dropping them is the standard blocking discipline (the
    * same reason CCNet/ExactSubstr analyses drop super-frequent grams)
    * and is part of the DECLARED semantics, mirrored in the oracle. */
  private val BlockDfCap = 20

  /** Verify window and threshold: Levenshtein over the first 240 chars
    * (a fixed head bounds the O(|a|·|b|) DP at scale — the declared
    * verify granularity), contaminated iff min distance ≤ 60. */
  private val HeadChars = 240
  private val EditTau   = 60

  /** k59 — fuzzy eval-set decontamination via exact-shingle blocking +
    * edit-distance verify [public: the candidate-then-verify shape of
    * every fuzzy-dedup system (PPJoin, Lee et al. 2022's "approximate"
    * appendix); GPT-3's appendix C and PaLM's contamination analyses
    * both fall back to fuzzy overlap when verbatim n-grams miss edited
    * copies]: eval docs = k17's content-hash split discipline (first
    * md5 hex digit of doc_id ≥ 'e' — the 2/16 "test" bucket, stable
    * under reruns and corpus growth); candidates = DISTINCT
    * (eval, train) pairs sharing ≥ 1 blocking-eligible 5-token shingle
    * (df ≤ 20 — stop-shingles excluded by declared semantics);
    * verify = Levenshtein on the 240-char heads; per EVAL doc: candidate
    * count, min distance (NULL when no candidate survives blocking),
    * contaminated flag (min ≤ 60). Every eval doc appears exactly once —
    * the unblocked majority with n_candidates 0 (flag 0, dist NULL).
    *
    * Scale shape: ONE shingling Generate; split membership is computed
    * MAP-SIDE from doc_id (no join against a split table); the df cap
    * runs FIRST (digest-keyed hash agg + semi-shaped join) so no
    * downstream buffer ever holds more than cap doc-ids per digest, and
    * it bounds the per-digest pair emission at cap² (the k53 domain²
    * argument — without it one universal shingle emits |eval|·|train|
    * pairs); candidates then emit JOIN-FREE from one bounded collect_set
    * agg + one pair Generate; heads join back by doc_id (two hash
    * joins); the DP cost is bounded by HeadChars² per surviving pair.
    * All comparisons exact integers (Levenshtein is an
    * integer; both engines run unit-cost edit distance over identical
    * ASCII heads — SUBSTR is 1-based in both). */
  val k59: Q = Q(
    "k59_edit_fuzzy_decontam",
    s"""WITH tk AS (SELECT doc_id, STRING_SPLIT(text, ' ') AS ts FROM documents),
      |sp AS (SELECT DISTINCT doc_id,
      |         MD5(ARRAY_TO_STRING(ts[i + 1:i + $BlockW], ' ')) AS d
      |       FROM tk,
      |         UNNEST(RANGE(0, GREATEST(LEN(ts) - ${BlockW - 1}, 0))) AS r(i)),
      |ok AS (SELECT d FROM sp GROUP BY d HAVING COUNT(*) <= $BlockDfCap),
      |sd AS (SELECT sp.doc_id, sp.d,
      |         SUBSTR(MD5(CAST(sp.doc_id AS VARCHAR)), 1, 1) >= 'e' AS is_test
      |       FROM sp JOIN ok ON sp.d = ok.d),
      |pairs AS (SELECT DISTINCT e.doc_id AS eval_id, t.doc_id AS train_id
      |          FROM sd e JOIN sd t ON e.d = t.d
      |          WHERE e.is_test AND NOT t.is_test),
      |vr AS (SELECT p.eval_id, COUNT(*) AS n_candidates,
      |         MIN(levenshtein(SUBSTR(de.text, 1, $HeadChars),
      |                         SUBSTR(dt.text, 1, $HeadChars))) AS min_dist
      |       FROM pairs p
      |       JOIN documents de ON de.doc_id = p.eval_id
      |       JOIN documents dt ON dt.doc_id = p.train_id
      |       GROUP BY 1)
      |SELECT dd.doc_id AS doc_id,
      |  CAST(COALESCE(n_candidates, 0) AS BIGINT) AS n_candidates,
      |  CAST(min_dist AS BIGINT) AS min_dist,
      |  CAST(CASE WHEN min_dist <= $EditTau THEN 1 ELSE 0 END AS INT)
      |    AS contaminated
      |FROM documents dd LEFT JOIN vr ON dd.doc_id = vr.eval_id
      |WHERE SUBSTR(MD5(CAST(dd.doc_id AS VARCHAR)), 1, 1) >= 'e'
      |ORDER BY dd.doc_id ASC NULLS LAST""".stripMargin,
    (s, dir) => k59Plan(Tables.documents(s, dir)))

  /** The k59 plan body (factored for Round19Spec synthetic-frame pins). */
  def k59Plan(docs: DataFrame): DataFrame = {
    val isTest = substring(md5(col("doc_id").cast("string")), 1, 1) >= "e"
    val pairs = k59Pairs(docs)
    val vr = pairs
      .join(docs.select(col("doc_id").as("eval_id"),
                        substring(col("text"), 1, HeadChars).as("eh")), "eval_id")
      .join(docs.select(col("doc_id").as("train_id"),
                        substring(col("text"), 1, HeadChars).as("th")), "train_id")
      .groupBy("eval_id")
      .agg(count(lit(1)).as("n_candidates"),
           min(levenshtein(col("eh"), col("th"))).as("min_dist"))
    docs.filter(isTest).select("doc_id")
      .join(vr, col("doc_id") === col("eval_id"), "left")
      .select(col("doc_id"),
              coalesce(col("n_candidates"), lit(0L)).as("n_candidates"),
              col("min_dist").cast("long").as("min_dist"),
              when(col("min_dist") <= EditTau, 1).otherwise(0).cast("int")
                .as("contaminated"))
      .orderBy(asc_nulls_last("doc_id"))
  }

  /** The blocking stage alone — (eval_id, train_id) candidate pairs —
    * factored so ScaleProbe can gate pair-level invariants the per-eval
    * aggregate hides (cross-replica purity, replica-0 set equality). */
  def k59Pairs(docs: DataFrame): DataFrame = {
    val isTest = substring(md5(col("doc_id").cast("string")), 1, 1) >= "e"
    // ONE shingling Generate; distinct (digest, doc); split tag map-side.
    // is_test is functionally dependent on doc_id, so the distinct's
    // granularity is (digest, doc).
    val sp = docs
      .select(col("doc_id"), split(col("text"), " ").as("__t"))
      .filter(size(col("__t")) >= BlockW)
      .select(col("doc_id"),
              explode(expr(Spans.digestsExpr(BlockW))).as("d"))
      .withColumn("is_test", isTest)
      .distinct()
    // The df cap runs BEFORE any set is collected: a universal boilerplate
    // shingle must never buffer a corpus-sized doc set (the k53 bounded-
    // collect discipline — there the bound was the source domain; here it
    // is the cap, enforced by this digest-keyed semi-structured join).
    val ok = sp.groupBy("d").agg(count(lit(1)).as("df"))
      .filter(col("df") <= BlockDfCap).select("d")
    // Pair candidates JOIN-FREE per digest: one hash agg collects the
    // (≤ cap)-bounded eval/train sets, one Generate emits the i×j pairs —
    // ≤ cap² rows per digest by construction. The first cut of this plan
    // self-joined sd (eval side ⋈ train side on digest); the is_test /
    // NOT is_test filters pushed below the join, broke exchange-subtree
    // identity, and re-ran the shingling per side — the k48 lesson again.
    val pairs = sp.join(ok, "d")
      .groupBy("d")
      .agg(collect_set(when(col("is_test"), col("doc_id"))).as("evals"),
           collect_set(when(!col("is_test"), col("doc_id"))).as("trains"))
      .filter(size(col("evals")) > 0 && size(col("trains")) > 0)
      .select(explode(expr(
        "flatten(transform(evals, e -> " +
          "transform(trains, t -> struct(e AS eval_id, t AS train_id))))"))
        .as("p"))
      .select(col("p.eval_id").as("eval_id"),
              col("p.train_id").as("train_id"))
      .distinct()
    pairs
  }

  // ---------------------------------------------------------------- k60

  /** k60 — per-source Zipf-law fit [public: Zipf 1949; Piantadosi 2014,
    * "Zipf's word frequency law in natural language"]: rank each
    * source's token types by frequency (count DESC, token ASC — a total
    * order, so ranks are deterministic) and OLS-fit ln(freq) on
    * ln(rank); natural text slopes ≈ −1, templated or
    * low-entropy-generated sources fit far shallower — a per-SOURCE
    * corpus-shape gate where k36/k40 score per-doc. Also emits the
    * type/token counts and the type-token ratio (the classical lexical
    * diversity statistic the slope contextualizes).
    *
    * Determinism — why NOT `regr_slope`: both engines have it, but it
    * sums raw doubles whose partial-aggregate merge order differs, the
    * e12 class of low-bit divergence. Instead each OLS sum routes
    * through DECIMAL(18,6) ([[Determinism.dsum]] — order-independent,
    * exact), and the closed form (n·Σxy − Σx·Σy)/(n·Σxx − Σx²) then
    * computes on bit-identical doubles in BOTH engines; ln of exact
    * integer-valued doubles is the documented ≤1-ulp-into-ROUND-4
    * class. A single-type source has Σxx = Σx = 0 and BOTH engines
    * return NULL for the 0/0 division (Spark Divide and DuckDB both
    * yield NULL on zero divisor — spec-pinned).
    *
    * Scale shape: explode → per-(source, type) counts (vocab-sized);
    * the rank window partitions by source over the VOCAB-sized spectrum
    * (the k49 grid-window class — never a per-occurrence partition);
    * one source-keyed hash agg finishes. */
  val k60: Q = Q(
    "k60_zipf_fit",
    s"""WITH tok AS (SELECT source, UNNEST(STRING_SPLIT(text, ' ')) AS t
      |             FROM documents),
      |tf AS (SELECT source, t, COUNT(*) AS c FROM tok GROUP BY 1, 2),
      |rk AS (SELECT source, c,
      |         ROW_NUMBER() OVER (PARTITION BY source
      |           ORDER BY c DESC NULLS LAST, t ASC NULLS LAST) AS r
      |       FROM tf),
      |s AS (SELECT source, COUNT(*) AS n_types, SUM(c) AS n_tokens,
      |        ${Determinism.dsumSql("LN(CAST(r AS DOUBLE))")} AS sx,
      |        ${Determinism.dsumSql("LN(CAST(c AS DOUBLE))")} AS sy,
      |        ${Determinism.dsumSql("LN(CAST(r AS DOUBLE)) * LN(CAST(c AS DOUBLE))")} AS sxy,
      |        ${Determinism.dsumSql("LN(CAST(r AS DOUBLE)) * LN(CAST(r AS DOUBLE))")} AS sxx
      |      FROM rk GROUP BY 1)
      |SELECT source, CAST(n_types AS BIGINT) AS n_types,
      |  CAST(n_tokens AS BIGINT) AS n_tokens,
      |  ROUND(CAST(n_types AS DOUBLE) / n_tokens, 4) AS ttr,
      |  ROUND((n_types * sxy - sx * sy)
      |        / NULLIF(n_types * sxx - sx * sx, 0.0), 4) + 0.0 AS zipf_slope,
      |  ROUND((sy - (n_types * sxy - sx * sy)
      |              / NULLIF(n_types * sxx - sx * sx, 0.0) * sx)
      |        / n_types, 4) + 0.0 AS zipf_intercept
      |FROM s ORDER BY source ASC NULLS LAST""".stripMargin,
    (s, dir) => k60Plan(Tables.documents(s, dir)))

  /** The k60 plan body (factored for Round19Spec + the streaming twin's
    * shared-slope pin — [[graft.streaming.StreamingZipf]] feeds its
    * reconstructed (source, t, c) state through [[k60FromTf]]). */
  def k60Plan(docs: DataFrame): DataFrame =
    k60FromTf(
      docs.select(col("source"), explode(split(col("text"), " ")).as("t"))
        .groupBy("source", "t").agg(count(lit(1)).as("c")))

  /** Slope/TTR finisher over a (source, t, c) frequency spectrum — ONE
    * definition site shared by the batch plan and the streaming twin's
    * equality pin, so "stream state ≡ batch tf ⟹ outputs bit-equal"
    * holds by construction. */
  def k60FromTf(tf: DataFrame): DataFrame = {
    val w = Window.partitionBy("source")
      .orderBy(col("c").desc_nulls_last, col("t").asc_nulls_last)
    val x = log(col("r").cast("double"))
    val y = log(col("c").cast("double"))
    // NULLIF guards the single-type source (sxx = sx = 0): ANSI-mode
    // Spark THROWS on 0/0 — a one-type source in real data would
    // otherwise kill the whole query (caught by the Round19Spec pin)
    val slope = (col("n_types") * col("sxy") - col("sx") * col("sy")) /
      nullif(col("n_types") * col("sxx") - col("sx") * col("sx"), lit(0.0))
    tf.select(col("source"), col("c"), row_number().over(w).as("r"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_types"), sum(col("c")).as("n_tokens"),
           Determinism.dsum(x).as("sx"), Determinism.dsum(y).as("sy"),
           Determinism.dsum(x * y).as("sxy"), Determinism.dsum(x * x).as("sxx"))
      .select(col("source"), col("n_types").cast("long").as("n_types"),
              col("n_tokens").cast("long").as("n_tokens"),
              round(col("n_types").cast("double") / col("n_tokens"), 4)
                .as("ttr"),
              (round(slope, 4) + 0.0).as("zipf_slope"),
              (round((col("sy") - slope * col("sx")) / col("n_types"), 4) + 0.0)
                .as("zipf_intercept"))
      .orderBy(asc_nulls_last("source"))
  }

  // ---------------------------------------------------------------- k61

  /** Novelty shingle width (5-grams — the granularity memorization
    * analyses report) and the memorized-flag threshold on the ROUND-4
    * novelty fraction. */
  private val NovW = 5
  private val NovTau = 0.2

  /** k61 — n-gram NOVELTY of test-split docs against the train split
    * [public: memorization/novelty analyses — Lee et al. 2022 §6 measure
    * memorized continuations of duplicated training text; McCoy et al.
    * 2021 ("How much do language models copy…", RAVEN) score generated
    * text by the fraction of its n-grams unseen in training]: per TEST
    * doc (k17's content-hash split), the 5-gram occurrence count, the
    * count of occurrences whose 5-gram appears in NO train doc, the
    * ROUND-4 novelty fraction, and the memorized flag (fraction < 0.2 —
    * a test doc mostly assembled from train 5-grams is leaked/derived
    * text). The dual of k34/k45/k59: contamination asks "did eval text
    * reach train?"; novelty asks "how much of this text is NOT train
    * material?" — the fixture populates all three classes at sf0.01
    * (62 fully novel / 2 partial / 4 fully memorized).
    *
    * Scale shape — the one query where the single-Generate discipline
    * is deliberately NOT the right plan: the two consumers need
    * COMPLEMENTARY split halves (train digests, test counts), so two
    * split-pruned Generates total exactly ONE corpus shingling pass and
    * every shuffle shrinks to its half (train side exchanges DISTINCT
    * digests only, test side one-eighth of the corpus; a shared
    * unfiltered frame would exchange the full corpus TWICE — measured
    * before rejecting: the reuse-friendly conditional-agg form moved
    * the whole corpus through the per-doc aggregate to keep one
    * Generate). The split prunes at the SCAN side of each branch
    * (is_test is map-side from doc_id); the digest join is
    * AQE-skew-splittable. Docs shorter than 5 tokens
    * have no 5-grams and are absent from BOTH engines by construction.
    * All counts exact integers; the fraction rides the ROUND-4 class
    * with the flag compared on the rounded value. */
  val k61: Q = Q(
    "k61_ngram_novelty",
    s"""WITH tk AS (SELECT doc_id, STRING_SPLIT(text, ' ') AS ts,
      |        SUBSTR(MD5(CAST(doc_id AS VARCHAR)), 1, 1) >= 'e' AS is_test
      |      FROM documents),
      |sp AS (SELECT doc_id, is_test,
      |         MD5(ARRAY_TO_STRING(ts[i + 1:i + $NovW], ' ')) AS d
      |       FROM tk,
      |         UNNEST(RANGE(0, GREATEST(LEN(ts) - ${NovW - 1}, 0))) AS r(i)),
      |tr AS (SELECT DISTINCT d FROM sp WHERE NOT is_test),
      |te AS (SELECT doc_id, d, COUNT(*) AS c FROM sp WHERE is_test
      |       GROUP BY 1, 2),
      |nov AS (SELECT te.doc_id, SUM(c) AS n,
      |          SUM(CASE WHEN tr.d IS NULL THEN c ELSE 0 END) AS novel
      |        FROM te LEFT JOIN tr ON te.d = tr.d GROUP BY 1)
      |SELECT doc_id, CAST(n AS BIGINT) AS n_ngrams,
      |  CAST(novel AS BIGINT) AS n_novel,
      |  ROUND(CAST(novel AS DOUBLE) / n, 4) AS novelty,
      |  CAST(CASE WHEN ROUND(CAST(novel AS DOUBLE) / n, 4) < $NovTau
      |       THEN 1 ELSE 0 END AS INT) AS memorized
      |FROM nov ORDER BY doc_id ASC NULLS LAST""".stripMargin,
    (s, dir) => k61Plan(Tables.documents(s, dir)))

  /** The k61 plan body (factored for Round19Spec synthetic-frame pins). */
  def k61Plan(docs: DataFrame): DataFrame = {
    val isTest = substring(md5(col("doc_id").cast("string")), 1, 1) >= "e"
    def shingles(half: DataFrame): DataFrame = half
      .select(col("doc_id"), split(col("text"), " ").as("__t"))
      .filter(size(col("__t")) >= NovW)
      .select(col("doc_id"),
              explode(expr(Spans.digestsExpr(NovW))).as("d"))
    // complementary split-pruned passes: together exactly one corpus
    // shingling; each branch's shuffle carries only its half
    val tr = shingles(docs.filter(!isTest))
      .select("d").distinct().withColumn("hit", lit(1))
    val te = shingles(docs.filter(isTest))
      .groupBy("doc_id", "d").agg(count(lit(1)).as("c"))
    te.join(tr, Seq("d"), "left")
      .groupBy("doc_id")
      .agg(sum(col("c")).cast("long").as("n_ngrams"),
           sum(when(col("hit").isNull, col("c")).otherwise(0L))
             .cast("long").as("n_novel"))
      .select(col("doc_id"), col("n_ngrams"), col("n_novel"),
              round(col("n_novel").cast("double") / col("n_ngrams"), 4)
                .as("novelty"),
              when(round(col("n_novel").cast("double") / col("n_ngrams"), 4)
                     < NovTau, 1).otherwise(0).cast("int").as("memorized"))
      .orderBy(asc_nulls_last("doc_id"))
  }

  // ---------------------------------------------------------------- k62

  /** k62 — per-source unigram KL divergence from the corpus [public:
    * Kullback–Leibler 1951; corpus-linguistics source profiling — a
    * source whose token distribution diverges from the pool is
    * machine-generated, mis-scraped, or a different register]:
    * KL(p_source ‖ p_corpus) = Σ_w (c/n)·ln((c·tot)/(n·ct)) over the
    * source's observed vocabulary (no smoothing needed — every source
    * token is a corpus token by construction), plus type/token counts.
    * The source-level divergence k60 measures by SHAPE (rank spectrum)
    * and k58 scores per-doc (target ratio): three orthogonal views of
    * the same frequency machinery, each with an independent oracle.
    *
    * Determinism: the ratio builds from exact integers in the SAME
    * operation order both engines — (c as double · tot)/(ct as double
    * · n) — one ln of identical bits; each term (c/n)·ln(·) routes
    * through DECIMAL(18,6) ([[Determinism.dsum]]) so the per-source
    * sum is order-independent and bit-identical; the output needs NO
    * further rounding (already 6-dp quantized). Scale: ONE tokenize
    * Generate → the (source, token) frame, every downstream consumer
    * (corpus counts, source totals, the 1-row corpus total) a
    * vocab-sized regroup of it with the exchange reused; the final
    * join is token-keyed and AQE-skew-splittable. */
  val k62: Q = Q(
    "k62_source_divergence",
    s"""WITH tok AS (SELECT source, UNNEST(STRING_SPLIT(text, ' ')) AS t
      |             FROM documents),
      |sf AS (SELECT source, t, COUNT(*) AS c FROM tok GROUP BY 1, 2),
      |cf AS (SELECT t, SUM(c) AS ct FROM sf GROUP BY 1),
      |ns AS (SELECT source, SUM(c) AS n, COUNT(*) AS n_types FROM sf
      |       GROUP BY 1),
      |tt AS (SELECT SUM(ct) AS tot FROM cf)
      |SELECT sf.source AS source,
      |  CAST(MAX(ns.n_types) AS BIGINT) AS n_types,
      |  CAST(MAX(ns.n) AS BIGINT) AS n_tokens,
      |  ${Determinism.dsumSql(
           "(CAST(sf.c AS DOUBLE) / ns.n) * LN((CAST(sf.c AS DOUBLE) * tot)" +
             " / (CAST(cf.ct AS DOUBLE) * ns.n))")} AS kl_nats
      |FROM sf JOIN cf ON sf.t = cf.t JOIN ns ON sf.source = ns.source
      |CROSS JOIN tt
      |GROUP BY 1 ORDER BY source ASC NULLS LAST""".stripMargin,
    (s, dir) => k62Plan(Tables.documents(s, dir)))

  /** The k62 plan body (factored for Round19Spec synthetic-frame pins). */
  def k62Plan(docs: DataFrame): DataFrame = {
    val tok = docs.select(col("source"),
                          explode(split(col("text"), " ")).as("t"))
      // semantically a no-op (split yields no nulls; fixture sources are
      // non-null) — but the final join pushes isnotnull(source)/isnotnull(t)
      // below ITS copy of the Generate only, which breaks exchange-subtree
      // identity for cf/ns/tt and re-runs the tokenize per branch (the k48
      // equalizer; measured: 2 Generates without it)
      .filter(col("source").isNotNull && col("t").isNotNull)
    val sf = tok.groupBy("source", "t").agg(count(lit(1)).as("c"))
    val cf = sf.groupBy("t").agg(sum(col("c")).as("ct"))
    val ns = sf.groupBy("source")
      .agg(sum(col("c")).as("n"), count(lit(1)).as("n_types"))
    val tt = cf.agg(sum(col("ct")).as("tot"))
    val term = (col("c").cast("double") / col("n")) *
      log((col("c").cast("double") * col("tot")) /
            (col("ct").cast("double") * col("n")))
    sf.join(cf, "t").join(ns, "source").crossJoin(broadcast(tt))
      .groupBy("source")
      .agg(max(col("n_types")).cast("long").as("n_types"),
           max(col("n")).cast("long").as("n_tokens"),
           Determinism.dsum(term).as("kl_nats"))
      .orderBy(asc_nulls_last("source"))
  }

  // ---------------------------------------------------------------- k63

  /** k45's span width — the rewrite removes exactly what the accounting
    * counts. */
  private val RwW = 20

  /** k63 — decontamination REWRITE: the query that actually PRODUCES the
    * cleaned training corpus [public: C4 (Raffel et al. 2020) drops
    * benchmark-overlapping lines; Lee et al. 2022 cut duplicated spans
    * out of the text, not just the ledger]: for every TRAIN doc (k17's
    * content-hash split), remove every token covered by some 20-token
    * stride-1 span shared verbatim with ANY test doc, and emit the
    * cleaned text alongside the token/removal counts — k45 is the
    * ACCOUNTING of this operation; k33 (PII redaction) is the same
    * produce-the-artifact class on a different axis. Overlapping
    * contaminated spans union (a token inside two spans is removed
    * once); an untouched doc reproduces its text verbatim; a fully
    * covered doc emits the empty string (fixture: 427 untouched / 5
    * near-full at sf0.01; the empty-string branch is spec-forced).
    *
    * Scale shape (k61's complementary-split discipline): two
    * split-pruned shingling Generates totaling one corpus pass — the
    * test side exchanges DISTINCT digests only, the train side its
    * (doc, start, digest) spans; one digest-keyed hash join marks the
    * contaminated starts; per-doc start-lists are doc-length-bounded
    * collect_lists; the rewrite itself is MAP-SIDE codegen'd array HOFs
    * (coverage test + filter + concat_ws — no second pass over the
    * corpus, no window). All counts exact integers; the text round-trips
    * token-exactly because split/join both use the single-space
    * delimiter. */
  val k63: Q = Q(
    "k63_decontam_rewrite",
    s"""WITH tk AS (SELECT doc_id, STRING_SPLIT(text, ' ') AS ts,
      |        SUBSTR(MD5(CAST(doc_id AS VARCHAR)), 1, 1) >= 'e' AS is_test
      |      FROM documents),
      |sp AS (SELECT doc_id, is_test, i + 1 AS strt,
      |         MD5(ARRAY_TO_STRING(ts[i + 1:i + $RwW], ' ')) AS d
      |       FROM tk,
      |         UNNEST(RANGE(0, GREATEST(LEN(ts) - ${RwW - 1}, 0))) AS r(i)),
      |ted AS (SELECT DISTINCT d FROM sp WHERE is_test),
      |hits AS (SELECT sp.doc_id, sp.strt FROM sp JOIN ted ON sp.d = ted.d
      |         WHERE NOT sp.is_test),
      |pos AS (SELECT doc_id, ts[p] AS tok, p
      |        FROM (SELECT doc_id, ts, UNNEST(RANGE(1, LEN(ts) + 1)) AS p
      |              FROM tk WHERE NOT is_test)),
      |cov AS (SELECT pos.doc_id, pos.p, pos.tok,
      |          EXISTS(SELECT 1 FROM hits h WHERE h.doc_id = pos.doc_id
      |                 AND pos.p BETWEEN h.strt AND h.strt + ${RwW - 1})
      |            AS covered
      |        FROM pos)
      |SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_tokens,
      |  CAST(SUM(CASE WHEN covered THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_removed,
      |  COALESCE(STRING_AGG(CASE WHEN NOT covered THEN tok END,
      |                      ' ' ORDER BY p), '') AS cleaned_text
      |FROM cov GROUP BY doc_id ORDER BY doc_id ASC NULLS LAST""".stripMargin,
    (s, dir) => k63Plan(Tables.documents(s, dir)))

  /** The k63 plan body (factored for Round19Spec synthetic-frame pins). */
  def k63Plan(docs: DataFrame): DataFrame = {
    val isTest = substring(md5(col("doc_id").cast("string")), 1, 1) >= "e"
    def spans(half: DataFrame): DataFrame = half
      .select(col("doc_id"), split(col("text"), " ").as("__t"))
      .filter(size(col("__t")) >= RwW)
      .select(col("doc_id"), posexplode(expr(Spans.digestsExpr(RwW))))
    val ted = spans(docs.filter(isTest)).select(col("col").as("d")).distinct()
    val hits = spans(docs.filter(!isTest))
      .select(col("doc_id"), (col("pos") + 1).as("strt"), col("col").as("d"))
      .join(ted, "d")
      .groupBy("doc_id").agg(collect_list(col("strt")).as("starts"))
    // the ONE coverage predicate both output columns build on — an edit
    // here cannot desynchronize n_removed from cleaned_text (r19 review)
    val covered = s"exists(ss, s -> p >= s AND p <= s + ${RwW - 1})"
    docs.filter(!isTest)
      .join(hits, Seq("doc_id"), "left")
      .select(col("doc_id"), split(col("text"), " ").as("__t"),
              coalesce(col("starts"), expr("CAST(array() AS ARRAY<INT>)"))
                .as("ss"))
      .select(col("doc_id"),
              size(col("__t")).cast("long").as("n_tokens"),
              expr(s"size(filter(sequence(1, size(__t)), p -> $covered))")
                .cast("long").as("n_removed"),
              expr(s"concat_ws(' ', transform(" +
                s"filter(sequence(1, size(__t)), p -> NOT ($covered)), " +
                s"p -> element_at(__t, p)))").as("cleaned_text"))
      .orderBy(asc_nulls_last("doc_id"))
  }

  // ---------------------------------------------------------------- k64

  /** k64 — deterministic source-interleaved training ORDER [public:
    * every serious pipeline writes shards in a deterministic shuffled,
    * mixture-interleaved order — T5/C4 and Pile-style training reads
    * are sequential, so the shuffle must happen at corpus-build time;
    * hash-ordering is the standard reproducible shuffle (the k17
    * split argument applied to ordering)]: within each source, docs
    * take their md5-hash-shuffle rank r; sources take their name-rank
    * idx; the global position is the rank of the interleave key
    * (r−1)·|sources| + idx — round-robin across sources, compacted
    * (a source that exhausts stops occupying slots). Fully
    * deterministic: reruns, re-shards, and partitioning changes
    * reproduce the identical order.
    *
    * Scale shape — NO data-sized window anywhere: the per-source rank
    * rides [[graft.operators.DistributedRank.midranks2]]
    * (range-exchange + slice offsets; the d44 machinery — unique md5
    * keys make rank = dr2 DIV 2 exact); the GLOBAL position is then a
    * CLOSED FORM over the source-domain count array (consecutive ranks
    * sit |sources| slots apart, so each other source contributes
    * min(n', r) or min(n', r−1) keys below — one broadcast array, one
    * map-side codegen'd fold). The obvious ROW_NUMBER() OVER (ORDER BY
    * key) the oracle uses is exactly what a 100 TB corpus cannot run —
    * one global sort partition — and is therefore the ORACLE's
    * (independent) mechanism, not the plan's. All-integer output. */
  val k64: Q = Q(
    "k64_interleave_order",
    """WITH s AS (SELECT source, ROW_NUMBER() OVER (ORDER BY source ASC)
      |             AS idx
      |           FROM (SELECT DISTINCT source FROM documents)),
      |n AS (SELECT COUNT(*) AS ns FROM s),
      |r AS (SELECT doc_id, source,
      |        ROW_NUMBER() OVER (PARTITION BY source
      |          ORDER BY MD5(CAST(doc_id AS VARCHAR)) ASC, doc_id ASC) AS r
      |      FROM documents),
      |k AS (SELECT r.doc_id, r.source, r.r,
      |        (r.r - 1) * n.ns + s.idx AS key
      |      FROM r JOIN s ON r.source = s.source CROSS JOIN n)
      |SELECT doc_id, source, CAST(r AS BIGINT) AS src_rank,
      |  CAST(ROW_NUMBER() OVER (ORDER BY key ASC) AS BIGINT) AS global_pos
      |FROM k ORDER BY doc_id ASC NULLS LAST""".stripMargin,
    (s, dir) => k64Plan(Tables.documents(s, dir)))

  /** The k64 plan body (factored for Round19Spec synthetic-frame pins). */
  def k64Plan(docs: DataFrame): DataFrame = {
    import graft.operators.DistributedRank
    // r19 narrowing: the shuffle key __h is INTERNAL (the output carries
    // only ranks), so it rides as 16-byte binary. BinaryType's unsigned
    // lexicographic order equals the hex string's order (nibble→hex char
    // is monotone — the Round16Spec r18 pin), so the per-source rank and
    // the (source, __h) join are unchanged while the rank exchange and
    // join keys halve.
    val base = docs.select(col("doc_id"), col("source"),
                           unhex(md5(col("doc_id").cast("string"))).as("__h"))
    // per-source hash-shuffle rank (md5 keys are distinct, so the
    // doubled midrank collapses to 2·rank: r = dr2 DIV 2)
    val r = base.join(
      DistributedRank.midranks2(base, Seq("source"), "__h")
        .select(col("source"), col("__h"), expr("dr2 DIV 2").as("r")),
      Seq("source", "__h"))
    // source-DOMAIN-sized name rank + the 1-row source count
    val srcIdx = docs.select("source").distinct()
      .select(col("source"),
              row_number().over(org.apache.spark.sql.expressions.Window
                .orderBy(asc("source"))).as("idx"))
    // global position in CLOSED FORM — no second rank pass: for every
    // other source s' (name-rank idx', n' docs), the keys below this
    // doc's key count min(n', r) when idx' < idx and min(n', r−1) when
    // idx' > idx (and r−1 within its own source), because consecutive
    // ranks sit exactly S slots apart. One source-domain array
    // broadcasts; the fold is a map-side codegen'd HOF. (A second
    // midranks2 over the interleave key computes the same number — it
    // measured 2.08 s at sf0.1 vs ~1 s for this form, and the closed
    // form also drops a corpus exchange + join.)
    val counts = docs.groupBy("source").agg(count(lit(1)).as("n"))
      .join(srcIdx, "source")
      .agg(collect_list(struct(col("idx"), col("n"))).as("sc"))
    r.join(broadcast(srcIdx), "source")
      .crossJoin(broadcast(counts))
      .select(col("doc_id"), col("source"),
              col("r").cast("long").as("src_rank"),
              expr("r + aggregate(sc, 0L, (acc, x) -> acc + " +
                "CASE WHEN x.idx < idx THEN least(x.n, r) " +
                "WHEN x.idx > idx THEN least(x.n, r - 1) ELSE 0L END)")
                .cast("long").as("global_pos"))
      .orderBy(asc_nulls_last("doc_id"))
  }

  // ---------------------------------------------------------------- k65

  /** k65 — INCREMENTAL ingest dedup: a new crawl batch against the
    * standing corpus [public: every production pipeline ingests
    * incrementally — CCNet/Dolma process snapshot-over-snapshot; the
    * daily decision is "is this arrival new?", not "dedup the world
    * again"]: OLD corpus = k17's train split, NEW batch = the test
    * split; per NEW doc the verdict — `dup_of_corpus` (its key is
    * already held; canonical = the corpus's min holder), else
    * `dup_in_batch` (a smaller-id batch doc shares the key; canonical =
    * that doc), else `admitted` (canonical = itself). The key is the
    * SET-normalized text digest (md5 of the sorted distinct tokens —
    * word-order-insensitive exact dedup, the k01 family's normalized
    * complement that catches shuffled boilerplate; the fixture has NO
    * byte-identical texts, and 9/68 arrivals are corpus-dups under the
    * set key at sf0.01; the batch-dup branch bites at sf0.001/sf0.1 and
    * is spec-forced). Corpus-dup precedence over batch-dup is declared
    * (and spec-pinned): dedup against standing data before within-batch.
    *
    * Scale shape: the key is MAP-SIDE (array_sort ∘ array_distinct ∘
    * split — no explode, no Generate anywhere); the old side collapses
    * to a key-keyed min agg (digest-domain-sized); the batch side is one
    * min agg + two hash joins, all digest-keyed and AQE-skew-splittable.
    * At 100 TB the old side is exactly the dedup INDEX a production
    * ingest keeps materialized — this query IS its maintenance read. */
  val k65: Q = Q(
    "k65_incremental_dedup",
    """WITH t AS (SELECT doc_id,
      |        MD5(ARRAY_TO_STRING(LIST_SORT(LIST_DISTINCT(
      |          STRING_SPLIT(text, ' '))), ' ')) AS d,
      |        SUBSTR(MD5(CAST(doc_id AS VARCHAR)), 1, 1) >= 'e' AS is_test
      |      FROM documents),
      |old AS (SELECT d, MIN(doc_id) AS cid FROM t WHERE NOT is_test
      |        GROUP BY 1),
      |bmin AS (SELECT d, MIN(doc_id) AS bid FROM t WHERE is_test
      |         GROUP BY 1)
      |SELECT t.doc_id AS doc_id,
      |  CASE WHEN old.cid IS NOT NULL THEN 'dup_of_corpus'
      |       WHEN t.doc_id <> bmin.bid THEN 'dup_in_batch'
      |       ELSE 'admitted' END AS verdict,
      |  CAST(CASE WHEN old.cid IS NOT NULL THEN old.cid
      |            WHEN t.doc_id <> bmin.bid THEN bmin.bid
      |            ELSE t.doc_id END AS BIGINT) AS canonical_id
      |FROM t LEFT JOIN old ON t.d = old.d JOIN bmin ON t.d = bmin.d
      |WHERE t.is_test
      |ORDER BY t.doc_id ASC NULLS LAST""".stripMargin,
    (s, dir) => k65Plan(Tables.documents(s, dir)))

  /** The k65 plan body (factored for Round19Spec synthetic-frame pins). */
  def k65Plan(docs: DataFrame): DataFrame = {
    val isTest = substring(md5(col("doc_id").cast("string")), 1, 1) >= "e"
    // r19 narrowing: the set-fingerprint d is an INTERNAL group/join key
    // (never output) — 16-byte binary halves it through both min-id
    // aggregations and the two d-keyed joins (the Spans r18 argument;
    // equality/grouping unchanged under the hex↔binary bijection).
    val key = unhex(md5(concat_ws(" ",
      array_sort(array_distinct(split(col("text"), " "))))))
    val oldMin = docs.filter(!isTest)
      .select(col("doc_id"), key.as("d"))
      .groupBy("d").agg(min(col("doc_id")).as("cid"))
    val te = docs.filter(isTest).select(col("doc_id"), key.as("d"))
    val bmin = te.groupBy("d").agg(min(col("doc_id")).as("bid"))
    te.join(bmin, "d")
      .join(oldMin, Seq("d"), "left")
      .select(col("doc_id"),
              when(col("cid").isNotNull, "dup_of_corpus")
                .when(col("doc_id") =!= col("bid"), "dup_in_batch")
                .otherwise("admitted").as("verdict"),
              when(col("cid").isNotNull, col("cid"))
                .when(col("doc_id") =!= col("bid"), col("bid"))
                .otherwise(col("doc_id")).cast("long").as("canonical_id"))
      .orderBy(asc_nulls_last("doc_id"))
  }

  // ---------------------------------------------------------------- k66

  /** k66 — MinHash CALIBRATION audit: the estimator against the truth
    * [public: Broder 1997 — P(minhash match) = Jaccard per independent
    * hash, so the 4-component match count m estimates J as m/4; every
    * production LSH deployment validates its banding against exact
    * similarity on a slice before trusting the sub-quadratic path]: over
    * the k02 candidate universe (same-source pairs sharing ≥ 1 token),
    * bucket pairs by m ∈ {0..4} (k14's exact signature recipe) and
    * report per bucket the pair count, the decimal-exact mean TRUE
    * Jaccard, and its min/max — the curve an operator reads before
    * picking k15's band threshold ("measure, don't guess" as a declared
    * query; at sf0.01 the means run 0.32 → 0.81 monotone in m, the
    * estimator visibly calibrated). The fixture's exact-tier pair join
    * is k02's declared regime; the audit itself is REUSED machinery plus
    * one signature join and a 5-row aggregate.
    *
    * Determinism: the Jaccard doubles are the k02 bit-identical class;
    * bucket means route through DECIMAL(18,6) (davg), min/max compare
    * identical bits, m is an exact int. */
  val k66: Q = Q(
    "k66_minhash_calibration",
    s"""WITH tok AS (
      |  SELECT DISTINCT doc_id, source, token FROM
      |    (SELECT doc_id, source, UNNEST(STRING_SPLIT(text, ' ')) AS token
      |     FROM documents)),
      |sizes AS (SELECT doc_id, COUNT(*) AS sz FROM tok GROUP BY 1),
      |sig AS (SELECT doc_id,
      |    MIN(MD5('0:' || token)) AS h0, MIN(MD5('1:' || token)) AS h1,
      |    MIN(MD5('2:' || token)) AS h2, MIN(MD5('3:' || token)) AS h3
      |  FROM tok GROUP BY 1),
      |inter AS (
      |  SELECT a.doc_id AS id1, b.doc_id AS id2, COUNT(*) AS i
      |  FROM tok a JOIN tok b
      |    ON a.token = b.token AND a.source = b.source
      |       AND a.doc_id < b.doc_id
      |  GROUP BY 1, 2),
      |p AS (
      |  SELECT CAST(i AS DOUBLE) / (sa.sz + sb.sz - i) AS j,
      |    (CASE WHEN x.h0 = y.h0 THEN 1 ELSE 0 END +
      |     CASE WHEN x.h1 = y.h1 THEN 1 ELSE 0 END +
      |     CASE WHEN x.h2 = y.h2 THEN 1 ELSE 0 END +
      |     CASE WHEN x.h3 = y.h3 THEN 1 ELSE 0 END) AS m
      |  FROM inter
      |  JOIN sizes sa ON sa.doc_id = id1 JOIN sizes sb ON sb.doc_id = id2
      |  JOIN sig x ON x.doc_id = id1 JOIN sig y ON y.doc_id = id2)
      |SELECT CAST(m AS INT) AS n_matches, CAST(COUNT(*) AS BIGINT) AS n_pairs,
      |  ${Determinism.davgSql("j")} AS mean_jaccard,
      |  ROUND(MIN(j), 4) AS min_jaccard, ROUND(MAX(j), 4) AS max_jaccard
      |FROM p GROUP BY 1 ORDER BY n_matches ASC NULLS LAST""".stripMargin,
    (s, dir) => {
      val docs = Tables.documents(s, dir)
      // the k02 pair machinery at threshold 0 = the full candidate universe
      val pairs = graft.api.Dedup.tokenJaccardPairsAuto(
        docs, "doc_id", "text", "source", 0.0)
      k66Plan(docs, pairs)
    })

  /** The k66 audit body over a precomputed (id1, id2, jaccard) pair frame
    * (factored for Round19Spec synthetic-frame pins). */
  def k66Plan(docs: DataFrame, pairs: DataFrame): DataFrame = {
    // binary md5 (the Spans.digestsExpr r18 narrowing, same argument):
    // min over unhex(md5) picks the same element as min over the hex
    // string (hex→binary is order-isomorphic), the h_i equality tests
    // compare the same bits, and the signature never reaches the output —
    // so the signature shuffle's 4 partial mins and the broadcast sig
    // frame carry 16-byte keys instead of 32-char strings
    def mh(i: Int) =
      min(unhex(md5(concat(lit(s"$i:"), col("token"))))).as(s"h$i")
    // NO distinct before the mins (r18): min is duplicate-insensitive, so
    // the oracle's DISTINCT (doc, token) projection and the raw token
    // multiset yield identical h0..h3 — the old (doc, token) distinct was
    // a full extra shuffle + hash agg of the exploded corpus feeding a
    // second doc-keyed shuffle; now the explode map-combines straight
    // into the ONE doc-keyed aggregation (the k14 shape, which never had
    // the distinct for exactly this reason)
    // r19: ONE stored evaluation of the signature subtree. The x/y joins
    // below alias-renumber sig into two statically-planned copies whose
    // merged execution was left to AQE exchange reuse (the r18 plan read);
    // the lazy shared pin (the RangeJoin/DistributedRank discipline)
    // makes the reuse structural — the corpus explode + doc-keyed
    // signature aggregate runs once by RDD identity, and both broadcast
    // builds read the doc-sized (doc_id + 4×16 B) checkpoint.
    val sig = graft.operators.Materialize.shared(docs
      .select(col("doc_id"), explode(split(col("text"), " ")).as("token"))
      .groupBy("doc_id").agg(mh(0), mh(1), mh(2), mh(3)))
    val m = (0 to 3).map(i =>
      when(col(s"x.h$i") === col(s"y.h$i"), 1).otherwise(0)).reduce(_ + _)
    pairs
      .join(sig.as("x"), col("id1") === col("x.doc_id"))
      .join(sig.as("y"), col("id2") === col("y.doc_id"))
      .select(col("jaccard").as("j"), m.as("m"))
      .groupBy("m")
      .agg(count(lit(1)).as("n_pairs"),
           Determinism.davg(col("j")).as("mean_jaccard"),
           round(min(col("j")), 4).as("min_jaccard"),
           round(max(col("j")), 4).as("max_jaccard"))
      .select(col("m").cast("int").as("n_matches"), col("n_pairs"),
              col("mean_jaccard"), col("min_jaccard"), col("max_jaccard"))
      .orderBy(asc_nulls_last("n_matches"))
  }

  // ---------------------------------------------------------------- k67

  /** The declared threshold grid (the range practitioners actually sweep;
    * Lee et al./Gopher report dedup rates across exactly this band). */
  private val SweepGrid = Seq(0.5, 0.6, 0.7, 0.8, 0.9)

  /** k67 — dedup THRESHOLD SWEEP: the removal-rate curve an operator
    * reads before fixing τ [public: Lee et al. 2022 and the Gopher/
    * MassiveText appendices report dedup fractions across a threshold
    * band — the knob is chosen FROM this curve, so the curve itself is a
    * pipeline deliverable]: for each τ in {0.5…0.9}, over the same-source
    * near-dup pair universe, the pair count at J ≥ τ, the count of docs
    * touching any such pair, and the keep-min removal estimate (docs
    * with a SMALLER-id partner at ≥ τ — the k01/k44 keep-min discipline
    * applied pairwise; the per-τ CC removal is the k23 family's job,
    * this is the one-pass curve). Empty grid rows survive with zeros.
    *
    * Scale shape: the expensive pair join runs ONCE at the grid minimum
    * (reused k02 machinery, threshold 0.5 prunes below the grid); the
    * sweep itself is a 5-row broadcast grid against the pair frame
    * (grid-sized row multiplier, the declared audit cost) and one
    * 5-group aggregate. Thresholds are shared literals; J doubles are
    * the k02 bit-identical class; all counts exact. */
  val k67: Q = Q(
    "k67_dedup_threshold_sweep",
    """WITH tok AS (
      |  SELECT DISTINCT doc_id, source, token FROM
      |    (SELECT doc_id, source, UNNEST(STRING_SPLIT(text, ' ')) AS token
      |     FROM documents)),
      |sizes AS (SELECT doc_id, COUNT(*) AS sz FROM tok GROUP BY 1),
      |inter AS (
      |  SELECT a.doc_id AS id1, b.doc_id AS id2, COUNT(*) AS i
      |  FROM tok a JOIN tok b
      |    ON a.token = b.token AND a.source = b.source
      |       AND a.doc_id < b.doc_id
      |  GROUP BY 1, 2),
      |p AS (
      |  SELECT id1, id2, CAST(i AS DOUBLE) / (sa.sz + sb.sz - i) AS j
      |  FROM inter
      |  JOIN sizes sa ON sa.doc_id = id1 JOIN sizes sb ON sb.doc_id = id2
      |  WHERE CAST(i AS DOUBLE) / (sa.sz + sb.sz - i) >= 0.5),
      |g AS (SELECT CAST(t AS DOUBLE) AS t
      |      FROM (SELECT UNNEST([0.5, 0.6, 0.7, 0.8, 0.9]) AS t))
      |SELECT g.t AS threshold,
      |  CAST((SELECT COUNT(*) FROM p WHERE p.j >= g.t) AS BIGINT) AS n_pairs,
      |  CAST((SELECT COUNT(DISTINCT d) FROM
      |          (SELECT id1 AS d, j FROM p UNION ALL SELECT id2, j FROM p) u
      |        WHERE u.j >= g.t) AS BIGINT) AS n_docs,
      |  CAST((SELECT COUNT(DISTINCT id2) FROM p WHERE p.j >= g.t) AS BIGINT)
      |    AS n_removed_est
      |FROM g ORDER BY threshold ASC NULLS LAST""".stripMargin,
    (s, dir) => {
      val docs = Tables.documents(s, dir)
      k67Plan(graft.api.Dedup.tokenJaccardPairsAuto(
        docs, "doc_id", "text", "source", 0.5))
    })

  /** The k67 sweep body over a precomputed (id1, id2, jaccard) frame
    * pruned at the grid minimum (factored for Round19Spec pins).
    *
    * r19 shape (guide §2.3 "aggregate before you shuffle"): the old form
    * grid-left-joined the pair frame (5× row multiplication), exploded both
    * endpoints (10×|pairs| rows) and ran two countDistincts whose two-phase
    * expand tripled that again — ~30×|pairs| map-side rows per run. The
    * grid predicate `j >= t` is MONOTONE in j, so every per-threshold count
    * is a SUFFIX SUM over a 5-bucket histogram:
    *  - n_pairs(t)       = #pairs with j ≥ t         = Σ_{b ≥ t} pairs[b]
    *  - n_docs(t)        = #docs with max-pair-j ≥ t = Σ_{b ≥ t} docs[b]
    *    (a doc touches a qualifying pair iff its MAX pair j qualifies)
    *  - n_removed_est(t) = #docs with a SMALLER-id partner at ≥ t
    *                     = #docs whose max j-as-id2 ≥ t
    * where bucket(j) = the largest grid point ≤ j, so bucket(j) ≥ t ⟺
    * j ≥ t for every grid t (identical double literals, identical
    * comparisons — the oracle's arithmetic, regrouped). What crosses the
    * exchanges now: one 2·|pairs| explode into a doc-keyed max-aggregate
    * (map-combined, narrow rows) and two ≤ grid²-row frames; the 5-row
    * grid joins only bucket HISTOGRAMS, never the pair frame. Empty grid
    * rows survive with zeros via the left join + coalesce, as before. */
  def k67Plan(pairs0: DataFrame): DataFrame = {
    val sp = pairs0.sparkSession
    import sp.implicits._
    // The histogram split below consumes the pair frame TWICE (pair
    // buckets + per-doc maxima); a lazy shared pin stores the pruned
    // pair frame once (|pairs| × (id, id, j) — the τ-min frame, never the
    // corpus) so the expensive k02 pair join cannot re-plan per consumer
    // (the same structural-reuse discipline as d44/k66 this round).
    val pairs = graft.operators.Materialize.shared(pairs0)
    val grid = SweepGrid.toDF("threshold")
    // largest grid point ≤ j; NULL when j qualifies nowhere (j below the
    // grid minimum — impossible for the pruned pair frame, but a NULL here
    // is simply never ≥ any threshold, matching the old non-match case;
    // NULL in (max of an empty when-set) propagates the same way)
    def bucket(j: Column): Column =
      SweepGrid.sorted.foldLeft(lit(null).cast("double")) { (acc, t) =>
        when(j >= t, lit(t)).otherwise(acc)
      }
    // per-bucket pair histogram: ≤ grid-size rows
    val pairHist = pairs.groupBy(bucket(col("jaccard")).as("b"))
      .agg(count(lit(1)).as("np"))
    // per-doc max pair-j (any side) and max pair-j as the REMOVED (larger
    // id) side — one explode, one map-combined doc-keyed aggregate
    val docMax = pairs
      .select(explode(array(
        struct(col("id1").as("doc"), col("jaccard").as("j"), lit(false).as("rm")),
        struct(col("id2").as("doc"), col("jaccard").as("j"), lit(true).as("rm")))).as("x"))
      .groupBy(col("x.doc").as("doc"))
      .agg(max(col("x.j")).as("mj"),
           max(when(col("x.rm"), col("x.j"))).as("mjr"))
    // joint (bucket(mj), bucket(mjr)) histogram: ≤ grid² rows. mjr ≤ mj
    // always (max over a subset), so within the bm ≥ t join the removed
    // count is the conditional sum over br ≥ t.
    val docHist = docMax.groupBy(bucket(col("mj")).as("bm"),
                                 bucket(col("mjr")).as("br"))
      .agg(count(lit(1)).as("nd"))
    val docCounts = grid.join(docHist, col("bm") >= col("threshold"), "left")
      .groupBy("threshold")
      .agg(coalesce(sum(col("nd")), lit(0L)).as("n_docs"),
           coalesce(sum(when(col("br") >= col("threshold"), col("nd"))),
                    lit(0L)).as("n_removed_est"))
    val pairCounts = grid.join(pairHist, col("b") >= col("threshold"), "left")
      .groupBy("threshold")
      .agg(coalesce(sum(col("np")), lit(0L)).as("n_pairs"))
    pairCounts.join(docCounts, "threshold")
      .select(col("threshold"), col("n_pairs"), col("n_docs"),
              col("n_removed_est"))
      .orderBy(asc_nulls_last("threshold"))
  }

  // ---------------------------------------------------------------- k68

  /** k68 — post-dedup MIXTURE DRIFT per source [public: deduplication is
    * not mixture-neutral — boilerplate-heavy domains lose far more mass
    * than clean ones, so the post-dedup domain mixture differs from the
    * one the pipeline designed (the k51 weights were chosen BEFORE
    * dedup); Gopher/Dolma report per-domain retention for exactly this
    * reason]: under keep-min dedup at J ≥ 0.8 (k67's pairwise removal
    * discipline at one declared τ), per source: docs before/kept, token
    * mass before/after, and the ROUND-4 token-share before, after, and
    * drift — the number that says "re-tune the mixture after dedup".
    * At sf0.01 retention runs 5–14 of 25 docs per source — the drift is
    * visibly non-neutral.
    *
    * Scale shape: the pair join runs once at τ (reused machinery); the
    * removed set is a distinct id projection; everything after is
    * source-domain-sized aggregation + a 1-row totals broadcast. The
    * drift is a difference of identical-bits doubles, ROUND 4, −0.0
    * canonicalized (the k58 + 0.0 discipline — drift CAN round to zero
    * from below). */
  val k68: Q = Q(
    "k68_dedup_mixture_drift",
    """WITH tok AS (
      |  SELECT DISTINCT doc_id, source, token FROM
      |    (SELECT doc_id, source, UNNEST(STRING_SPLIT(text, ' ')) AS token
      |     FROM documents)),
      |sizes AS (SELECT doc_id, COUNT(*) AS sz FROM tok GROUP BY 1),
      |inter AS (
      |  SELECT a.doc_id AS id1, b.doc_id AS id2, COUNT(*) AS i
      |  FROM tok a JOIN tok b
      |    ON a.token = b.token AND a.source = b.source
      |       AND a.doc_id < b.doc_id
      |  GROUP BY 1, 2),
      |rm AS (SELECT DISTINCT id2 AS doc_id FROM inter
      |       JOIN sizes sa ON sa.doc_id = id1
      |       JOIN sizes sb ON sb.doc_id = id2
      |       WHERE CAST(i AS DOUBLE) / (sa.sz + sb.sz - i) >= 0.8),
      |d AS (SELECT doc_id, source, LEN(STRING_SPLIT(text, ' ')) AS nt,
      |        doc_id IN (SELECT doc_id FROM rm) AS removed
      |      FROM documents),
      |per AS (SELECT source, COUNT(*) AS n_docs,
      |          SUM(CASE WHEN NOT removed THEN 1 ELSE 0 END) AS n_kept,
      |          SUM(nt) AS tok_before,
      |          SUM(CASE WHEN NOT removed THEN nt ELSE 0 END) AS tok_after
      |        FROM d GROUP BY 1),
      |t AS (SELECT SUM(tok_before) AS tb, SUM(tok_after) AS ta FROM per)
      |SELECT source, CAST(n_docs AS BIGINT) AS n_docs,
      |  CAST(n_kept AS BIGINT) AS n_kept,
      |  CAST(tok_before AS BIGINT) AS tok_before,
      |  CAST(tok_after AS BIGINT) AS tok_after,
      |  ROUND(CAST(tok_before AS DOUBLE) / tb, 4) AS share_before,
      |  ROUND(CAST(tok_after AS DOUBLE) / ta, 4) AS share_after,
      |  ROUND(CAST(tok_after AS DOUBLE) / ta
      |        - CAST(tok_before AS DOUBLE) / tb, 4) + 0.0 AS share_drift
      |FROM per CROSS JOIN t
      |ORDER BY source ASC NULLS LAST""".stripMargin,
    (s, dir) => {
      val docs = Tables.documents(s, dir)
      k68Plan(docs, graft.api.Dedup.tokenJaccardPairsAuto(
        docs, "doc_id", "text", "source", 0.8))
    })

  /** The k68 report body over a precomputed pair frame at the declared τ
    * (factored for Round19Spec pins). */
  def k68Plan(docs: DataFrame, pairs: DataFrame): DataFrame = {
    val rm = pairs.select(col("id2").as("doc_id")).distinct()
      .withColumn("removed", lit(true))
    val per = docs
      .select(col("doc_id"), col("source"),
              size(split(col("text"), " ")).as("nt"))
      .join(rm, Seq("doc_id"), "left")
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
           count(when(col("removed").isNull, 1)).as("n_kept"),
           sum(col("nt")).as("tok_before"),
           sum(when(col("removed").isNull, col("nt")).otherwise(0L))
             .as("tok_after"))
    val t = per.agg(sum(col("tok_before")).as("tb"),
                    sum(col("tok_after")).as("ta"))
    val sb = col("tok_before").cast("double") / col("tb")
    val sa = col("tok_after").cast("double") / col("ta")
    per.crossJoin(broadcast(t))
      .select(col("source"), col("n_docs").cast("long").as("n_docs"),
              col("n_kept").cast("long").as("n_kept"),
              col("tok_before").cast("long").as("tok_before"),
              col("tok_after").cast("long").as("tok_after"),
              round(sb, 4).as("share_before"),
              round(sa, 4).as("share_after"),
              (round(sa - sb, 4) + 0.0).as("share_drift"))
      .orderBy(asc_nulls_last("source"))
  }

  val ops: Vector[Q] =
    Vector(k58, k59, k60, k61, k62, k63, k64, k65, k66, k67, k68)
}
