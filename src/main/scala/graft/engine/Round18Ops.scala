package graft.engine

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Round-18 declared queries — the two r14-verdict "what's missing"
  * items that are oracle-expressible:
  *
  *  - `k56_max_dup_substr` — VARIABLE-length ExactSubstr: the exact
  *    length of each doc's longest substring duplicated verbatim in
  *    another document, via binary-lifting digest chains (k44's fixed
  *    20-token windows generalized to any length ≥ 20).
  *  - `k57_bpe_token_count` — document token pricing under a REAL BPE
  *    tokenizer with a frozen merge table (k12's "BPE-ish" regex
  *    retired as the only token-pricing axis).
  *
  * Every query follows the SURVEY §2 determinism rules (explicit NULLS,
  * total ORDER BY, integer-exact arithmetic except the declared ROUND-4
  * ratio class).
  */
object Round18Ops {

  // ---------------------------------------------------------------- k56

  /** The doubling ladder: level j digests cover 20·2ʲ tokens. Six
    * levels probe exact lengths up to the declared cap 2·640 − 1 = 1279
    * (chunked-pipeline doc lengths; a doc with a longer duplicate
    * reports exactly 1279 — both engines cap identically, spec-pinned).
    * Levels are O(log maxlen): the cap grows by one map-side pass per
    * doubling. */
  private val Levels = 6
  private val LevelWidth: Int => Int = j => 20 << j

  /** k56 — exact LONGEST duplicated substring length per doc [public:
    * Lee et al. 2022 §3.1 — their suffix-array ExactSubstr finds
    * maximal duplicated substrings of ANY length ≥ threshold; k44–k47
    * cover fixed-width windows, k46's region statistic OVERESTIMATES
    * when one run's windows match different partners]: per doc with any
    * duplicated 20-token window, the exact max L such that some
    * L-token window of the doc appears verbatim in ANOTHER document
    * (L probed up to the declared 1279 ladder cap).
    *
    * Genuinely distinct from k46: a region of consecutive duplicated
    * windows need not appear in any single partner (two partners
    * covering [1,20] and [10,29] make a 29-token k46 region but the
    * true longest duplicated SUBSTRING is 20 — spec-pinned divergence).
    *
    * Algorithm (the binary-lifting re-expression of the suffix-array
    * pass): (1) build digest-chain arrays MAP-SIDE — level 0 = k44's
    * 20-token window md5s, level j+1 (i) = md5(Dⱼ(i) ‖ Dⱼ(i + 20·2ʲ))
    * — O(log L) array passes, zero extra shuffles; digest equality ⟺
    * window equality under the family's standing md5-collision
    * assumption. (2) ONE Generate explodes all levels; cross-doc
    * duplication per (level, digest) rides the k44 min/max-doc window.
    * (3) The BRACKET law: j* = max level with a dup window ⟹ the true
    * max M ∈ [20·2ʲ*, 2·20·2ʲ*) — if M reached the next level, a
    * sub-window of the M-substring would be dup there. (4) REFINEMENT:
    * a length-(w+δ) window (0 ≤ δ < w) at position i is dup iff the
    * composite key (δ, Dⱼ(i), Dⱼ(i+δ)) is shared cross-doc — the two
    * overlapping width-w windows pin the full w+δ tokens (the sparse-
    * table argument; δ < w forces overlap). A true match forces every
    * intermediate position dup, so candidates are emitted only WITHIN
    * consecutive dup runs (gaps-and-islands, k46's trick) — per run of
    * length R that is O(R·min(R, w)) probe rows, the declared exact-
    * regime price (full-document duplicates belong to k01's exact
    * dedup BEFORE span analysis; this prices the residual spans).
    * Every doc emits probes at EVERY level where it holds dup
    * positions — a doc refining at level j finds its partner only if
    * the partner (whose own bracket may sit higher) emits level-j
    * composites too. (5) The answer needs no j* join: level-j
    * refinement is bounded by w + (w−1) < 2w ≤ w(j*), so
    * max over ALL levels of (w + max matched δ) IS the j* refinement —
    * one hash agg. δ = 0 composites (d, d) are the level's own dup
    * check and always survive, so the population is exactly "docs with
    * a dup 20-token window" (k46's) and max_dup_len ≥ 20 always.
    *
    * Scale shape: two Generates (ladder explode, run-bounded probe
    * emission), three window families — (level, digest) and
    * (level, δ, d1, d2) are span-document-frequency-sized (the k44
    * accepted hazard class), the run window is doc-bounded — and hash
    * aggs; JOIN-FREE end-to-end (plan-pinned). Digests only cross the
    * shuffle, never text. The ORACLE brute-forces every (start, length)
    * window digest (quadratic — honest only at oracle scale) with the
    * same 1279 cap and derives duplication via GROUP BY + JOIN —
    * independent mechanism for both the enumeration and the match. */
  val k56: Q = Q(
    "k56_max_dup_substr",
    """WITH t AS (SELECT doc_id, STRING_SPLIT(text, ' ') AS toks FROM documents),
      |p AS (SELECT doc_id, n, st, UNNEST(RANGE(20, LEAST(n - st + 2, 1280))) AS len, toks
      |      FROM (SELECT doc_id, LEN(toks) AS n, toks,
      |              UNNEST(RANGE(1, LEN(toks) - 18)) AS st
      |            FROM t WHERE LEN(toks) >= 20)),
      |wd AS (SELECT doc_id, n, len,
      |         MD5(ARRAY_TO_STRING(toks[st : st + len - 1], ' ')) AS d
      |       FROM p),
      |dd AS (SELECT len, d FROM wd GROUP BY 1, 2 HAVING MIN(doc_id) < MAX(doc_id))
      |SELECT wd.doc_id AS doc_id, CAST(MAX(wd.n) AS BIGINT) AS n_tokens,
      |  CAST(MAX(wd.len) AS BIGINT) AS max_dup_len
      |FROM wd JOIN dd USING (len, d)
      |GROUP BY 1
      |ORDER BY doc_id ASC NULLS LAST""".stripMargin,
    (s, dir) => k56Plan(Tables.documents(s, dir)))

  /** The k56 plan body, factored so Round18Spec can drive the REAL plan
    * on synthetic frames (the h46Plan discipline). */
  def k56Plan(docs: DataFrame): DataFrame = {
    // (1) digest-chain ladder, all map-side array passes
    var d = docs
      .select(col("doc_id"), split(col("text"), " ").as("__t"))
      .filter(size(col("__t")) >= 20)
      .withColumn("n_tokens", size(col("__t")).cast("long"))
      .withColumn("__d0", expr(Spans.DigestsExpr))
    for (j <- 1 until Levels) {
      val w = LevelWidth(j - 1)
      // sequence(1, x) flips DESCENDING when x < 1 — guard with the
      // empty-slice idiom so short docs get a typed empty array
      d = d.withColumn(s"__d$j", expr(
        s"case when size(__d${j - 1}) > $w then " +
          s"transform(sequence(1, size(__d${j - 1}) - $w), " +
          s"i -> unhex(md5(concat(element_at(__d${j - 1}, i), " +
          s"element_at(__d${j - 1}, i + $w))))) " +
          s"else slice(__d${j - 1}, 1, 0) end"))
    }
    // (2) one Generate over all levels; dup via the k44 digest window
    val lvl = (0 until Levels)
      .map(j => s"transform(__d$j, (x, ix) -> " +
        s"named_struct('j', $j, 'i', ix + 1, 'dig', x))")
      .mkString("flatten(array(", ", ", "))")
    val pos = d
      .select(col("doc_id"), col("n_tokens"), explode(expr(lvl)).as("s"))
      .select(col("doc_id"), col("n_tokens"), col("s.j").as("j"),
              col("s.i").as("i"), col("s.dig").as("dig"))
    val wdig = Window.partitionBy("j", "dig")
    val wrun = Window.partitionBy("doc_id", "j").orderBy(asc_nulls_last("i"))
    val runs = pos
      .withColumn("__dmin", min(col("doc_id")).over(wdig))
      .withColumn("__dmax", max(col("doc_id")).over(wdig))
      .filter(col("__dmin") < col("__dmax"))
      .withColumn("__g", col("i") - row_number().over(wrun))
      .groupBy(col("doc_id"), col("n_tokens"), col("j"), col("__g"))
      .agg(sort_array(collect_list(struct(col("i"), col("dig")))).as("__r"))
    // (4) run-bounded composite probes (δ = 0 .. min(w−1, run end));
    // run positions are consecutive, so array distance IS δ. The two
    // digests fold to ONE md5 map-side (same collision class as the
    // digests themselves) — probes dominate the query's shuffle bytes
    // and carrying (d1, d2) doubled them (A/B-measured in BASELINE)
    val probes = runs
      .withColumn("__w", expr("shiftleft(20, j)"))
      .select(col("doc_id"), col("n_tokens"), col("j"), col("__w"),
        explode(expr(
          "flatten(transform(__r, (x, ix) -> " +
            "transform(slice(__r, ix + 1, least(__w, size(__r) - ix)), " +
            "y -> named_struct('delta', y.i - x.i, " +
            "'h', unhex(md5(concat(x.dig, y.dig)))))))")).as("__p"))
      .select(col("doc_id"), col("n_tokens"), col("j"), col("__w"),
              col("__p.delta").as("delta"), col("__p.h").as("h"))
    // (5) composite cross-doc match + the bracket-law max
    val wcomp = Window.partitionBy("j", "delta", "h")
    probes
      .withColumn("__cmin", min(col("doc_id")).over(wcomp))
      .withColumn("__cmax", max(col("doc_id")).over(wcomp))
      .filter(col("__cmin") < col("__cmax"))
      .groupBy(col("doc_id"), col("n_tokens"))
      .agg(max(col("__w") + col("delta")).cast("long").as("max_dup_len"))
      .orderBy(asc_nulls_last("doc_id"))
  }

  // ---------------------------------------------------------------- k57

  /** The frozen merge table: 8 merges trained by [[graft.operators.Bpe
    * .train]] on the sf0.01 corpus word frequencies under the pinned
    * tie rule (count DESC, left ASC, right ASC) and FROZEN here as
    * literals — the declared query prices documents under a FIXED
    * tokenizer, the way a real pipeline prices against a shipped
    * vocabulary (retraining per query would make the metric
    * corpus-relative). Includes the multi-char merge ('m','er') → the
    * chained-merge structure a char-pair-only list would not exercise. */
  val Merges: Seq[(String, String)] = Seq(
    "e" -> "r", "i" -> "n", "o" -> "w", "o" -> "r",
    "s" -> "t", "m" -> "er", "a" -> "t", "l" -> "u")

  /** k57 — document token pricing under a REAL BPE tokenizer [public:
    * Sennrich et al. 2016; every serious pipeline prices data in
    * tokenizer tokens, not whitespace words]: per doc, the whitespace
    * token count, the BPE piece count under the frozen [[Merges]]
    * table, and the ROUND-4 pieces-per-token ratio (the fertility
    * statistic tokenizer papers report). k12's "BPE-ish" regex only
    * counted character-class pieces; this runs the actual merge-table
    * encode — greedy leftmost per rule, rules in learned order
    * (the native fold [[graft.functions.BpeFold]], which the Tier-2
    * training operator [[graft.operators.Bpe]] also encodes with).
    *
    * Scale shape: map-only — one native `graft_bpe_pieces` call per doc
    * ([[graft.functions.BpePiecesExpression]] via `Bpe.pieces`: words →
    * code points → the 8 merges over an int buffer, summed), codegen'd
    * with no `CodegenFallback` in the plan; NO explode, NO join, NO
    * shuffle except the final presentation sort (plan-pinned: zero
    * Generate, zero Join, zero CodegenFallback). The
    * ORACLE cannot fold, so it runs the nested-REPLACE chain over a
    * double-space-separated symbol rendering (' a  b ' → ' ab ' —
    * boundary-safe: every symbol keeps one flanking space per side for
    * neighboring matches, and a symbol merely PREFIXED by the right
    * element cannot match) — REPLACE-chain ≡ fold equivalence is
    * exhaustively verified over the corpus vocabulary and pinned in
    * Round18Spec; the mechanisms stay independent (symbol fold vs
    * string rewriting). Integer counts, one declared ROUND-4
    * ratio of exact ints. */
  val k57: Q = Q(
    "k57_bpe_token_count",
    {
      val rendered = "'  ' || ARRAY_TO_STRING(STRING_SPLIT(w, ''), '  ') || '  '"
      val replaced = Merges.foldLeft(rendered) { case (e, (a, b)) =>
        s"REPLACE($e, ' $a  $b ', ' $a$b ')"
      }
      s"""WITH e AS (SELECT doc_id,
         |    LEN(STRING_SPLIT(text, ' ')) AS n_tokens,
         |    LIST_SUM(LIST_TRANSFORM(STRING_SPLIT(text, ' '),
         |      w -> LEN(STRING_SPLIT($replaced, '  ')) - 2)) AS n_pieces
         |  FROM documents)
         |SELECT doc_id,
         |  CAST(n_tokens AS BIGINT) AS n_tokens,
         |  CAST(n_pieces AS BIGINT) AS n_pieces,
         |  ROUND(n_pieces * 1.0 / n_tokens, 4) AS pieces_per_token
         |FROM e
         |ORDER BY doc_id ASC NULLS LAST""".stripMargin
    },
    (s, dir) => k57Plan(Tables.documents(s, dir), Merges))

  /** The k57 plan body, factored so Round18Spec can drive the REAL plan
    * on synthetic frames (the h46Plan discipline). */
  def k57Plan(docs: DataFrame, merges: Seq[(String, String)]): DataFrame = {
    docs
      .select(col("doc_id"),
        size(split(col("text"), " ")).cast("long").as("n_tokens"),
        graft.operators.Bpe.pieces(col("text"), merges).as("n_pieces"))
      .withColumn("pieces_per_token",
        round(col("n_pieces") * lit(1.0) / col("n_tokens"), 4))
      .orderBy(asc_nulls_last("doc_id"))
  }

  def ops: Vector[Q] = Vector(k56, k57)
}
