package graft.engine

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** SURVEY §2.1 block K — LLM-data-pipeline operators (the north star).
  *
  * Scale posture per operator:
  *  - k01/k10: hash-groupBy — shuffles digest+id only, trivially 100 TB-safe.
  *  - k02/k08: exact near-dup via token/shingle inverted index self-join,
  *    blocked by `source`; shingles (word 3-grams) are far more selective
  *    than tokens, so k08 is the shape that scales. The sub-quadratic path
  *    is MinHashLSH (Tier 2, graft.operators.NearDedup).
  *  - k03/k07: brute-force cosine with the probe/dim side broadcast; the
  *    100 TB path is LSH/IVF bucketing (Tier 2).
  *  - k04/k05/k06/k09/k11: embarrassingly parallel per-row expressions + one
  *    partial-agg shuffle.
  */
object LlmOps {

  private def docs(s: SparkSession, dir: String): DataFrame = Tables.documents(s, dir)

  /** k01 — exact text dedup by md5: keeper = min(doc_id), copy count. */
  val k01: Q = Q(
    "k01_dedup_exact_text",
    """SELECT MD5(text) AS h, MIN(doc_id) AS keeper, COUNT(*) AS n_copies
      |FROM documents GROUP BY 1
      |ORDER BY h ASC NULLS LAST""".stripMargin,
    (s, dir) =>
      graft.api.Dedup.exactByDigest(docs(s, dir), "doc_id", "text")
        .orderBy(asc_nulls_last("h")))

  /** k02 — exact token-set Jaccard near-dup pairs within a source block.
    * Routed through `Dedup.tokenJaccardPairsAuto`: on the dup-dense fixture
    * the selector measures block density ≈ 0.5–0.8 and keeps the naive
    * inverted-index join; on a sparse production corpus it flips to the
    * PPJoin prefix path automatically (same exact results either way). */
  val k02: Q = Q(
    "k02_near_dedup_jaccard",
    """WITH tok AS (
      |  SELECT DISTINCT doc_id, source, token FROM
      |    (SELECT doc_id, source, UNNEST(STRING_SPLIT(text, ' ')) AS token
      |     FROM documents)),
      |sizes AS (SELECT doc_id, COUNT(*) AS sz FROM tok GROUP BY 1),
      |inter AS (
      |  SELECT a.doc_id AS id1, b.doc_id AS id2, COUNT(*) AS i
      |  FROM tok a JOIN tok b
      |    ON a.token = b.token AND a.source = b.source AND a.doc_id < b.doc_id
      |  GROUP BY 1, 2)
      |SELECT id1, id2,
      |  ROUND(CAST(i AS DOUBLE) / (sa.sz + sb.sz - i), 4) AS jaccard
      |FROM inter
      |JOIN sizes sa ON sa.doc_id = id1
      |JOIN sizes sb ON sb.doc_id = id2
      |WHERE CAST(i AS DOUBLE) / (sa.sz + sb.sz - i) >= 0.6
      |ORDER BY id1 ASC NULLS LAST, id2 ASC NULLS LAST""".stripMargin,
    (s, dir) =>
      graft.api.Dedup.tokenJaccardPairsAuto(docs(s, dir), "doc_id", "text", "source", 0.6)
        .select(col("id1"), col("id2"), round(col("jaccard"), 4).as("jaccard"))
        .orderBy(asc_nulls_last("id1"), asc_nulls_last("id2")))

  /** k03 — top-10 cosine neighbors of probe vector vec_id=0, on the native
    * `graft_unit`/dot path (api.Similarity.cosineTopK): normalize once,
    * one codegen'd dot per row, TakeOrderedAndProject for the global top-k.
    * dot(a/|a|, b/|b|) vs the oracle's dot/(|a||b|) differ at ~1e-16,
    * absorbed by ROUND 4 (the k07 argument). */
  val k03: Q = Q(
    "k03_sim_topk_cosine",
    """SELECT vec_id,
      |  ROUND(list_cosine_similarity(
      |    list_transform(embedding, x -> CAST(x AS DOUBLE)),
      |    (SELECT list_transform(embedding, x -> CAST(x AS DOUBLE))
      |     FROM embeddings WHERE vec_id = 0)), 4) AS cos
      |FROM embeddings
      |WHERE vec_id <> 0
      |ORDER BY cos DESC NULLS LAST, vec_id ASC NULLS LAST
      |LIMIT 10""".stripMargin,
    (s, dir) =>
      graft.api.Similarity.cosineTopK(
        Tables.embeddings(s, dir), "vec_id", "embedding",
        probeId = 0L, k = 10, roundTo = 4))

  /** k04 — per-language doc counts, avg token count, avg chars. */
  val k04: Q = Q(
    "k04_text_stats",
    """SELECT lang, COUNT(*) AS n_docs,
      |  ROUND(CAST(SUM(CAST(LEN(STRING_SPLIT(text, ' ')) AS BIGINT)) AS DOUBLE)
      |        / COUNT(*), 4) AS avg_tokens,
      |  ROUND(CAST(SUM(n_chars) AS DOUBLE) / COUNT(*), 4) AS avg_chars
      |FROM documents GROUP BY lang
      |ORDER BY lang ASC NULLS LAST""".stripMargin,
    (s, dir) =>
      docs(s, dir)
        .groupBy("lang")
        .agg(count(lit(1)).as("n_docs"),
             round(sum(size(split(col("text"), " ")).cast("bigint")).cast("double")
                     / count(lit(1)), 4).as("avg_tokens"),
             round(sum(col("n_chars")).cast("double") / count(lit(1)), 4).as("avg_chars"))
        .orderBy(asc_nulls_last("lang")))

  /** k05 — L2 norm per embedding; top-10 by norm. */
  val k05: Q = Q(
    "k05_embed_norm",
    """SELECT vec_id,
      |  ROUND(SQRT(list_sum(list_transform(embedding,
      |    x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))), 4) AS l2
      |FROM embeddings
      |ORDER BY l2 DESC NULLS LAST, vec_id ASC NULLS LAST
      |LIMIT 10""".stripMargin,
    (s, dir) =>
      Tables.embeddings(s, dir)
        .select(col("vec_id"),
                round(graft.api.Similarity.l2Norm(col("embedding")), 4).as("l2"))
        .orderBy(desc_nulls_last("l2"), asc_nulls_last("vec_id"))
        .limit(10))

  /** k06 — lang × source doc-count matrix (pipeline partition planning). */
  val k06: Q = Q.fromSql(
    "k06_lang_source_matrix",
    """SELECT lang, source, COUNT(*) AS n FROM documents
      |GROUP BY lang, source
      |ORDER BY lang ASC NULLS LAST, source ASC NULLS LAST""".stripMargin)

  /** k07 — embedding-cosine near-dup: same-label pairs with cosine ≥ 0.4
    * (label is the blocking key; exact within block). The `label` column
    * is a FIXTURE crutch standing in for real clustering — the 100 TB
    * route is [[graft.api.Dedup.embeddingCosinePairs]] (SemDeDup shape:
    * k-means/IVF cluster ids as the blocking key, multi-probe for
    * boundary pairs), recall-pinned ≥ 0.9 against this query's exact
    * pairs in ScaleOpsSpec. */
  val k07: Q = Q(
    "k07_cosine_neardup",
    """SELECT a.vec_id AS id1, b.vec_id AS id2,
      |  ROUND(list_cosine_similarity(
      |    list_transform(a.embedding, x -> CAST(x AS DOUBLE)),
      |    list_transform(b.embedding, x -> CAST(x AS DOUBLE))), 4) AS cos
      |FROM embeddings a JOIN embeddings b
      |  ON a.label = b.label AND a.vec_id < b.vec_id
      |WHERE list_cosine_similarity(
      |    list_transform(a.embedding, x -> CAST(x AS DOUBLE)),
      |    list_transform(b.embedding, x -> CAST(x AS DOUBLE))) >= 0.4
      |ORDER BY id1 ASC NULLS LAST, id2 ASC NULLS LAST""".stripMargin,
    (s, dir) =>
      // vectors are pre-unit-normalized inside cosinePairs (norms O(n),
      // pairs O(n²/block)); dot(a/|a|, b/|b|) vs dot/(|a||b|) differ at
      // ~1e-16 — absorbed by ROUND 4
      graft.api.Similarity.cosinePairs(
        Tables.embeddings(s, dir), "vec_id", "embedding", "label", 0.4)
        .select(col("id1"), col("id2"), round(col("cos"), 4).as("cos"))
        .orderBy(asc_nulls_last("id1"), asc_nulls_last("id2")))

  /** k08 — n-gram (word 3-gram shingle) Jaccard near-dup within source block.
    * Shingles are selective, so the inverted-index self-join stays bounded —
    * this is the exact-dedup shape that survives scale-up. */
  val k08: Q = Q(
    "k08_shingle_jaccard",
    """WITH sh AS (
      |  SELECT DISTINCT doc_id, source, shingle FROM (
      |    SELECT doc_id, source,
      |      UNNEST(list_transform(generate_series(1, len(t) - 2),
      |        g -> t[g] || ' ' || t[g+1] || ' ' || t[g+2])) AS shingle
      |    FROM (SELECT doc_id, source, STRING_SPLIT(text, ' ') AS t
      |          FROM documents WHERE LEN(STRING_SPLIT(text, ' ')) >= 3))),
      |sizes AS (SELECT doc_id, COUNT(*) AS sz FROM sh GROUP BY 1),
      |inter AS (
      |  SELECT a.doc_id AS id1, b.doc_id AS id2, COUNT(*) AS i
      |  FROM sh a JOIN sh b
      |    ON a.shingle = b.shingle AND a.source = b.source AND a.doc_id < b.doc_id
      |  GROUP BY 1, 2)
      |SELECT id1, id2,
      |  ROUND(CAST(i AS DOUBLE) / (sa.sz + sb.sz - i), 4) AS jaccard
      |FROM inter
      |JOIN sizes sa ON sa.doc_id = id1
      |JOIN sizes sb ON sb.doc_id = id2
      |WHERE CAST(i AS DOUBLE) / (sa.sz + sb.sz - i) >= 0.5
      |ORDER BY id1 ASC NULLS LAST, id2 ASC NULLS LAST""".stripMargin,
    (s, dir) =>
      graft.api.Dedup.shingleJaccardPairs(docs(s, dir), "doc_id", "text", "source",
                                          n = 3, threshold = 0.5)
        .select(col("id1"), col("id2"), round(col("jaccard"), 4).as("jaccard"))
        .orderBy(asc_nulls_last("id1"), asc_nulls_last("id2")))

  private val stopwords = Seq("a", "the", "of", "and", "to", "value", "data")

  /** k09 — quality scoring: token count, char stats, stopword ratio, and a
    * bounded composite score — the classic pretraining-corpus filter shape.
    * Ratios are rounded at 9 and the composite uses a /7 divisor so no
    * integer-ratio in range can terminate exactly at the rounding scale —
    * true decimal ties are where Spark's shortest-repr rounding and DuckDB's
    * exact-expansion rounding diverge. */
  val k09: Q = Q(
    "k09_quality_score",
    s"""SELECT doc_id,
       |  CAST(LEN(STRING_SPLIT(text, ' ')) AS INT) AS n_tokens,
       |  ROUND(CAST(LEN(list_filter(STRING_SPLIT(text, ' '),
       |    t -> list_contains(${stopwords.map(w => s"'$w'").mkString("[", ", ", "]")}, t)))
       |    AS DOUBLE) / LEN(STRING_SPLIT(text, ' ')), 9) AS stop_ratio,
       |  ROUND(CAST(n_chars AS DOUBLE) / LEN(STRING_SPLIT(text, ' ')), 9) AS chars_per_token,
       |  ROUND(LEAST(CAST(LEN(STRING_SPLIT(text, ' ')) AS DOUBLE) / 100, 1.0) * 0.5
       |      + LEAST(CAST(n_chars AS DOUBLE) / LEN(STRING_SPLIT(text, ' ')) / 7, 1.0) * 0.5,
       |    9) AS quality
       |FROM documents
       |ORDER BY doc_id ASC NULLS LAST""".stripMargin,
    (s, dir) => {
      val toks = split(col("text"), " ")
      val nTok = size(toks)
      val stopArr = array(stopwords.map(lit): _*)
      docs(s, dir)
        .select(
          col("doc_id"),
          nTok.as("n_tokens"),
          round(size(filter(toks, t => array_contains(stopArr, t))).cast("double")
                  / nTok, 9).as("stop_ratio"),
          round(col("n_chars").cast("double") / nTok, 9).as("chars_per_token"),
          round(least(nTok.cast("double") / 100, lit(1.0)) * 0.5
                  + least(col("n_chars").cast("double") / nTok / 7, lit(1.0)) * 0.5,
                9).as("quality"))
        .orderBy(asc_nulls_last("doc_id"))
    })

  /** k10 — order-canonical document fingerprint: md5 over the sorted distinct
    * token set (rolling-hash analog, set-stable under token reordering). */
  val k10: Q = Q(
    "k10_doc_fingerprint",
    """SELECT doc_id,
      |  MD5(array_to_string(list_sort(list_distinct(STRING_SPLIT(text, ' '))), ' ')) AS fp
      |FROM documents
      |ORDER BY doc_id ASC NULLS LAST""".stripMargin,
    (s, dir) =>
      docs(s, dir)
        .select(col("doc_id"),
                graft.api.TextAnalysis.setFingerprint(col("text")).as("fp"))
        .orderBy(asc_nulls_last("doc_id")))

  private val markers: Map[String, Seq[String]] = Map(
    "en" -> Seq("the", "a", "of"),
    "db" -> Seq("table", "row", "column", "index"),
    "ops" -> Seq("scan", "merge", "batch", "hash"))

  /** k11 — language/domain-ID scores: distinct-token overlap against marker
    * sets (n-gram-membership heuristic; corpus vocabulary is shared across
    * langs, so scores — not argmax — are the declared output). */
  val k11: Q = Q(
    "k11_langid_scores",
    s"""SELECT doc_id,
       |  ${markers.toSeq.sortBy(_._1).map { case (k, ws) =>
             s"CAST(LEN(list_intersect(list_distinct(STRING_SPLIT(text, ' ')), " +
             s"${ws.map(w => s"'$w'").mkString("[", ", ", "]")})) AS INT) AS score_$k"
           }.mkString(",\n       |  ")}
       |FROM documents
       |ORDER BY doc_id ASC NULLS LAST""".stripMargin,
    (s, dir) =>
      graft.api.TextAnalysis.markerScores(docs(s, dir), "doc_id", "text", markers)
        .orderBy(asc_nulls_last("doc_id")))

  /** k12 — token counting three ways: whitespace split, alpha-word regex,
    * and a BPE-ish vowel-centered piece regex (the task brief's "whitespace
    * + a BPE-ish regex" pair); all codegen'd regexp_count. */
  val k12: Q = Q(
    "k12_token_count_bpe",
    """SELECT doc_id,
      |  CAST(LEN(STRING_SPLIT(text, ' ')) AS INT) AS n_ws,
      |  CAST(LEN(regexp_extract_all(text, '[a-z]+')) AS INT) AS n_alpha,
      |  CAST(LEN(regexp_extract_all(text,
      |    '[bcdfghjklmnpqrstvwxyz]*[aeiou]+[bcdfghjklmnpqrstvwxyz]*')) AS INT) AS n_pieces
      |FROM documents
      |ORDER BY doc_id ASC NULLS LAST""".stripMargin,
    (s, dir) =>
      graft.api.TextAnalysis.tokenCounts(docs(s, dir), "doc_id", "text")
        .orderBy(asc_nulls_last("doc_id")))

  /** k13 — true rolling (polynomial) hash over the token stream:
    * h = fold(h·31 + (ascii(t)·131 + len(t))) mod 1e9+7 — order-sensitive
    * (unlike k10's canonical set fingerprint), pure integer arithmetic so
    * bit-identical across engines, and computed per-row with a fold HOF:
    * no shuffle at all. */
  val k13: Q = Q(
    "k13_rolling_hash",
    """SELECT doc_id,
      |  list_reduce(
      |    list_prepend(CAST(0 AS BIGINT),
      |      list_transform(STRING_SPLIT(text, ' '),
      |        t -> CAST(ascii(t) * 131 + length(t) AS BIGINT))),
      |    (h, v) -> (h * 31 + v) % 1000000007) AS rhash
      |FROM documents
      |ORDER BY doc_id ASC NULLS LAST""".stripMargin,
    (s, dir) =>
      docs(s, dir)
        .select(col("doc_id"),
                graft.api.TextAnalysis.rollingHash(col("text")).as("rhash"))
        .orderBy(asc_nulls_last("doc_id")))

  def ops: Vector[Q] = Vector(k01, k02, k03, k04, k05, k06, k07, k08, k09, k10, k11, k12, k13)
}
