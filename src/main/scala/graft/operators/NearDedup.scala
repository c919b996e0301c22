package graft.operators

import org.apache.spark.ml.feature.{CountVectorizer, MinHashLSH, RegexTokenizer}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Sub-quadratic near-dedup — the 100 TB path for k02/k08
  * (SURVEY §2.2 "MinHashLSH near-dedup at scale").
  *
  * Exact token-Jaccard needs an inverted-index self-join whose cost is
  * Σ_token df(token)² — fine when blocked by `source`, quadratic in the worst
  * case. MinHash+banded LSH replaces it with `numHashTables` hash-bucket
  * joins: candidate pairs only where a band collides, cost linear in data +
  * collisions. Recall vs the exact k02 oracle is asserted in NearDedupSpec.
  */
object MinHashDedup {

  /** Candidate near-dup pairs (id1 < id2) with estimated Jaccard ≥ threshold.
    * Deterministic: MinHashLSH hash coefficients are seeded. */
  def candidatePairs(docs: DataFrame, threshold: Double = 0.6,
                     numHashTables: Int = 8, seed: Long = 42L): DataFrame = {
    val tokenized = new RegexTokenizer()
      .setInputCol("text").setOutputCol("tokens").setPattern(" ")
      .transform(docs.select("doc_id", "text"))
    val cv = new CountVectorizer()
      .setInputCol("tokens").setOutputCol("features").setBinary(true)
      .fit(tokenized)
    // MinHashLSH requires ≥1 non-zero entry. With an untruncated vocabulary
    // every token is in-vocab, so `tokens nonempty ⟺ features non-zero` and
    // the check is a plain codegen'd Column (a vector UDF would break the
    // stage; vector_to_array would densify to |vocab| per row). A corpus
    // whose vocabulary overflows the CountVectorizer cap breaks that
    // equivalence (an all-OOV doc would zero-vector through the filter), so
    // fail loudly instead of silently diverging — pre-prune the vocabulary
    // upstream if a 100 TB corpus ever trips this.
    require(cv.vocabulary.length < (1 << 18),
      s"vocabulary hit the CountVectorizer cap (${cv.vocabulary.length}): " +
        "the empty-vector filter is only sound on an untruncated vocabulary")
    val vectorized = cv.transform(tokenized)
      .filter(size(col("tokens")) > 0)
    val lsh = new MinHashLSH()
      .setInputCol("features").setOutputCol("hashes")
      .setNumHashTables(numHashTables).setSeed(seed)
    val model = lsh.fit(vectorized)
    // approxSimilarityJoin distance = 1 - jaccard
    model.approxSimilarityJoin(vectorized, vectorized, 1.0 - threshold, "dist")
      .select(col("datasetA.doc_id").as("id1"), col("datasetB.doc_id").as("id2"),
              (lit(1.0) - col("dist")).as("jaccard_est"))
      .filter(col("id1") < col("id2"))
      .distinct()
  }
}

/** SimHash near-dedup: 64-bit fingerprints whose Hamming distance tracks
  * document similarity; near-dup candidates = fingerprints equal in ≥ one
  * 16-bit band (classic Charikar scheme, banded for sub-quadratic join).
  * Deterministic: bit source is md5(token), no RNG. [public: Charikar'02,
  * Manku et al. WWW'07]
  */
object SimHashDedup {

  /** Per-doc 64-bit simhash from the first 8 bytes of md5(token), majority
    * vote per bit over distinct tokens. Pure DataFrame ops — the explode /
    * bit-test / groupBy pipeline is one shuffle of (doc, bit) partials. */
  def fingerprints(docs: DataFrame): DataFrame = {
    val tok = docs
      .select(col("doc_id"), explode(array_distinct(split(col("text"), " "))).as("token"))
      // 64-bit token hash = first 16 hex chars of md5, parsed base-16
      .withColumn("th", unhex(substring(md5(col("token")), 1, 16)))
      .withColumn("h", conv(substring(md5(col("token")), 1, 15), 16, 10).cast("long"))
    // accumulate +1/-1 votes per bit position
    val bitVotes = tok
      .select(col("doc_id"), posexplode(expr(
        "transform(sequence(0, 59), b -> CASE WHEN ((shiftright(h, b) & 1) = 1) THEN 1 ELSE -1 END)")))
      .groupBy(col("doc_id"), col("pos"))
      .agg(sum(col("col")).as("vote"))
    bitVotes
      .groupBy("doc_id")
      .agg(sum(when(col("vote") > 0,
                    expr("shiftleft(1L, CAST(pos AS INT))")).otherwise(0L)).as("simhash"))
  }

  /** Near-dup candidate pairs: equal in at least one of four 15-bit bands. */
  def candidatePairs(docs: DataFrame, maxHamming: Int = 6): DataFrame = {
    val fp = fingerprints(docs)
    val banded = fp.select(
      col("doc_id"), col("simhash"),
      explode(expr(
        "transform(sequence(0, 3), b -> named_struct(" +
        "'band', b, 'key', shiftright(simhash, b * 15) & 32767))")).as("bk"))
      .select(col("doc_id"), col("simhash"), col("bk.band"), col("bk.key"))
    val pairs = banded.as("a")
      .join(banded.as("b"),
            col("a.band") === col("b.band") && col("a.key") === col("b.key") &&
            col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("id1"), col("b.doc_id").as("id2"),
              col("a.simhash").as("h1"), col("b.simhash").as("h2"))
      .distinct()
    pairs
      .withColumn("hamming", expr("bit_count(h1 ^ h2)"))
      .filter(col("hamming") <= maxHamming)
      .select("id1", "id2", "hamming")
  }
}
