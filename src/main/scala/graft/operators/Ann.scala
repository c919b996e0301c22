package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Approximate nearest neighbors over an embedding column
  * (SURVEY task brief: brute-force cosine baseline = k03; this is the scale
  * path). Random-hyperplane LSH [public: Charikar'02 SimHash for cosine]:
  * signature bit i = sign(v · h_i); vectors agreeing on a band of bits land
  * in one bucket; search = probe's buckets only. Hyperplanes are generated
  * from a fixed seed on the driver and inlined as literals — no RNG on
  * executors, fully deterministic plans.
  */
object Ann {

  /** Deterministic unit-free hyperplanes: nBits × dim, seeded. */
  def hyperplanes(dim: Int, nBits: Int, seed: Long = 42L): Array[Array[Double]] = {
    val rnd = new scala.util.Random(seed)
    Array.fill(nBits)(Array.fill(dim)(rnd.nextGaussian()))
  }

  private def sigCol(planes: Array[Array[Double]]) = {
    // signature bit per plane: sign of dot(embedding, plane)
    val bitCols: Seq[org.apache.spark.sql.Column] =
      planes.zipWithIndex.toSeq.map { case (p, i) =>
        val planeArr = array(p.map(lit).toSeq: _*)
        val dot = aggregate(
          zip_with(col("embedding"), planeArr, (x, h) => x.cast("double") * h),
          lit(0.0), (acc, v) => acc + v)
        when(dot >= 0, lit(1L << i)).otherwise(lit(0L))
      }
    bitCols.reduce(_ + _)
  }

  /** Bucket the corpus by `nBands` bands of `bandBits` bits each. */
  def withBuckets(embeddings: DataFrame, dim: Int = 64, nBands: Int = 4,
                  bandBits: Int = 4, seed: Long = 42L): DataFrame = {
    val planes = hyperplanes(dim, nBands * bandBits, seed)
    val mask = (1L << bandBits) - 1
    embeddings
      .withColumn("sig", sigCol(planes))
      .select(col("*"), explode(expr(
        s"transform(sequence(0, ${nBands - 1}), " +
        s"b -> named_struct('band', b, 'bucket', shiftright(sig, b * $bandBits) & $mask))")).as("bb"))
      .select(col("vec_id"), col("embedding"), col("sig"),
              col("bb.band"), col("bb.bucket"))
  }

  private def cosine(a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column) = {
    def dot(x: org.apache.spark.sql.Column, y: org.apache.spark.sql.Column) =
      aggregate(zip_with(x, y, (p, q) => p.cast("double") * q.cast("double")),
                lit(0.0), (acc, v) => acc + v)
    dot(a, b) / (sqrt(dot(a, a)) * sqrt(dot(b, b)))
  }

  /** Top-k cosine neighbors of `probeId`, searching only LSH-colliding
    * buckets. Returns (vec_id, cos) sorted desc — compare against the k03
    * brute force for recall. */
  def topKApprox(embeddings: DataFrame, probeId: Long, k: Int = 10,
                 dim: Int = 64, nBands: Int = 4, bandBits: Int = 4,
                 seed: Long = 42L): DataFrame = {
    val bucketed = withBuckets(embeddings, dim, nBands, bandBits, seed)
    val probe = bucketed.filter(col("vec_id") === probeId)
      .select(col("band").as("p_band"), col("bucket").as("p_bucket"),
              col("embedding").as("p_emb"))
    bucketed
      .join(broadcast(probe),
            col("band") === col("p_band") && col("bucket") === col("p_bucket") &&
            col("vec_id") =!= probeId)
      .select(col("vec_id"), round(cosine(col("embedding"), col("p_emb")), 6).as("cos"))
      .groupBy("vec_id").agg(max("cos").as("cos")) // dedup multi-band collisions
      .orderBy(desc_nulls_last("cos"), asc_nulls_last("vec_id"))
      .limit(k)
  }

  /** Brute-force top-k (the baseline ANN answer; identical to k03's shape). */
  def topKExact(embeddings: DataFrame, probeId: Long, k: Int = 10): DataFrame = {
    val probe = embeddings.filter(col("vec_id") === probeId)
      .select(col("embedding").as("p_emb"))
    embeddings.filter(col("vec_id") =!= probeId)
      .crossJoin(broadcast(probe))
      .select(col("vec_id"), round(cosine(col("embedding"), col("p_emb")), 6).as("cos"))
      .orderBy(desc_nulls_last("cos"), asc_nulls_last("vec_id"))
      .limit(k)
  }
}
