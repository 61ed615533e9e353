package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/**
 * Similarity search over an embedding column (`Array[Float]`).
 *
 * - [[bruteTopK]]: exact cosine top-k — the correctness baseline. One
 *   broadcastable query side × full scan of the corpus; O(Q·N) dot
 *   products, no shuffle beyond the final per-query top-k.
 * - [[lshBuckets]] / [[lshNearDup]]: random-hyperplane (sign) LSH — the
 *   scale path: bucket on b sign bits, candidates only within a bucket,
 *   exact cosine re-rank. Hyperplane components are deterministic
 *   splitmix64 values, so results are reproducible across runs/partitions.
 */
object Similarity {

  /** Sequential-order dot product of two float arrays in double precision —
    * a custom codegen'd Expression (see [[graft.functions.FloatDot]]);
    * bit-compatible with the HOF/SQL formulations, ~10x faster. */
  def dot(a: Column, b: Column): Column =
    graft.functions.FloatDot.floatDot(a, b)

  def cosine(a: Column, na: Column, b: Column, nb: Column): Column =
    dot(a, b) / (sqrt(na) * sqrt(nb))

  /** Exact cosine top-k: for each query vector (queryPred over vec_id),
    * the k nearest other vectors. Output (query_id, neighbor_id, cos_i4,
    * rank); ordering on the 1e4-scaled cosine with id tie-break keeps the
    * result engine-portable. */
  def bruteTopK(emb: DataFrame, queryPred: Column, k: Int = 5): DataFrame = {
    val withNorm = emb.select(col("vec_id"), col("embedding"),
      dot(col("embedding"), col("embedding")).as("nrm"))
    val q = withNorm.filter(queryPred)
      .select(col("vec_id").as("query_id"), col("embedding").as("qe"),
        col("nrm").as("qn"))
    val c = withNorm.select(col("vec_id").as("neighbor_id"),
      col("embedding").as("ce"), col("nrm").as("cn"))
    // multiply-before-divide ((1e4*dot)/norms) for oracle-SQL bit parity
    val scored = q.join(c, col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        round(lit(10000.0) * dot(col("qe"), col("ce")) /
          (sqrt(col("qn")) * sqrt(col("cn"))))
          .cast("long").as("cos_i4"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos_i4").desc, col("neighbor_id").asc)
    scored.withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
  }

  /** Embedding dimensionality probe (one-row action; the matrix of plane
    * literals must be sized before planning). */
  private def dimOf(emb: DataFrame): Int =
    emb.select(size(col("embedding"))).head().getInt(0)

  /** (vec_id, bucket): sign-LSH bucket of each embedding under `bits`
    * deterministic hyperplanes. The planes are FLOAT LITERALS from
    * [[graft.functions.Planes]] baked into the plan, and each sign test is
    * a codegen'd FloatDot against them — the identical double sequence is
    * expressible in the DuckDB oracle, so bucket assignments are
    * verifiable cross-engine (and reproducible across runs/partitions). */
  def lshBuckets(emb: DataFrame, bits: Int = 12, seed: Long = 42L): DataFrame = {
    val bucket = bucketExpr(bits, dimOf(emb), seed)
    emb.select(col("vec_id"), bucket.as("bucket"))
  }

  private def bucketExpr(bits: Int, dim: Int, seed: Long): Column = {
    val planes = graft.functions.Planes.matrix(bits, dim, seed)
    (0 until bits).map { p =>
      when(dot(col("embedding"), typedLit(planes(p).toSeq)) > 0,
        lit(1L << p)).otherwise(lit(0L))
    }.reduce(_ + _)
  }

  /** (vec_id, tbl, bucket) for `tables` independent plane sets (table t
    * seeded seed + t), computed in ONE pass over the embeddings — a
    * per-table union would rescan and re-dot the corpus `tables` times. */
  def lshBucketsMulti(emb: DataFrame, bits: Int, tables: Int,
      seed: Long = 42L): DataFrame = {
    val dim = dimOf(emb)
    val perTable = (0 until tables).map { t =>
      struct(lit(t).as("tbl"), bucketExpr(bits, dim, seed + t).as("bucket"))
    }
    emb.select(col("vec_id"), explode(array(perTable: _*)).as("tb"))
      .select(col("vec_id"), col("tb.tbl").as("tbl"),
        col("tb.bucket").as("bucket"))
  }

  /** LSH-bucketed near-duplicate pairs: candidates share a bucket, then
    * exact cosine ≥ threshold. Lower `bits` → higher recall, bigger
    * buckets. Recall vs the quadratic baseline is probabilistic (tested);
    * precision is exact (cosine re-verified). */
  def lshNearDup(emb: DataFrame, threshold: Double = 0.3, bits: Int = 8,
      seed: Long = 42L): DataFrame = {
    val buckets = lshBuckets(emb, bits, seed)
    val withNorm = emb.select(col("vec_id"), col("embedding"),
      dot(col("embedding"), col("embedding")).as("nrm"))
      .join(buckets, "vec_id")
    val a = withNorm.select(col("bucket"), col("vec_id").as("a"),
      col("embedding").as("ea"), col("nrm").as("na"))
    val b = withNorm.select(col("bucket"), col("vec_id").as("b"),
      col("embedding").as("eb"), col("nrm").as("nb"))
    // each vector lives in exactly one bucket, so pairs are already unique
    a.join(b, "bucket").filter(col("a") < col("b"))
      .select(col("a"), col("b"),
        round(lit(10000.0) * cosine(col("ea"), col("na"), col("eb"), col("nb")))
          .cast("long").as("cos_i4"))
      .filter(col("cos_i4") >= math.round(threshold * 10000))
  }

  /** Approximate-nearest-neighbor top-k — the 100 TB shape of
    * [[bruteTopK]]: instead of scanning the corpus per query, the corpus
    * is bucketed ONCE per hash table and each query probes its own bucket
    * plus all Hamming-1 neighbors (multi-probe) in each of `tables`
    * independent plane sets, then exact cosine re-ranks the candidate
    * union. Recall ≈ 1 − (1 − (q^b + b·q^(b−1)(1−q)))^T for per-bit
    * agreement q — tunable via (bits, tables) as the corpus grows (larger
    * bits → smaller buckets, more tables/probes → recall back up).
    * Output (query_id, neighbor_id, cos_i4, rank); recall vs bruteTopK is
    * spec-tested, and the whole pipeline is SQL-expressible (the planes
    * are shared float literals), so the driver oracle verifies it. */
  def annTopK(emb: DataFrame, queryPred: Column, k: Int = 5, bits: Int = 4,
      tables: Int = 4, seed: Long = 42L,
      index: Option[DataFrame] = None): DataFrame = {
    // `index` is a prebuilt [[lshBucketsMulti]] frame: the corpus-side
    // bucket index is query-independent, so callers serving many top-k
    // queries build (and persist/checkpoint) it ONCE per (corpus, bits,
    // tables, seed) instead of re-bucketing the corpus per invocation —
    // the ANN analog of building the IVF index offline.
    val bucketsAll = index.getOrElse(lshBucketsMulti(emb, bits, tables, seed))
    // probe masks: the bucket itself + each single-bit flip
    val masks = array((0L +: (0 until bits).map(j => 1L << j)).map(lit): _*)
    val qProbes = bucketsAll
      .join(emb.filter(queryPred).select("vec_id"), "vec_id")
      .select(col("vec_id").as("query_id"), col("tbl"),
        explode(masks).as("mask"), col("bucket"))
      .select(col("query_id"), col("tbl"),
        col("bucket").bitwiseXOR(col("mask")).as("bucket"))
    val cand = qProbes
      .join(bucketsAll.select(col("vec_id").as("neighbor_id"), col("tbl"),
        col("bucket")), Seq("tbl", "bucket"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .select("query_id", "neighbor_id").distinct()
    val withNorm = emb.select(col("vec_id"), col("embedding"),
      dot(col("embedding"), col("embedding")).as("nrm"))
    val q = withNorm.select(col("vec_id").as("query_id"),
      col("embedding").as("qe"), col("nrm").as("qn"))
    val c = withNorm.select(col("vec_id").as("neighbor_id"),
      col("embedding").as("ce"), col("nrm").as("cn"))
    val scored = cand.join(q, "query_id").join(c, "neighbor_id")
      .select(col("query_id"), col("neighbor_id"),
        round(lit(10000.0) * dot(col("qe"), col("ce")) /
          (sqrt(col("qn")) * sqrt(col("cn"))))
          .cast("long").as("cos_i4"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos_i4").desc, col("neighbor_id").asc)
    scored.withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
  }
}
