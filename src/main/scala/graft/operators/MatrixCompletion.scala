package graft.operators

import graft.exec.Materialize
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/**
 * Matrix completion over a bipartite weighted (user, item, rating) graph
 * — the reference's matrixcompletion app
 * (lonestar/analytics/cpu/matrixcompletion/matrixCompletion.cpp:1-1534:
 * per-edge SGD on latent vectors with a scheduled edge order).
 *
 * BSP re-shaping: per-edge sequential SGD is order-dependent and cannot
 * be replayed bulk-synchronously, so the engine runs FULL-BATCH
 * alternating gradient rounds (the "ALSGraph"-style variant the same
 * file ships as an option): odd rounds update every user factor from all
 * its incident errors at once, even rounds every item factor — each
 * round one join + one grouped aggregate, the exact gather-scatter shape
 * of the PageRank superstep.
 *
 * Determinism/oracle parity: all arithmetic is int64 FIXED-POINT
 * (scale S = 128). A float SGD can never hash-match DuckDB; this one
 * does. Division is floor(double quotient) on both sides — exact while
 * |numerator| < 2^52, guaranteed by the magnitude bounds below (factors
 * stay < 2^10, per-vertex sums < 2^40 even at 10^6 ratings/vertex).
 *
 * Latent dimension D = 4, unrolled as columns f0..f3 so every update is
 * a codegen'd column expression (no arrays, no UDFs); learning rate 1/8,
 * gradient averaged per vertex (÷deg) so hub users and 1-rating users
 * take comparably-sized steps.
 *
 * Scale path: `ratings` is persisted pre-partitioned on `u` — the odd-
 * round gather reuses that exchange; the even-round gather shuffles on
 * `i` (at 100 TB you would bucket the table both ways on disk and read
 * whichever orientation the round needs — same trick as Adjacency's
 * src/dst block tables).
 */
object MatrixCompletion {

  val D = 4
  val S = 128L         // fixed-point scale
  private val LR = 8L  // learning rate 1/LR

  private def fcols = (0 until D).map(k => s"f$k")

  /** Deterministic init: f_k(id) = (((id*a + k*b) % 9) - 4) * 16 — i.e.
    * multiples of 1/8 in [-1/2, 1/2] at scale S. Different salts keep
    * user and item spaces from mirroring each other. */
  private def initFactors(ids: DataFrame, a: Long, b: Long): DataFrame =
    ids.select(col("id") +:
      (0 until D).map(k =>
        (((col("id") * a + lit(k.toLong * b)) % 9 - 4) * 16)
          .cast("long").as(s"f$k")): _*)

  private def floorDiv(num: Column, den: Column): Column =
    floor(num.cast("double") / den.cast("double")).cast("long")

  /** `rounds` alternating full-batch rounds over ratings (u, i, r).
    * Returns (userFactors (u, f0..f3), itemFactors (i, f0..f3),
    * ssePerRound) where sse(t) is the S²-scaled squared error of the
    * state BEFORE round t (t = 1..rounds+1; last = final state). */
  def run(ratings: DataFrame, rounds: Int)
      : (DataFrame, DataFrame, Seq[Long]) = {
    val rat = ratings.select(col("u"), col("i"), col("r"))
      .repartition(col("u"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    var uf = initFactors(rat.select(col("u").as("id")).distinct(), 31L, 17L)
      .transform(Materialize(_))
    var vf = initFactors(rat.select(col("i").as("id")).distinct(), 37L, 23L)
      .transform(Materialize(_))

    // (err, v-columns or u-columns) per rating under the current state
    def errs: DataFrame = {
      val u = uf.toDF("u" +: fcols.map("u" + _): _*)
      val v = vf.toDF("i" +: fcols.map("v" + _): _*)
      val dot = (0 until D).map(k => col(s"uf$k") * col(s"vf$k"))
        .reduce(_ + _)
      rat.join(u.withColumnRenamed("u", "uu"), col("u") === col("uu"))
        .join(v.withColumnRenamed("i", "ii"), col("i") === col("ii"))
        .select(col("u") +: col("i") +: col("r") +:
          (fcols.map(f => col("u" + f).as("uf" + f.drop(1))) ++
           fcols.map(f => col("v" + f).as("vf" + f.drop(1)))): _*)
        .withColumn("err", col("r") * S - floorDiv(dot, lit(S)))
    }

    val sse = scala.collection.mutable.ArrayBuffer.empty[Long]
    for (t <- 1 to rounds) {
      // the round's sse rides the checkpoint's materializing pass
      // (Dataset.observe) instead of a second scan of the cached frame
      val o = Materialize.observed(errs,
        sum(col("err") * col("err")).as("sse"))
      val e = o.df
      sse += o.long("sse")
      if (t % 2 == 1) {
        // gather into users: u_k += floor(Σ err·v_k / (S·LR·deg))
        val aggs = count(lit(1)).as("deg") +:
          (0 until D).map(k => sum(col("err") * col(s"vf$k")).as(s"g$k"))
        val g = e.groupBy(col("u").as("id"))
          .agg(aggs.head, aggs.tail: _*)
        uf = uf.join(g, "id")
          .select(col("id") +:
            (0 until D).map(k =>
              (col(s"f$k") +
                floorDiv(col(s"g$k"), lit(S * LR) * col("deg")))
                .as(s"f$k")): _*)
          .transform(Materialize(_))
      } else {
        val aggs = count(lit(1)).as("deg") +:
          (0 until D).map(k => sum(col("err") * col(s"uf$k")).as(s"g$k"))
        val g = e.groupBy(col("i").as("id"))
          .agg(aggs.head, aggs.tail: _*)
        vf = vf.join(g, "id")
          .select(col("id") +:
            (0 until D).map(k =>
              (col(s"f$k") +
                floorDiv(col(s"g$k"), lit(S * LR) * col("deg")))
                .as(s"f$k")): _*)
          .transform(Materialize(_))
      }
    }
    sse += errs.agg(sum(col("err") * col("err"))).first().getLong(0)
    rat.unpersist()
    (uf, vf, sse.toSeq)
  }
}
