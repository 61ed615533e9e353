package graft.operators

import graft.exec.Materialize
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/**
 * Maximal matching — the reference's `matching` Lonestar app
 * (lonestar/analytics/cpu/matching/, 1222 LoC; SURVEY.md §2.6), as
 * deterministic Luby-style rounds on EDGES: a remaining edge enters the
 * matching when its (hash, src, dst) priority beats every remaining edge
 * sharing an endpoint; both endpoints of matched edges then leave. The
 * hash is a plain integer polynomial, so rounds are reproducible and the
 * unrolled SQL oracle matches exactly. Works on the upper-oriented
 * undirected edge set (one row per edge).
 *
 * "Beats every adjacent edge" is evaluated WITHOUT an edge-to-edge
 * self-join (which is Σ deg² rows — quadratic at hubs): an edge wins iff
 * its priority equals the MIN priority at BOTH endpoints, so each round
 * is one endpoint explode + one grouped struct-min + two equi-joins,
 * O(E_remaining) flat. Priorities are unique (they embed (src, dst)), so
 * the min test is exactly the strictly-beats-all-neighbors test.
 */
object Matching {

  /** Engine-neutral edge priority hash (mirrored in the SQL oracle). */
  private def h(src: Column, dst: Column): Column =
    pmod((src % lit(1000003L)) * lit(1000033L) + (dst % lit(1000003L)),
      lit(4294967296L))

  /** One round: (winning edges — materialized, next remaining — lazy). */
  private def round(remaining: DataFrame): (DataFrame, DataFrame) = {
    val withP = remaining.select(col("src"), col("dst"),
      struct(h(col("src"), col("dst")).as("p"),
        col("src").as("s"), col("dst").as("d")).as("prio"))
    val inc = withP.select(col("prio"),
      explode(array(col("src"), col("dst"))).as("v"))
    val vmin = inc.groupBy("v").agg(min(col("prio")).as("m"))
    val winners = withP
      .join(vmin.select(col("v").as("src"), col("m").as("ms")), "src")
      .join(vmin.select(col("v").as("dst"), col("m").as("md")), "dst")
      .filter(col("prio") === col("ms") && col("prio") === col("md"))
      .select("src", "dst")
      .transform(Materialize(_))
    val matchedV = winners.select(col("src").as("id"))
      .unionAll(winners.select(col("dst").as("id"))).distinct()
    val next = remaining
      .join(matchedV.withColumnRenamed("id", "src"), Seq("src"), "left_anti")
      .join(matchedV.withColumnRenamed("id", "dst"), Seq("dst"), "left_anti")
      .select("src", "dst")
    (winners, next)
  }

  /** At most `maxRounds` rounds over an upper-canonical duplicate-free
    * edge set (src < dst, one row per undirected edge): (matched edges as
    * (src < dst), rounds run). A drained edge set is a fixpoint: every
    * further round is the identity, so the loop stops there and the
    * matching is maximal; a bound below that keeps the oracle's unroll
    * exact. The remaining count rides each materializing pass, the start
    * state's included; after the last allowed round nothing consumes the
    * remaining set, so that materialization is skipped. Callers whose
    * input is canonical by construction (Bipart's coarsening, the suite)
    * skip [[GraphOps.orientUpper]]'s symmetrize+dedup exchange. */
  def runOriented(upper: DataFrame, maxRounds: Int): (DataFrame, Int) = {
    val spark = upper.sparkSession
    import spark.implicits._
    val start = Materialize.observed(upper.select("src", "dst"),
      count(lit(1)).as("n"))
    var remaining = start.df
    var left = start.long("n")
    var rounds = 0
    var matched = Seq.empty[(Long, Long)].toDF("src", "dst")
    while (left > 0 && rounds < maxRounds) {
      val (winners, next) = round(remaining)
      matched = matched.unionAll(winners)
      rounds += 1
      if (rounds < maxRounds) {
        val o = Materialize.observed(next, count(lit(1)).as("n"))
        remaining = o.df
        left = o.long("n")
      }
    }
    (matched, rounds)
  }
}
