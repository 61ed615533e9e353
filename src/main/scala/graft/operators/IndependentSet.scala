package graft.operators

import graft.exec.Materialize
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/**
 * Maximal independent set — the reference's `independentset` Lonestar app
 * (lonestar/analytics/cpu/independentset/, 744 LoC; SURVEY.md §2.6), as
 * DETERMINISTIC Luby rounds: a remaining vertex joins the set when its
 * (hash, id) priority beats every remaining neighbor's; winners plus
 * their neighbors leave the remaining set. The hash is the same
 * engine-neutral integer polynomial as [[GraphOps.permuteRandom]], so
 * rounds are reproducible and the unrolled SQL oracle matches exactly.
 * Input must be a symmetric edge table (independence is undirected).
 *
 * Each round is two joins over the shrinking remaining subgraph —
 * O(E_remaining); power-law graphs drain in a handful of rounds.
 */
object IndependentSet {

  /** (hash, id)-lexicographic priority; h as in permuteRandom. */
  private def h(id: Column): Column =
    pmod((id % lit(1000003L)) * lit(2654435761L) + id, lit(4294967296L))

  /** One Luby round: (winners — eagerly materialized, next remaining —
    * lazy so the caller can attach an observation). */
  private def round(symEdges: DataFrame,
      remaining: DataFrame): (DataFrame, DataFrame) = {
    val re = symEdges
      .join(remaining.withColumnRenamed("id", "src"), Seq("src"), "left_semi")
      .join(remaining.withColumnRenamed("id", "dst"), Seq("dst"), "left_semi")
    // losers: have a remaining neighbor with a smaller (hash, id)
    val losers = re
      .filter(h(col("dst")) < h(col("src")) ||
        (h(col("dst")) === h(col("src")) && col("dst") < col("src")))
      .select(col("src").as("id")).distinct()
    val winners = Materialize(remaining.join(losers, Seq("id"), "left_anti"))
    val neighbors = symEdges
      .join(winners.withColumnRenamed("id", "src"), Seq("src"), "left_semi")
      .select(col("dst").as("id")).distinct()
    val next = remaining
      .join(winners, Seq("id"), "left_anti")
      .join(neighbors, Seq("id"), "left_anti")
    (winners, next)
  }

  /** At most `maxRounds` Luby rounds: (the set built so far as (id)
    * rows, rounds run). A drained remaining set is a fixpoint: every
    * further round is the identity, so the loop stops there and the set
    * is maximal (spec-checked); a bound below that keeps the oracle's
    * unroll exact. The remaining count rides each materializing pass,
    * the start state's included. */
  def run(symEdges: DataFrame, maxRounds: Int = 1000): (DataFrame, Int) = {
    val spark = symEdges.sparkSession
    import spark.implicits._
    val start = Materialize.observed(GraphOps.vertices(symEdges),
      count(lit(1)).as("n"))
    var remaining = start.df
    var left = start.long("n")
    var rounds = 0
    var mis = Seq.empty[Long].toDF("id")
    while (left > 0 && rounds < maxRounds) {
      val (winners, next) = round(symEdges, remaining)
      mis = mis.unionAll(winners)
      val o = Materialize.observed(next, count(lit(1)).as("n"))
      remaining = o.df
      left = o.long("n")
      rounds += 1
    }
    (mis, rounds)
  }
}
