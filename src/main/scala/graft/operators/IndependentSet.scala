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
    val winners = remaining.join(losers, Seq("id"), "left_anti")
      .localCheckpoint(true)
    val neighbors = symEdges
      .join(winners.withColumnRenamed("id", "src"), Seq("src"), "left_semi")
      .select(col("dst").as("id")).distinct()
    val next = remaining
      .join(winners, Seq("id"), "left_anti")
      .join(neighbors, Seq("id"), "left_anti")
    (winners, next)
  }

  /** Exactly `rounds` Luby rounds (the SQL-oracle kernel): the set built
    * so far, (id) rows. Maximality holds once the remaining set drains
    * (spec-checked via [[run]]); fixed rounds keep the oracle unroll
    * exact either way. */
  def fixedRounds(symEdges: DataFrame, rounds: Int): DataFrame = {
    val spark = symEdges.sparkSession
    import spark.implicits._
    var remaining = GraphOps.vertices(symEdges).localCheckpoint(true)
    var mis = Seq.empty[Long].toDF("id")
    var drained = false
    for (_ <- 1 to rounds if !drained) {
      val (winners, next) = round(symEdges, remaining)
      mis = mis.unionAll(winners)
      // a drained remaining set makes every later round a no-op — skip
      // them (the observe rides the materializing pass; result equals
      // the full unroll)
      val o = Materialize.observed(next, count(lit(1)).as("n"))
      remaining = o.df
      drained = o.long("n") == 0L
    }
    mis
  }

  /** Luby to a drained remaining set: (the maximal set, rounds). */
  def run(symEdges: DataFrame, maxIter: Int = 1000): (DataFrame, Int) = {
    val spark = symEdges.sparkSession
    import spark.implicits._
    var remaining = GraphOps.vertices(symEdges).localCheckpoint(true)
    var left = remaining.count()
    var rounds = 0
    var mis = Seq.empty[Long].toDF("id")
    while (left > 0 && rounds < maxIter) {
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
