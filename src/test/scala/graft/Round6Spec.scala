package graft

import graft.operators.{GraphOps, Louvain, Matching, Mining, Triangles}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Round-6 optimization equivalences: the shared-state / resumed /
  * pre-oriented fast paths must produce bit-identical results to the
  * original formulations they replaced. */
class Round6Spec extends AnyFunSuite {
  import TestSpark._
  import TestSpark.spark.implicits._

  private def df(es: Seq[(Long, Long)]): DataFrame = es.toDF("src", "dst")

  // deterministic pseudo-random graph, ~30 vertices, mixed density
  private val randEdges: Seq[(Long, Long)] = (for {
    a <- 0L until 30L; b <- (a + 1) until 30L
    if ((a * 7919 + b * 104729) % 97) < 23
  } yield (a, b)).toSeq

  private def labelMap(d: DataFrame): Map[Long, Long] =
    d.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  test("louvain moveRounds resumed at round 3 == uninterrupted 3 rounds") {
    val e = GraphOps.symmetrize(df(randEdges))
    val w1 = e.select(col("src"), col("dst"), lit(1L).as("w"))
    val full = labelMap(Louvain.localMoveRoundsWeighted(w1, 3)
      .select(col("id"), col("community")))
    val two = Louvain.localMoveRoundsWeighted(w1, 2)
    val resumed = labelMap(
      Louvain.moveRounds(w1, w1, 3,
        two.withColumnRenamed("community", "c"), startRound = 3)
        .select(col("id"), col("community")))
    assert(resumed == full)
  }

  test("matching over pre-oriented canonical edges == generic path") {
    // randEdges is canonical already (a < b, one row per edge); the
    // generic path gets it with every edge also reversed and repeated
    val generic = df(randEdges ++ randEdges.map(_.swap) ++ randEdges)
    val a = Matching.runOriented(GraphOps.orientUpper(generic), 3)._1.collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val b = Matching.runOriented(df(randEdges), 3)._1.collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(a == b)
  }

  test("cycle4 ESCAPE-split form matches the quadratic diagonal count") {
    // brute force: C4 = 1/2 · Σ_{a<c non-adjacent or adjacent} C(codeg,2)
    val adj = randEdges.flatMap { case (a, b) => Seq((a, b), (b, a)) }
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
      .withDefaultValue(Set.empty[Long])
    var twice = 0L
    for (a <- 0L until 30L; c <- (a + 1) until 30L) {
      val n = (adj(a) & adj(c)).size.toLong
      twice += n * (n - 1) / 2
    }
    val sym = GraphOps.symmetrize(df(randEdges)).localCheckpoint(true)
    val deg = Triangles.symDegrees(sym).localCheckpoint(true)
    assert(Mining.cycle4Count(sym, deg) == twice / 2)
  }

  test("triangle listing via out-list intersection == wedge self-join") {
    val o = Triangles.orientByDegree(df(randEdges)).localCheckpoint(true)
    val ol = Mining.outLists(o).localCheckpoint(true)
    def rows(d: DataFrame) = d.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val a = rows(Triangles.listing(o))
    val b = rows(Triangles.listingFrom(o, ol))
    assert(a == b && a.nonEmpty)
  }

  test("kclique over a shared orientation + out-lists == generic path") {
    // the candidate-set counting kernel against the join-cascade listing
    val o = Triangles.orientByDegree(df(randEdges)).localCheckpoint(true)
    val ol = Mining.outLists(o).localCheckpoint(true)
    assert(Mining.kcliqueCount(o, 4, ol) ==
      Mining.kcliques(df(randEdges), 4).count())
    assert(Mining.kcliqueCount(o, 5, ol) ==
      Mining.kcliques(df(randEdges), 5).count())
  }
}
