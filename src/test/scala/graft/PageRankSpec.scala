package graft

import graft.operators.{Adjacency, GraphOps, PageRank}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class PageRankSpec extends AnyFunSuite {
  import TestSpark._

  private def ranksOf(df: org.apache.spark.sql.DataFrame): Map[Long, Double] =
    df.collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap

  test("pull-topo matches the dense oracle allclose 1e-6 at convergence") {
    val res = PageRank.runTopo(web.adjacency, tol = 1e-6, maxIter = 1000)
    assert(res.converged)
    val (oracle, oIters) = TestOracles.pagerankTopo(edgeArray, vertexIds,
      tol = 1e-6)
    assert(res.iterations == oIters,
      s"engine ${res.iterations} vs oracle $oIters iterations")
    val engine = ranksOf(res.ranks)
    assert(engine.keySet == oracle.keySet)
    val maxDiff = engine.map { case (id, v) => math.abs(v - oracle(id)) }.max
    assert(maxDiff <= 1e-6, s"max |engine-oracle| = $maxDiff")
    // per-iteration metrics recorded (the -statFile analog)
    assert(res.metrics.length == res.iterations)
    assert(res.metrics.forall(_.edgesProcessed == web.adjacency.numEdges))
  }

  // 0 and 7 have no in-edges, 5 and 8 no out-edges, 6 and 9 no edges at
  // all (present only through explicitVertices); 0 is a hub that spans
  // several blocks at blockSize 2.
  private val oddEdges = Seq((0L, 1L), (0L, 2L), (0L, 3L), (0L, 5L),
    (1L, 2L), (2L, 3L), (3L, 1L), (3L, 5L), (4L, 2L), (2L, 4L), (7L, 4L),
    (7L, 8L))
  private val oddIds = (0L to 9L).toArray
  private lazy val oddAdj = {
    import spark.implicits._
    Adjacency.build(df(oddEdges), blockSize = 2, numPartitions = 3,
      explicitVertices = Some(oddIds.toSeq.toDF("id")))
  }
  private def oracleAfter(k: Int): Map[Long, Double] =
    TestOracles.pagerankTopo(oddEdges.toArray, oddIds, tol = -1.0,
      maxIter = k)._1

  test("each superstep's residual is the oracle's consecutive-superstep L1") {
    val steps = 12
    val oracleL1 = (1 to steps).map { k =>
      val (a, b) = (oracleAfter(k - 1), oracleAfter(k))
      oddIds.map(id => math.abs(b(id) - a(id))).sum
    }
    val res = PageRank.runTopo(oddAdj, tol = 0.0, maxIter = steps)
    assert(res.metrics.map(_.superstep) == (1 to steps))
    res.metrics.foreach { m =>
      val want = oracleL1(m.superstep - 1)
      assert(math.abs(m.l1Residual - want) <= 1e-12 * want,
        s"superstep ${m.superstep}: ${m.l1Residual} vs oracle $want")
    }
    val got = ranksOf(res.ranks)
    val want = oracleAfter(steps)
    assert(got.keySet == oddIds.toSet)
    oddIds.foreach(id => assert(math.abs(got(id) - want(id)) <= 1e-15,
      s"vertex $id: ${got(id)} vs ${want(id)}"))
  }

  test("fixed mode across the 8-step chain boundary equals the oracle") {
    val got = ranksOf(PageRank.topoFixed(oddAdj, 10))
    val want = oracleAfter(10)
    assert(got.keySet == oddIds.toSet)
    oddIds.foreach(id => assert(math.abs(got(id) - want(id)) <= 1e-15,
      s"vertex $id: ${got(id)} vs ${want(id)}"))
    // zero-in-degree and isolated vertices sit at the bare base rank
    val base = (1.0 - PageRank.Alpha) / oddIds.length
    Seq(0L, 6L, 7L, 9L).foreach(id => assert(got(id) == base))
  }

  test("dangling mass is lost (reference semantics): sum(rank) < 1") {
    val res = PageRank.runTopo(web.adjacency, tol = 1e-4)
    val s = res.ranks.agg(sum("value")).first().getDouble(0)
    assert(s < 1.0 && s > 0.2, s"rank sum $s")
  }

  test("source vertices have rank (1-alpha)/N after one iteration") {
    val one = PageRank.topoFixed(web.adjacency, 1)
    val indeg = edgeArray.map(_._2).toSet
    val base = 0.15 / web.adjacency.numVertices
    ranksOf(one).foreach { case (id, v) =>
      if (!indeg.contains(id)) assert(math.abs(v - base) < 1e-15)
    }
  }

  test("push-sync converges to N x pull-topo fixpoint") {
    val push = PageRank.runPush(web.adjacency, tol = 1e-7, maxIter = 2000)
    assert(push.converged)
    val (oracle, _) = TestOracles.pagerankTopo(edgeArray, vertexIds, tol = 1e-12)
    val n = web.adjacency.numVertices.toDouble
    val engine = ranksOf(push.ranks)
    val maxDiff = engine.map { case (id, v) =>
      math.abs(v / n - oracle(id)) }.max
    assert(maxDiff <= 1e-6, s"max |push/N - oracle| = $maxDiff")
  }

  test("pull-residual (reference default) converges to N x pull-topo fixpoint") {
    val res = PageRank.runResidual(web.adjacency, tol = 1e-9, maxIter = 5000)
    assert(res.converged)
    val (oracle, _) = TestOracles.pagerankTopo(edgeArray, vertexIds, tol = 1e-12)
    val n = web.adjacency.numVertices.toDouble
    val engine = ranksOf(res.ranks)
    val maxDiff = engine.map { case (id, v) =>
      math.abs(v / n - oracle(id)) }.max
    assert(maxDiff <= 1e-6, s"max |residual/N - oracle| = $maxDiff")
    // the frontier SHRINKS as vertices converge (the point of the variant)
    assert(res.metrics.last.l1Residual < res.metrics.head.l1Residual)
  }

  test("top-k uses reference tie-break (value desc, id asc)") {
    val ranks = df(Seq((1L, 2L), (3L, 2L), (4L, 5L)))
    // build tiny state manually: ids with equal values
    import spark.implicits._
    val state = Seq((1L, 0.5), (2L, 0.5), (3L, 0.1)).toDF("id", "value")
    val top = PageRank.topK(state, 2).collect().map(_.getLong(0)).toSeq
    assert(top == Seq(1L, 2L))
  }

  test("results are invariant to partitioning and block size") {
    val a = graft.operators.Adjacency.build(web.edges, blockSize = 16,
      numPartitions = 2, explicitVertices = Some(web.dict.select(col("id"))))
    val b = graft.operators.Adjacency.build(web.edges, blockSize = 1024,
      numPartitions = 7, explicitVertices = Some(web.dict.select(col("id"))))
    val ra = ranksOf(PageRank.topoFixed(a, 5))
    val rb = ranksOf(PageRank.topoFixed(b, 5))
    val maxDiff = ra.map { case (id, v) => math.abs(v - rb(id)) }.max
    assert(maxDiff <= 1e-12, s"partitioning changed results by $maxDiff")
    a.unpersist(); b.unpersist()
  }

  test("sanity aggregates") {
    val res = PageRank.runTopo(web.adjacency, tol = 1e-4)
    val r = PageRank.sanity(res.ranks).first()
    assert(r.getDouble(0) >= r.getDouble(1)) // max >= min
    assert(r.getDouble(2) > 0)
  }
}
