package graft

import graft.exec.Materialize
import graft.operators._
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class GraphAlgoSpec extends AnyFunSuite {
  import TestSpark._

  private def labelMap(df: org.apache.spark.sql.DataFrame): Map[Long, Long] =
    df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  /** An unweighted edge table as the weighted (src, dst, w = 1) form. */
  private def unitW(e: org.apache.spark.sql.DataFrame) =
    e.select(col("src"), col("dst"), lit(1L).as("w"))

  test("connected components match union-find oracle exactly") {
    val res = ConnectedComponents.run(symAdj)
    assert(res.converged)
    val engine = labelMap(res.components)
    val oracle = TestOracles.ccUnionFind(symEdgeArray, vertexIds)
    assert(engine == oracle)
    // edge-consistency verify (the reference's own check)
    assert(ConnectedComponents.verify(web.edges, res.components))
  }

  test("component structure: isolated vertex, pair component, giant") {
    val engine = labelMap(ConnectedComponents.run(symAdj).components)
    val byComp = engine.groupBy(_._2).map { case (c, m) =>
      c -> m.keys.map(origOf).toSet }
    // {11} singleton and {12,13} pair exist as their own components
    assert(byComp.values.exists(_ == Set(11L)))
    assert(byComp.values.exists(_ == Set(12L, 13L)))
    // plus at least one large component
    assert(byComp.values.map(_.size).max > 100)
  }

  test("cc on a long path plus a clique: exact min-id labels") {
    // path of 60 vertices + a clique: a diameter far above the round
    // count pointer-jumping needs
    val path = (0L until 59L).map(i => (i, i + 1))
    val clique = for (a <- 100L to 104L; b <- (a + 1) to 104L) yield (a, b)
    val adj = Adjacency.build(GraphOps.symmetrize(df(path ++ clique)))
    val r = ConnectedComponents.run(adj)
    assert(r.converged)
    val got = r.components.collect().map(x => (x.getLong(0), x.getLong(1))).toMap
    (0L to 59L).foreach(v => assert(got(v) == 0L))
    (100L to 104L).foreach(v => assert(got(v) == 100L))
    adj.unpersist()
  }

  test("cc fixedRounds(k) matches k synchronous oracle rounds") {
    // CC's k-round form was this recurrence with `comp` for `label`
    val engine = labelMap(LabelPropagation.runMin(symAdj, 3))
    val oracle = TestOracles.lpaMin(symEdgeArray, vertexIds, 3)
    assert(engine == oracle)
  }

  test("Louvain local-move: two cliques joined by a bridge separate into " +
      "their cliques; modularity increases; deterministic") {
    // cliques {0..4} and {10..14}, one bridge 4-10
    val cl = (for (base <- Seq(0L, 10L); a <- base until base + 5;
      b <- (a + 1) until base + 5) yield (a, b)) :+ (4L, 10L)
    val e = GraphOps.symmetrize(df(cl))
    val got = Louvain.localMoveRoundsWeighted(unitW(e), 5)
    val m = labelMap(got.select(col("id"), col("community")))
    // each clique collapses to one community
    assert((0L to 4L).map(m).toSet.size == 1)
    assert((10L to 14L).map(m).toSet.size == 1)
    assert(m(0L) != m(10L))
    // modularity improved over singletons (Q_singleton < 0 always)
    import TestSpark.spark.implicits._
    val singletons = m.keys.toSeq.map(v => (v, v)).toDF("id", "community")
    assert(Louvain.modularityI4(e, got) >
      Louvain.modularityI4(e, singletons))
    // deterministic across reruns
    assert(labelMap(Louvain.localMoveRoundsWeighted(unitW(e), 5)
      .select(col("id"), col("community"))) == m)
  }

  test("Louvain two-level: coarsening conserves 2m and the community " +
      "graph pass matches/improves the flat result") {
    import TestSpark.spark.implicits._
    val cl = (for (base <- Seq(0L, 10L); a <- base until base + 5;
      b <- (a + 1) until base + 5) yield (a, b)) :+ (4L, 10L)
    val e = GraphOps.symmetrize(df(cl))
    val w1 = unitW(e)
    val l1 = Louvain.localMoveRoundsWeighted(w1, 2)
    // aggregation conserves total edge mass (2m) — self-loops included
    val coarse = Louvain.coarsen(w1, l1)
    assert(coarse.agg(sum("w")).first().getLong(0) == e.count())
    // two-level result separates the cliques like the flat run
    val two = Louvain.twoLevel(w1, Materialize(l1), 2)
    val m = labelMap(two.select(col("id"), col("community")))
    assert((0L to 4L).map(m).toSet.size == 1)
    assert((10L to 14L).map(m).toSet.size == 1)
    assert(m(0L) != m(10L))
    assert(Louvain.modularityI4(e, two) >= Louvain.modularityI4(e, l1))
  }

  test("Louvain full cluster() converges and matches the clique structure") {
    val cl = (for (base <- Seq(0L, 10L, 20L); a <- base until base + 5;
      b <- (a + 1) until base + 5) yield (a, b)) ++
      Seq((4L, 10L), (14L, 20L))
    val e = GraphOps.symmetrize(df(cl))
    val m = labelMap(Louvain.cluster(e).select(col("id"), col("community")))
    Seq(0L, 10L, 20L).foreach { base =>
      assert((base to base + 4).map(m).toSet.size == 1, s"clique $base split")
    }
    assert(Set(m(0L), m(10L), m(20L)).size == 3)
  }

  test("Leiden refinement: strict refinement of the parent partition, " +
      "modularity above singletons, disconnected communities split") {
    import TestSpark.spark.implicits._
    // two cliques with NO bridge, all vertices forced into one community:
    // the pathological badly-merged community refinement exists to split
    val cl = for (base <- Seq(0L, 10L); a <- base until base + 5;
      b <- (a + 1) until base + 5) yield (a, b)
    val e = GraphOps.symmetrize(df(cl))
    val allOne = (0L to 4L).map(v => (v, 0L)) ++ (10L to 14L).map(v => (v, 0L))
    val refined = labelMap(Leiden.refineWeighted(
      unitW(e), allOne.toDF("id", "community"), 4).select("id", "community"))
    // split: each clique one sub-community, never merged across
    assert((0L to 4L).map(refined).toSet.size == 1)
    assert((10L to 14L).map(refined).toSet.size == 1)
    assert(refined(0L) != refined(10L))
    // strict-refinement invariant on the web fixture: every refined
    // sub-community lies inside exactly one louvain community
    val sym = GraphOps.symmetrize(web.edges)
    val comm = Louvain.localMoveRoundsWeighted(unitW(sym), 2)
    val sub = Leiden.refineWeighted(unitW(sym), comm, 2)
    val parents = sub.withColumnRenamed("community", "sub")
      .join(comm, "id")
      .groupBy("sub").agg(countDistinct("community").as("np"))
      .agg(max("np")).first().getLong(0)
    assert(parents == 1L, "a sub-community crossed a parent community")
    // refinement (greedy merges from singletons) beats the singleton Q
    val singletons = vertexIds.toSeq.map(v => (v, v)).toDF("id", "community")
    assert(Louvain.modularityI4(sym, sub) >=
      Louvain.modularityI4(sym, singletons))
  }

  test("Leiden two-level and full cluster(): clique structure, " +
      "determinism, parent-seeded coarse level") {
    val cl = (for (base <- Seq(0L, 10L, 20L); a <- base until base + 5;
      b <- (a + 1) until base + 5) yield (a, b)) ++
      Seq((4L, 10L), (14L, 20L))
    val e = GraphOps.symmetrize(df(cl))
    val w1 = unitW(e)
    val comm = Materialize(Louvain.localMoveRoundsWeighted(w1, 2))
    val sub = Materialize(Leiden.refineWeighted(w1, comm, 2))
    val two = labelMap(Leiden.twoLevel(w1, comm, sub, 2)
      .select(col("id"), col("community")))
    Seq(0L, 10L, 20L).foreach { base =>
      assert((base to base + 4).map(two).toSet.size == 1,
        s"clique $base split")
    }
    val m = labelMap(Leiden.cluster(e).select(col("id"), col("community")))
    Seq(0L, 10L, 20L).foreach { base =>
      assert((base to base + 4).map(m).toSet.size == 1, s"clique $base split")
    }
    assert(Set(m(0L), m(10L), m(20L)).size == 3)
    // deterministic across reruns
    assert(labelMap(Leiden.cluster(e)
      .select(col("id"), col("community"))) == m)
  }

  test("Bipart bisection: balanced two-way split, refinement does not " +
      "worsen the cut, deterministic") {
    val canon = GraphOps.orientUpper(web.edges)
      .select(col("src"), col("dst"), lit(1L).as("w")).localCheckpoint(true)
    val parts = Bipart.bisect(web.edges, coarsenLevels = 2,
      matchRounds = 2, refineRounds = 2).localCheckpoint(true)
    val m = labelMap(parts)
    // covers every edge-covered vertex (isolated vertices never enter an
    // edge-table partitioner), both sides populated
    val covered = edgeArray.flatMap { case (a, b) => Seq(a, b) }.toSet
    assert(m.keySet == covered)
    val sizes = m.values.groupBy(identity).view.mapValues(_.size).toMap
    assert(sizes.keySet == Set(0L, 1L))
    // balance within the 10% tolerance band (plus one matched-pair grain)
    val n = covered.size
    assert(math.abs(sizes(0L) - sizes(1L)) <= n / 10 + 2,
      s"imbalanced: $sizes")
    // refinement from the projected split must not worsen the cut
    val vw = GraphOps.vertices(canon).distinct()
      .select(col("id"), lit(1L).as("wt"))
    val sym = canon.unionByName(canon.select(col("dst").as("src"),
      col("src").as("dst"), col("w")))
    val base = Bipart.initialSplit(vw)
    val refined = Bipart.refine(sym, vw, base, 2)
    assert(Bipart.cutWeight(canon, refined) <=
      Bipart.cutWeight(canon, base))
    // deterministic across reruns
    assert(labelMap(Bipart.bisect(web.edges, coarsenLevels = 2,
      matchRounds = 2, refineRounds = 2)) == m)
  }

  test("FSM: aggregate-computed MNI wedge supports equal full embedding " +
      "enumeration") {
    val got = Mining.fsmWedge(
      Materialize(GraphOps.symmetrize(web.edges)), 1L).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)) -> r.getLong(3))
      .toMap
    val brute = TestOracles.fsmWedgeBrute(edgeArray, 4)
    assert(got == brute)
    // edge patterns: support bounded by the label-class sizes and
    // symmetric patterns self-consistent
    val eg = Mining.fsmEdge(GraphOps.symmetrize(web.edges), 1L).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(eg.nonEmpty && eg.keys.forall { case (a, b) => a <= b })
  }

  test("Bipart k-way: 4 balanced parts, strict refinement of the " +
      "2-way structure, deterministic") {
    val parts = Bipart.kway(web.edges, depth = 2).localCheckpoint(true)
    val m = labelMap(parts)
    val covered = edgeArray.flatMap { case (a, b) => Seq(a, b) }.toSet
    assert(m.keySet == covered)
    val sizes = m.values.groupBy(identity).view.mapValues(_.size).toMap
    assert(sizes.keySet == Set(0L, 1L, 2L, 3L), s"parts: ${sizes.keySet}")
    // each pair (0,1) and (2,3) splits one level-1 side: per-pair balance
    // within tolerance, and global 4-way spread is sane
    val n = covered.size
    assert(math.abs(sizes(0L) - sizes(1L)) <= n / 8 + 2, s"pair0: $sizes")
    assert(math.abs(sizes(2L) - sizes(3L)) <= n / 8 + 2, s"pair1: $sizes")
    // bit-append labeling: part/2 of the 4-way equals the 2-way side
    // computed by the same first level
    assert(labelMap(Bipart.kway(web.edges, depth = 1)) ==
      m.view.mapValues(_ / 2).toMap)
    // deterministic
    assert(labelMap(Bipart.kway(web.edges, depth = 2)) == m)
  }

  test("Preflow-push: lock-step supersteps reach the Edmonds-Karp max " +
      "flow on a known network and on a fixture subgraph") {
    import TestSpark.spark.implicits._
    // classic CLRS-style network, max flow 23
    val net = Seq((0L, 1L, 16L), (0L, 2L, 13L), (1L, 2L, 10L),
      (2L, 1L, 4L), (1L, 3L, 12L), (3L, 2L, 9L), (2L, 4L, 14L),
      (4L, 3L, 7L), (3L, 5L, 20L), (4L, 5L, 4L))
    assert(TestOracles.maxFlowEk(net, 0L, 5L) == 23L)
    val (state, rounds) = PreflowPush.run(net.toDF("u", "v", "cap"), 0L, 5L)
    val ex = labelMap(state.select("id", "ex"))
    assert(ex(5L) == 23L)
    assert(rounds == 12)
    // flow conservation at the fixpoint: only s and t hold excess
    assert(ex.forall { case (v, x) => v == 0L || v == 5L || x == 0L }, ex)
    // deterministic capacities over a fixture subgraph, engine == oracle;
    // t is the vertex with the largest flow from s, so the case cannot
    // pass on a zero flow
    val sub = edgeArray.take(60).map { case (a, b) =>
      (a, b, 1L + (a * 7 + b * 13) % 9)
    }
    val ids = sub.flatMap(e => Seq(e._1, e._2)).distinct.sorted
    val s = ids.head
    val (t, flow) =
      ids.tail.map(t => t -> TestOracles.maxFlowEk(sub.toSeq, s, t)).maxBy(_._2)
    assert(flow > 0L)
    val (subState, _) = PreflowPush.run(sub.toSeq.toDF("u", "v", "cap"), s, t)
    assert(labelMap(subState.select("id", "ex"))(t) == flow)
  }

  test("Points-to: BSP semi-naive rounds match the sequential Andersen " +
      "fixpoint") {
    import TestSpark.spark.implicits._
    // a DENSER split than TpchGraph.ptaConstraints (%4 classes, %3
    // seeds) so the small fixture still grows a non-trivial closure
    val es = edgeArray.take(300)
    val vs = es.flatMap { case (a, b) => Seq(a, b) }.distinct
    val ao = vs.filter(_ % 3 == 0).map(v => (v, v + 1000000L)).toSeq
    val cp = es.filter { case (a, b) => (a + b) % 4 == 0 }.toSeq
    val ld = es.filter { case (a, b) => (a + b) % 4 == 1 }.toSeq
    val st = es.filter { case (a, b) => (a + b) % 4 == 2 }.toSeq
    val oracle = TestOracles.andersen(ao, cp, ld, st)
    def toMapSet(rows: Array[org.apache.spark.sql.Row]) =
      rows.map(r => (r.getLong(0), r.getLong(1)))
        .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val (pts, rounds) = PointsTo.run(ao.toDF("var", "obj"),
      cp.toDF("src", "dst"), ld.toDF("q", "p"), st.toDF("q", "p"))
    assert(toMapSet(pts.collect()) == oracle)
    // three rounds derive new facts; the fourth finds Δpts empty
    assert(rounds == 4)
  }

  test("Matrix completion: alternating fixed-point rounds reduce SSE " +
      "and stay deterministic") {
    import TestSpark.spark.implicits._
    // near-rank-1 bipartite ratings with holes
    val ratings = (for (u <- 1L to 20L; i <- 101L to 112L
      if (u + i) % 3 != 0) yield (u, i, (u * i) % 5 + 1)).toDF("u", "i", "r")
    val (uf, vf, sse) = MatrixCompletion.run(ratings, 4)
    assert(sse.size == 5)
    // full-batch averaged gradient with lr=1/8: the trace must come down
    assert(sse.last < sse.head,
      s"SSE did not decrease: $sse")
    // fixed-point magnitudes stay bounded (the int64-overflow headroom
    // argument in the scaladoc)
    val maxAbs = uf.unionByName(vf).agg(max(greatest(
      abs(col("f0")), abs(col("f1")), abs(col("f2")), abs(col("f3")))))
      .first().getLong(0)
    assert(maxAbs < 4096L, s"factors blew up: $maxAbs")
    // deterministic across reruns
    val (_, _, sse2) = MatrixCompletion.run(ratings, 4)
    assert(sse == sse2)
  }

  test("LPA min-combine over directed edges matches oracle") {
    val engine = labelMap(LabelPropagation.runMin(web.adjacency, 4))
    val oracle = TestOracles.lpaMin(edgeArray, vertexIds, 4)
    assert(engine == oracle)
  }

  test("LPA mode-combine matches oracle (deterministic ties)") {
    val engine = labelMap(LabelPropagation.runMode(web.adjacency, 2))
    val oracle = TestOracles.lpaMode(edgeArray, vertexIds, 2)
    assert(engine == oracle)
  }

  test("LPA to fixpoint equals CC labels on a symmetric graph") {
    val fix = labelMap(LabelPropagation.runMin(symAdj, k = -1))
    val cc = labelMap(ConnectedComponents.run(symAdj).components)
    assert(fix == cc)
  }

  test("triangle count matches brute-force oracle on the web graph") {
    assert(triFrames(web.edges)._3.count() ==
      TestOracles.triangles(edgeArray))
  }

  test("triangle count on canonical shapes") {
    def triCount(e: Seq[(Long, Long)]): Long = triFrames(df(e))._3.count()
    assert(triCount(Seq((1L, 2L), (2L, 3L), (3L, 1L))) == 1L)
    val k4 = for (a <- 1L to 4L; b <- 1L to 4L if a < b) yield (a, b)
    assert(triCount(k4) == 4L)
    val star = (2L to 9L).map(i => (1L, i))
    assert(triCount(star) == 0L)
    // a directed 3-cycle IS a triangle after symmetrization; a directed
    // 4-cycle is not
    assert(triCount(Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 1L))) == 0L)
  }

  test("triangle count is invariant under relabeling") {
    val base = TestOracles.triangles(edgeArray)
    val relabeled = edgeArray.map { case (a, b) => (9999L - a, 9999L - b) }
    assert(TestOracles.triangles(relabeled) == base)
    assert(triFrames(df(relabeled.toSeq))._3.count() == base)
  }

  test("per-vertex triangle credit sums to 3x count") {
    val pv = Triangles.perVertex(triFrames(web.edges)._3,
      GraphOps.vertices(web.edges))
    val total = pv.agg(sum("triangles")).first().getLong(0)
    assert(total == 3 * TestOracles.triangles(edgeArray))
  }

  test("graph ops: clean/symmetrize/orient/degrees invariants") {
    val e = df(Seq((1L, 1L), (1L, 2L), (1L, 2L), (2L, 1L), (2L, 3L)))
    val cleaned = GraphOps.clean(e).collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(cleaned == Set((1L, 2L), (2L, 1L), (2L, 3L)))
    val sym = GraphOps.symmetrize(GraphOps.clean(e)).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(sym == Set((1L, 2L), (2L, 1L), (2L, 3L), (3L, 2L)))
    val ori = GraphOps.orientUpper(e).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(ori == Set((1L, 2L), (2L, 3L)))
    val degs = GraphOps.degrees(GraphOps.clean(e)).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(degs == Set((1L, 1L, 1L), (2L, 2L, 1L), (3L, 0L, 1L)))
  }

  test("relabelByDegree assigns dense ranks by degree desc, id asc") {
    val e = df(Seq((1L, 2L), (1L, 3L), (2L, 3L), (4L, 1L)))
    val m = labelMap(GraphOps.relabelByDegree(e))
    // degrees: 1 -> 3, 2 -> 2, 3 -> 2, 4 -> 1
    assert(m == Map(1L -> 0L, 2L -> 1L, 3L -> 2L, 4L -> 3L))
  }

  test("BFS: fixpoint equals fixed-k at saturation and a hand BFS oracle") {
    val e = df(Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (1L, 6L),
      (6L, 4L), (7L, 1L)))
    val adj = Adjacency.build(GraphOps.clean(e))
    val (reached, rounds) = Bfs.run(adj, source = 1L)
    val got = labelMap(reached)
    // hand BFS from 1 over the directed edges above
    assert(got == Map(1L -> 0L, 2L -> 1L, 6L -> 1L, 3L -> 2L, 4L -> 2L,
      5L -> 3L))
    assert(rounds == 4)
    val fixed = labelMap(Bfs.run(adj, 1L, 10)._1)
    assert(fixed == got)
    adj.unpersist()
  }

  test("BFS bounded below the fixpoint equals a hand k-round result") {
    // path 1 -> 2 -> 3 -> 4 -> 5: one new vertex per round
    val adj = Adjacency.build(GraphOps.clean(df(Seq((1L, 2L), (2L, 3L),
      (3L, 4L), (4L, 5L)))))
    val (reached, rounds) = Bfs.run(adj, 1L, 2)
    assert(labelMap(reached) == Map(1L -> 0L, 2L -> 1L, 3L -> 2L))
    assert(rounds == 2)
    adj.unpersist()
  }

  test("k-core peel matches a hand oracle and fixed-rounds at saturation") {
    // triangle {1,2,3} + tail 3-4-5: 2-core = the triangle
    val e = GraphOps.symmetrize(df(Seq((1L, 2L), (2L, 3L), (1L, 3L),
      (3L, 4L), (4L, 5L))))
    val (core, rounds) = KCore.run(e, k = 2)
    val got = labelMap(core)
    assert(got == Map(1L -> 2L, 2L -> 2L, 3L -> 2L))
    assert(rounds == 3)
    assert(labelMap(KCore.run(e, 2, 10)._1) == got)
    // k higher than any degree empties the graph
    val (none, r10) = KCore.run(e, k = 10)
    assert(none.isEmpty)
    assert(r10 == 1)
  }

  test("k-core bounded below the fixpoint equals a hand k-round result") {
    // triangle {1,2,3} + tail 3-4-5-6-7: the 2-core peels one tail
    // vertex per round (7, then 6, ...) and reaches its fixpoint in 5
    val e = GraphOps.symmetrize(df(Seq((1L, 2L), (2L, 3L), (1L, 3L),
      (3L, 4L), (4L, 5L), (5L, 6L), (6L, 7L))))
    val (two, rounds) = KCore.run(e, 2, 2)
    assert(labelMap(two) ==
      Map(1L -> 2L, 2L -> 2L, 3L -> 3L, 4L -> 2L, 5L -> 1L))
    assert(rounds == 2)
    val (core, all) = KCore.run(e, k = 2)
    assert(labelMap(core) == Map(1L -> 2L, 2L -> 2L, 3L -> 2L))
    assert(all == 5)
  }

  test("SSSP Bellman-Ford matches a hand shortest-path oracle") {
    val e = df(Seq((1L, 2L), (2L, 3L), (1L, 3L), (3L, 4L)))
    val adj = Adjacency.build(GraphOps.clean(e))
    def w(s: Long, d: Long) = 1L + (s + d) % 9
    // dist(2) = w(1,2); dist(3) = min(w(1,3), w(1,2)+w(2,3)); dist(4) via 3
    val d2 = w(1, 2)
    val d3 = math.min(w(1, 3), d2 + w(2, 3))
    val expected = Map(1L -> 0L, 2L -> d2, 3L -> d3, 4L -> (d3 + w(3, 4)))
    assert(labelMap(Sssp.fixedRounds(adj, 1L, 10)) == expected)
    adj.unpersist()
  }

  test("Luby MIS is independent, maximal, and deterministic") {
    val e = GraphOps.symmetrize(df(Seq((1L, 2L), (2L, 3L), (3L, 4L),
      (4L, 5L), (5L, 1L), (2L, 4L), (6L, 7L))))
    val (mis, rounds) = IndependentSet.run(e)
    val set = mis.collect().map(_.getLong(0)).toSet
    val adjPairs = e.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // independence: no edge inside the set
    assert(!adjPairs.exists { case (a, b) => set(a) && set(b) })
    // maximality: every vertex outside has a neighbor inside
    val verts = adjPairs.flatMap(t => Set(t._1, t._2))
    (verts -- set).foreach { v =>
      assert(adjPairs.exists { case (a, b) => a == v && set(b) },
        s"$v has no MIS neighbor")
    }
    assert(rounds == 1)
    // bounded run at saturation equals the fixpoint set
    val fixed = IndependentSet.run(e, 6)._1.collect()
      .map(_.getLong(0)).toSet
    assert(fixed == set)
  }

  test("greedy matching is a valid maximal matching and deterministic") {
    val e = df(Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (5L, 6L),
      (1L, 6L), (2L, 5L)))
    val (m, rounds) = Matching.runOriented(GraphOps.orientUpper(e), 1000)
    val pairs = m.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val matchedV = pairs.flatMap(t => Set(t._1, t._2))
    // validity: no vertex matched twice
    assert(matchedV.size == 2 * pairs.size)
    // maximality: every undirected edge touches a matched vertex
    val und = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (5L, 6L),
      (1L, 6L), (2L, 5L))
    und.foreach { case (a, b) =>
      assert(matchedV(a) || matchedV(b), s"edge ($a,$b) unmatched")
    }
    assert(rounds == 3)
    assert(Matching.runOriented(GraphOps.orientUpper(e), 6)._1.collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet == pairs)
  }

  test("k-clique counts: complete graph closed forms and triangle " +
      "cross-check") {
    // K5 ∪ path 10-11-12: cliques live only in the K5 block
    val k5 = for (a <- 0L to 4L; b <- (a + 1) to 4L) yield (a, b)
    val (o, ol, _) = triFrames(df(k5 ++ Seq((10L, 11L), (11L, 12L))))
    assert(Mining.kcliqueCount(o, 2, ol) == 12) // 10 K5 edges + 2 path edges
    assert(Mining.kcliqueCount(o, 3, ol) == 10) // C(5,3)
    assert(Mining.kcliqueCount(o, 4, ol) == 5)  // C(5,4)
    assert(Mining.kcliqueCount(o, 5, ol) == 1)
    assert(Mining.kcliqueCount(o, 6, ol) == 0)
    // k=3 must equal the brute-force triangle count of the fixture
    val (wo, wol, _) = triFrames(web.edges)
    assert(Mining.kcliqueCount(wo, 3, wol) ==
      TestOracles.triangles(edgeArray))
    // the merge-intersect counting kernel agrees with the join-cascade
    // LISTING kernel on the fixture (two independent formulations)
    assert(Mining.kcliqueCount(wo, 4, wol) ==
      Mining.kcliques(web.edges, 4).count())
  }

  test("3-motif census: closed forms on K5 and a path") {
    def motif3(e: org.apache.spark.sql.DataFrame) = Mining.motif3(
      Triangles.symDegrees(GraphOps.symmetrize(e)), triFrames(e)._3.count())
    val k5 = for (a <- 0L to 4L; b <- (a + 1) to 4L) yield (a, b)
    val r1 = motif3(df(k5)).collect()(0)
    assert((r1.getLong(0), r1.getLong(1), r1.getLong(2)) == ((30L, 10L, 0L)))
    val p3 = df(Seq((0L, 1L), (1L, 2L), (2L, 3L)))
    val r2 = motif3(p3).collect()(0)
    assert((r2.getLong(0), r2.getLong(1), r2.getLong(2)) == ((2L, 0L, 2L)))
  }

  test("k-truss peel matches a per-edge triangle-support oracle") {
    // two triangles sharing edge (2,3) + a pendant edge: the 3-truss is
    // the two triangles; the 4-truss is empty (no edge has support 2
    // after the pendant and cross-checks)
    val e = df(Seq((1L, 2L), (2L, 3L), (1L, 3L), (2L, 4L), (3L, 4L),
      (4L, 5L)))
    val (o, _, tris) = triFrames(e)
    val (t3, r3) = KTruss.run(o, tris, k = 3)
    assert(r3 == 2)
    val got3 = t3.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got3 == Set((1L, 2L), (2L, 3L), (1L, 3L), (2L, 4L), (3L, 4L)))
    val (t4, r4) = KTruss.run(o, tris, k = 4)
    assert(t4.isEmpty)
    assert(r4 == 3)
    assert(KTruss.run(o, tris, 3, 5)._1.collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet == got3)
    // k <= 2: sup >= k-2 holds at support 0, so the 2-truss is the WHOLE
    // graph — zero-support edges (the pendant) must survive the peel
    val all = e.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val (t2, r2) = KTruss.run(o, tris, k = 2)
    assert(r2 == 1)
    assert(t2.collect().map(r => (r.getLong(0), r.getLong(1))).toSet == all)
  }

  test("empty edge tables: stats/export guards return empty, not NPE") {
    val empty = df(Seq.empty[(Long, Long)])
    assert(GraphOps.sparsityPattern(empty, 8).isEmpty)
    assert(GraphOps.hubs(empty, 2.0).isEmpty)
    val path = "target/mtx-empty-spec"
    graft.sources.EdgeListCsv.writeMtx(empty, path) // "0 0 0" size line
    assert(graft.sources.EdgeListCsv.readMtx(spark, path).isEmpty)
  }

  test("betweenness matches an in-JVM Brandes oracle") {
    val edgeSeq = Seq((1L, 2L), (2L, 3L), (1L, 3L), (3L, 4L), (4L, 5L),
      (2L, 4L), (5L, 1L))
    val e = df(edgeSeq)
    val adj = Adjacency.build(GraphOps.clean(e))
    val sources = Seq(1L, 2L, 3L, 4L, 5L)
    val got = Betweenness.run(adj, sources, maxLevels = 8).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap

    // Brandes reference implementation (sequential, per source)
    val adjMap = edgeSeq.groupBy(_._1).view.mapValues(_.map(_._2)).toMap
    val verts = edgeSeq.flatMap(t => Seq(t._1, t._2)).distinct
    val bc = scala.collection.mutable.Map(verts.map(_ -> 0.0): _*)
    sources.foreach { s =>
      val dist = scala.collection.mutable.Map(s -> 0)
      val sigma = scala.collection.mutable.Map(s -> 1L)
      val order = scala.collection.mutable.ArrayBuffer(s)
      var i = 0
      while (i < order.length) {
        val v = order(i); i += 1
        adjMap.getOrElse(v, Nil).foreach { w =>
          if (!dist.contains(w)) {
            dist(w) = dist(v) + 1; sigma(w) = 0L; order += w
          }
          if (dist(w) == dist(v) + 1) sigma(w) += sigma(v)
        }
      }
      val delta = scala.collection.mutable.Map(order.toSeq.map(_ -> 0.0): _*)
      order.reverse.foreach { v =>
        adjMap.getOrElse(v, Nil).foreach { w =>
          if (dist.contains(w) && dist(w) == dist(v) + 1)
            delta(v) += (sigma(v).toDouble / sigma(w)) * (1.0 + delta(w))
        }
        if (v != s) bc(v) += delta(v)
      }
    }
    verts.foreach { v =>
      assert(math.abs(got(v) - bc(v)) < 1e-9, s"bc($v): ${got(v)} vs ${bc(v)}")
    }
    assert(bc.values.exists(_ > 0))
    adj.unpersist()
  }

  test("permuteRandom is a deterministic bijection onto 0..V-1") {
    val e = df(Seq((1L, 2L), (2L, 3L), (5L, 9L)))
    val m1 = labelMap(GraphOps.permuteRandom(e))
    val m2 = labelMap(GraphOps.permuteRandom(e))
    assert(m1 == m2) // deterministic
    assert(m1.values.toSet == (0L until m1.size).toSet) // dense bijection
  }

  test("removeHighDegree keeps edges with both endpoint outdegs <= max") {
    val e = df(Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (3L, 1L),
      (5L, 2L)))
    // outdeg: 1 -> 3, 2 -> 1, 3 -> 1, 5 -> 1; maxDegree = 2 drops vertex 1
    val kept = GraphOps.removeHighDegree(e, 2).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(kept == Set((2L, 3L), (5L, 2L)))
  }

  test("weighted SSSP over real ws arrays matches a hand oracle") {
    import TestSpark.spark.implicits._
    // 1 --4--> 2, 1 --1--> 3, 3 --1--> 2, 2 --10--> 4, 3 --7--> 4, 4 --1--> 5
    val we = Seq((1L, 2L, 4L), (1L, 3L, 1L), (3L, 2L, 1L), (2L, 4L, 10L),
      (3L, 4L, 7L), (4L, 5L, 1L)).toDF("src", "dst", "w")
    val adj = Adjacency.build(we)
    val expect = Map(1L -> 0L, 3L -> 1L, 2L -> 2L, 4L -> 8L, 5L -> 9L)
    // fixedRounds reads the blocks' ws arrays, not the synthetic weights
    assert(labelMap(Sssp.fixedRounds(adj, 1L, 6)) == expect)
    adj.unpersist()
  }

  test("Boruvka spanning forest equals Kruskal under the (w, src, dst) " +
      "tie order") {
    import TestSpark.spark.implicits._
    // Kruskal with the identical total order: with unique keys the
    // minimum spanning forest is UNIQUE, so the edge SETS must match.
    def kruskal(es: Seq[(Long, Long, Long)]): Set[(Long, Long, Long)] = {
      val parent = scala.collection.mutable.Map.empty[Long, Long]
      def find(x: Long): Long = {
        val p = parent.getOrElse(x, x)
        if (p == x) x else { val r = find(p); parent(x) = r; r }
      }
      es.sortBy(e => (e._3, e._1, e._2)).flatMap { case (a, b, w) =>
        val (ra, rb) = (find(a), find(b))
        if (ra == rb) None else { parent(ra) = rb; Some((a, b, w)) }
      }.toSet
    }
    val rnd = new scala.util.Random(7)
    for (trial <- 0 until 3) {
      val n = 30 + trial * 25
      val es = (0 until n * 3).map { _ =>
        val a = rnd.nextInt(n).toLong; val b = rnd.nextInt(n).toLong
        (math.min(a, b), math.max(a, b), (rnd.nextInt(12) + 1).toLong)
      }.filter(e => e._1 != e._2)
        .groupBy(e => (e._1, e._2)).map(_._2.head).toSeq // one row per edge
      val edf = es.toDF("src", "dst", "w")
      val (mst, rounds) = Boruvka.run(edf)
      val got = mst.collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      val want = kruskal(es)
      assert(got == want, s"trial $trial: ${got.size} vs ${want.size}")
      assert(rounds == Seq(3, 3, 4)(trial))
      // bounded run (8 rounds, 12 jumps) at saturation equals the fixpoint
      val fr = Boruvka.run(edf, 8, 12)._1.collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      assert(fr == want)
    }
  }

  test("weighted adjacency save/load round-trips blocks with ws arrays") {
    import TestSpark.spark.implicits._
    val we = Seq((1L, 2L, 4L), (1L, 3L, 1L), (3L, 2L, 1L), (2L, 4L, 10L))
      .toDF("src", "dst", "w")
    val adj = Adjacency.build(we)
    Adjacency.save(adj, "target/wadj-spec")
    val back = Adjacency.load(spark, "target/wadj-spec")
    val distA = labelMap(Sssp.fixedRounds(adj, 1L, 4))
    val distB = labelMap(Sssp.fixedRounds(back, 1L, 4))
    assert(distA == distB && distA.nonEmpty)
    adj.unpersist(); back.unpersist()
  }

  test("weighted round trips: csv, MatrixMarket real, DIMACS, neo4j") {
    import TestSpark.spark.implicits._
    val we = Seq((0L, 1L, 5L), (1L, 2L, 3L), (4L, 0L, 97L))
      .toDF("src", "dst", "w")
    val expect = Set((0L, 1L, 5L), (1L, 2L, 3L), (4L, 0L, 97L))
    def triples(d: org.apache.spark.sql.DataFrame) = d.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet

    graft.sources.EdgeListCsv.writeWeighted(we, "target/csvw-spec")
    assert(triples(graft.sources.EdgeListCsv
      .readWeighted(spark, "target/csvw-spec")
      .selectExpr("src", "dst", "CAST(w AS LONG) AS w")) == expect)

    graft.sources.EdgeListCsv.writeMtxWeighted(we, "target/mtxw-spec")
    assert(triples(graft.sources.EdgeListCsv
      .readMtxWeighted(spark, "target/mtxw-spec")
      .selectExpr("src", "dst", "CAST(w AS LONG) AS w")) == expect)

    graft.sources.TextFormats.writeDimacs(we, "target/dimacs-spec")
    assert(triples(graft.sources.TextFormats
      .readDimacs(spark, "target/dimacs-spec")) == expect)

    graft.sources.TextFormats.writeNeo4j(we, "target/neo4j-spec")
    assert(triples(graft.sources.TextFormats
      .readNeo4jEdges(spark, "target/neo4j-spec")) == expect)
  }

  test("pbbs AdjacencyGraph and svmlight round-trips") {
    import TestSpark.spark.implicits._
    // pbbs: positional CSR — vertex 3 has no out-edges (offset run of 0)
    val e = df(Seq((0L, 1L), (0L, 4L), (1L, 2L), (4L, 0L)))
    graft.sources.TextFormats.writePbbs(e, "target/pbbs-spec")
    assert(graft.sources.TextFormats.readPbbs(spark, "target/pbbs-spec")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet ==
      Set((0L, 1L), (0L, 4L), (1L, 2L), (4L, 0L)))
    // svmlight: examples = line numbers (rank of src), features shifted
    // by the example count (3 examples here: srcs 2, 5, 9 → 0, 1, 2)
    val we = Seq((2L, 0L, 5L), (2L, 3L, 7L), (5L, 1L, 2L), (9L, 0L, 4L))
      .toDF("src", "dst", "w")
    graft.sources.TextFormats.writeSvmlight(we, "target/svml-spec")
    val back = graft.sources.TextFormats
      .readSvmlight(spark, "target/svml-spec")
      .collect().map(r => (r.getLong(0), r.getLong(1),
        r.getDouble(2).toLong)).toSet
    assert(back == Set((0L, 3L, 5L), (0L, 6L, 7L), (1L, 4L, 2L),
      (2L, 3L, 4L)))
  }

  test("metis and 1-indexed edgelist round-trips (isolated vertex = " +
      "empty metis line)") {
    // symmetric graph where vertex 2 is isolated (its metis line is empty)
    val e = GraphOps.symmetrize(df(Seq((0L, 1L), (3L, 4L), (0L, 4L))))
    graft.sources.TextFormats.writeMetis(e, "target/metis-spec")
    assert(graft.sources.TextFormats.readMetis(spark, "target/metis-spec")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet ==
      e.collect().map(r => (r.getLong(0), r.getLong(1))).toSet)
    val d1 = df(Seq((0L, 1L), (5L, 2L)))
    graft.sources.EdgeListCsv.write1Indexed(d1, "target/csv1-spec")
    assert(graft.sources.EdgeListCsv.read1Indexed(spark, "target/csv1-spec")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet ==
      Set((0L, 1L), (5L, 2L)))
  }

  test("nodelist and adjacency-list export/ingest round-trips") {
    val e = df(Seq((0L, 1L), (0L, 2L), (1L, 2L), (4L, 0L)))
    val expect = Set((0L, 1L), (0L, 2L), (1L, 2L), (4L, 0L))
    graft.sources.TextFormats.writeNodelist(e, "target/nodelist-spec")
    assert(graft.sources.TextFormats.readNodelist(spark, "target/nodelist-spec")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet == expect)
    graft.sources.TextFormats.writeAdjacencyList(e, "target/adjlist-spec")
    assert(graft.sources.TextFormats
      .readAdjacencyList(spark, "target/adjlist-spec")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet == expect)
  }

  test("MatrixMarket export/ingest round-trips the edge table") {
    val e = df(Seq((0L, 1L), (1L, 2L), (4L, 0L)))
    val path = "target/mtx-roundtrip-spec"
    graft.sources.EdgeListCsv.writeMtx(e, path)
    val back = graft.sources.EdgeListCsv.readMtx(spark, path).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(back == Set((0L, 1L), (1L, 2L), (4L, 0L)))
  }

  // deterministic pseudo-random graph for the brute-force mining specs:
  // 36 vertices so (v >> 3) % 4 labels actually vary, ~145 edges
  private lazy val bruteEdges: Seq[(Long, Long)] =
    for {
      a <- 0L until 36L
      b <- (a + 1) until 36L
      if (a * 2654435761L + b * 40503L) % 97 < 22
    } yield (a, b)
  private lazy val bruteAdj: Map[Long, Set[Long]] = {
    val sym = bruteEdges.flatMap { case (a, b) => Seq((a, b), (b, a)) }
    sym.groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
      .withDefaultValue(Set.empty)
  }

  test("4-motif census equals a brute-force induced census and closed " +
      "forms") {
    // closed forms first: K5 has 15 four-cycles (3 per 4-subset) and 30
    // edge-sharing triangle pairs (t_e = 3 per edge, C(3,2)·10)
    val k5 = df(for (a <- 0L to 4L; b <- (a + 1) to 4L) yield (a, b))
    val (k5Sym, k5Deg) = symDeg(k5)
    assert(Mining.cycle4Count(k5Sym, k5Deg) == 15L)
    assert(Mining.diamondCount(triFrames(k5)._3) == 30L)
    // brute-force induced census over all C(36,4) vertex subsets
    var (path4, star4, cyc4, paw, dia, k4) = (0L, 0L, 0L, 0L, 0L, 0L)
    val vs = (0L until 36L).toArray
    for {
      i <- vs.indices; j <- (i + 1) until vs.length
      k <- (j + 1) until vs.length; l <- (k + 1) until vs.length
    } {
      val q = Array(vs(i), vs(j), vs(k), vs(l))
      val degs = q.map(v => q.count(u => u != v && bruteAdj(v)(u)))
      val m = degs.sum / 2
      m match {
        case 6 => k4 += 1
        case 5 => dia += 1
        case 4 => if (degs.max == 3) paw += 1 else cyc4 += 1
        case 3 =>
          if (degs.max == 3) star4 += 1
          else if (degs.min == 1) path4 += 1 // else triangle+isolated
        case _ => // disconnected
      }
    }
    val g = df(bruteEdges)
    val (sym, deg) = symDeg(g)
    val (o, ol, tris) = triFrames(g)
    val row = Mining.motif4(sym, deg, tris.count(),
      Mining.kcliqueCount(o, 4, ol), Mining.cycle4Count(sym, deg),
      Mining.diamondCount(tris),
      Triangles.perVertex(tris, GraphOps.vertices(g)))
      .collect()(0)
    assert((row.getLong(0), row.getLong(1), row.getLong(2), row.getLong(3),
      row.getLong(4), row.getLong(5)) == ((path4, star4, cyc4, paw, dia, k4)),
      s"engine ${row.toSeq} vs brute ($path4,$star4,$cyc4,$paw,$dia,$k4)")
  }

  test("FSM 3-edge tier: exact-MNI triangle and path supports equal " +
      "full enumeration") {
    def lab(v: Long): Long = (v >> 3) % 4
    // brute triangle patterns
    val triDoms = scala.collection.mutable
      .Map.empty[((Long, Long, Long), Long), Set[Long]]
    for {
      a <- 0L until 36L; b <- (a + 1) until 36L if bruteAdj(a)(b)
      c <- (b + 1) until 36L if bruteAdj(a)(c) && bruteAdj(b)(c)
    } {
      val ls = Seq(lab(a), lab(b), lab(c)).sorted
      val key = (ls(0), ls(1), ls(2))
      Seq(a, b, c).foreach { v =>
        triDoms((key, lab(v))) =
          triDoms.getOrElse((key, lab(v)), Set.empty[Long]) + v
      }
    }
    val bruteTri = triDoms.groupBy(_._1._1).view
      .mapValues(doms => doms.values.map(_.size.toLong).min).toMap
    val gotTri = Mining.fsm3Triangle(triFrames(df(bruteEdges))._3, 1L)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)) -> r.getLong(3))
      .toMap
    assert(gotTri == bruteTri)
    // brute path patterns: all embeddings, canonical under reversal,
    // per-slot distinct vertex sets
    val slotSets = scala.collection.mutable
      .Map.empty[(Long, Long, Long, Long), Array[Set[Long]]]
    for {
      a <- 0L until 36L; b <- bruteAdj(a); c <- bruteAdj(b)
      if c != a
      d <- bruteAdj(c) if d != b && d != a
    } {
      val t = (lab(a), lab(b), lab(c), lab(d))
      val r = (lab(d), lab(c), lab(b), lab(a))
      if (Seq(t._1, t._2, t._3, t._4).mkString(",") <=
          Seq(r._1, r._2, r._3, r._4).mkString(",")) {
        val s = slotSets.getOrElseUpdate(t, Array.fill(4)(Set.empty[Long]))
        s(0) += a; s(1) += b; s(2) += c; s(3) += d
      }
    }
    val brutePath = slotSets.view
      .mapValues(_.map(_.size.toLong).min).toMap
    val gotPath = Mining.fsm3Path(symDeg(df(bruteEdges))._1,
      triFrames(df(bruteEdges))._3, 1L).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3)) -> r.getLong(4)).toMap
    assert(gotPath == brutePath)
  }

  test("tieredCumSum plan never funnels through a single partition and " +
      "equals the global running sum") {
    import org.apache.spark.sql.functions.col
    val e = df((1L to 200L).map(i => (i, (i % 7) + 1)))
    val deg = GraphOps.degrees(e)
      .select(col("id"), (col("outdeg") + col("indeg")).as("d"))
    val (out, parts) = graft.plans.Ranking.tieredCumSumPlan(
      deg, Seq(col("d").desc, col("id").asc), "d", "cum", 8)
    val plan = out.queryExecution.executedPlan.toString
    assert(!plan.contains("SinglePartition"),
      s"tiered-cumsum plan contains a single-partition exchange:\n$plan")
    val got = out.select(col("id"), col("cum")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    var acc = 0L
    val expected = deg.collect().map(r => (r.getLong(0), r.getLong(1)))
      .sortBy { case (id, d) => (-d, id) }
      .map { case (id, d) => acc += d; id -> acc }.toMap
    assert(got == expected)
    parts.unpersist()
  }

  test("globalRank plan never funnels through a single partition") {
    import org.apache.spark.sql.functions.col
    val e = df((1L to 200L).map(i => (i, (i % 7) + 1)))
    val deg = GraphOps.degrees(e)
      .select(col("id"), (col("outdeg") + col("indeg")).as("d"))
    val (ranked, parts) = graft.plans.Ranking.globalRankPlan(
      deg, Seq(col("d").desc, col("id").asc), "new_id", 8)
    val plan = ranked.queryExecution.executedPlan.toString
    assert(!plan.contains("SinglePartition"),
      s"global-rank plan contains a single-partition exchange:\n$plan")
    // and it still equals the global row_number semantics
    val viaPlan = ranked.select(col("id"), col("new_id")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val expected = deg.collect().map(r => (r.getLong(0), r.getLong(1)))
      .sortBy { case (id, d) => (-d, id) }.zipWithIndex
      .map { case ((id, _), i) => id -> i.toLong }.toMap
    assert(viaPlan == expected)
    parts.unpersist()
  }
}
