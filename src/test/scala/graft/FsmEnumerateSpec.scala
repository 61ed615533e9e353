package graft

import graft.operators.{FsmEnumerate, Mining}
import org.scalatest.funsuite.AnyFunSuite

/** Validates the generic BFS-extension FSM against (a) a brute-force
  * enumeration of ALL connected edge-subgraphs with exact MNI domains
  * on deterministic random fixtures, and (b) the closed-form 3-edge
  * tiers (fsm3Triangle / fsm3Path) on the same fixture. */
class FsmEnumerateSpec extends AnyFunSuite {
  import TestSpark.spark
  import spark.implicits._

  private val numLabels = 4
  private def lab(v: Int): Int = (v >> 3) % numLabels

  /** Brute force: every connected edge-subset up to maxEdges edges,
    * canonical labeled pattern = lexicographic min (shape mask, label
    * tuple) over all vertex orderings; MNI domains collected from the
    * orderings that realize the canonical form. */
  private def brute(n: Int, und: Seq[(Int, Int)], maxEdges: Int,
      minSupport: Long): Map[Int, Set[(Int, Vector[(Int, Int)], Vector[Int])]] = {
    val adjE = und.zipWithIndex
    // grow connected edge-subsets
    var level: Set[Set[Int]] = adjE.map { case (_, i) => Set(i) }.toSet
    val byLevel = scala.collection.mutable.Map[Int, Set[Set[Int]]](1 -> level)
    for (l <- 2 to maxEdges) {
      level = level.flatMap { s =>
        val vs = s.flatMap(i => Seq(und(i)._1, und(i)._2))
        adjE.collect {
          case ((a, b), i) if !s(i) && (vs(a) || vs(b)) => s + i
        }
      }
      byLevel(l) = level
    }
    (1 to maxEdges).map { l =>
      // canonical pattern -> per-position domains
      val doms = scala.collection.mutable.Map
        .empty[(Int, Vector[(Int, Int)], Vector[Int]),
          Array[scala.collection.mutable.Set[Int]]]
      byLevel(l).foreach { s =>
        val es = s.toVector.map(und)
        val vs = es.flatMap(e => Seq(e._1, e._2)).distinct.sorted
        val m = vs.size
        val idxOf = vs.zipWithIndex.toMap
        val ces = es.map { case (a, b) =>
          (idxOf(a) min idxOf(b), idxOf(a) max idxOf(b))
        }
        // all orderings: perm p maps local vertex index -> position;
        // canonical = min (bitmask, label tuple) — the operator's order
        val pairIdx = (for { a <- 0 until m; b <- a + 1 until m }
          yield (a, b)).zipWithIndex.toMap
        val all = (0 until m).toVector.permutations.map { p =>
          val mask = ces.foldLeft(0) { case (acc, (a, b)) =>
            acc | (1 << pairIdx((p(a) min p(b), p(a) max p(b))))
          }
          val labels = Vector.tabulate(m)(pos => lab(vs(p.indexOf(pos))))
          (mask, labels, p)
        }.toVector
        val (cm, cl, _) = all.minBy { case (mask, labels, _) =>
          (mask, labels.mkString)
        }
        val cmEdges = pairIdx.toVector.collect {
          case (pr, i) if (cm >> i & 1) == 1 => pr
        }.sorted
        val key = (m, cmEdges, cl)
        val d = doms.getOrElseUpdate(key,
          Array.fill(m)(scala.collection.mutable.Set.empty[Int]))
        all.foreach { case (mask, labels, p) =>
          if (mask == cm && labels == cl)
            (0 until m).foreach(pos => d(pos) += vs(p.indexOf(pos)))
        }
      }
      l -> doms.collect {
        case (key, d) if d.map(_.size).min >= minSupport => key
      }.toSet
    }.toMap
  }

  private def fixture(n: Int, p: Double, seed: Long): Seq[(Int, Int)] = {
    val rnd = new scala.util.Random(seed)
    for { a <- 0 until n; b <- a + 1 until n if rnd.nextDouble() < p }
      yield (a, b)
  }

  private def checkFixture(n: Int, p: Double, seed: Long, maxEdges: Int,
      minSupport: Long): Unit = {
    val und = fixture(n, p, seed)
    val df = und.map { case (a, b) => (a.toLong, b.toLong) }.toDF("src", "dst")
    val got = FsmEnumerate.run(df, maxEdges, minSupport, numLabels)
    val want = brute(n, und, maxEdges, minSupport)
    got.foreach { case (l, pats) =>
      val gotSet = pats.map(pt => (pt.shape.m, pt.shape.sedges.sorted,
        pt.labels)).toSet
      assert(gotSet == want(l),
        s"level $l: engine ${gotSet.size} vs brute ${want(l).size}\n" +
          s"only engine: ${gotSet -- want(l)}\nonly brute: ${want(l) -- gotSet}")
    }
  }

  test("enumerated FSM equals brute-force exact-MNI (sparse fixture)") {
    checkFixture(28, 0.12, seed = 5L, maxEdges = 4, minSupport = 3L)
  }

  test("enumerated FSM equals brute-force exact-MNI (dense fixture)") {
    checkFixture(20, 0.3, seed = 9L, maxEdges = 4, minSupport = 4L)
  }

  test("degenerate input: empty graph yields zero frequent patterns") {
    val empty = Seq.empty[(Long, Long)].toDF("src", "dst")
    val counts = FsmEnumerate.levelCounts(empty, 3, 1L, numLabels)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(counts == Map(1L -> 0L, 2L -> 0L, 3L -> 0L))
  }

  test("level-3 triangle and path patterns match the closed-form tiers") {
    val und = fixture(24, 0.25, seed = 13L)
    val df = und.map { case (a, b) => (a.toLong, b.toLong) }.toDF("src", "dst")
    val s = 3L
    val lvl3 = FsmEnumerate.run(df, 3, s, numLabels)
      .find(_._1 == 3).get._2
    // triangles: canonical labels under S3 = the sorted label multiset
    val triShape = lvl3.filter(p => p.shape.m == 3)
    val gotTri = triShape.map(_.labels.sorted).toSet
    val wantTri = Mining.fsm3Triangle(TestSpark.triFrames(df)._3, s,
      numLabels)
      .collect().map(r => Vector(r.getLong(0).toInt, r.getLong(1).toInt,
        r.getLong(2).toInt)).toSet
    assert(gotTri == wantTri, s"triangles: $gotTri vs $wantTri")
    // 3-edge paths: walk the canonical layout end-to-end, canonical
    // under reversal — fsm3Path's (l1..l4) convention
    val pathShapes = lvl3.filter(p => p.shape.m == 4 &&
      p.shape.sedges.flatMap(e => Seq(e._1, e._2))
        .groupBy(identity).values.map(_.size).max == 2)
    val gotPath = pathShapes.map { p =>
      val deg = (0 until 4).map(v =>
        v -> p.shape.sedges.count(e => e._1 == v || e._2 == v)).toMap
      val ends = (0 until 4).filter(deg(_) == 1)
      val adj = (0 until 4).map(v => v -> p.shape.sedges.collect {
        case (a, b) if a == v => b
        case (a, b) if b == v => a
      }).toMap
      var order = Vector(ends.min)
      while (order.size < 4)
        order :+= adj(order.last).filterNot(order.contains).head
      val seq = order.map(p.labels)
      if (seq.mkString <= seq.reverse.mkString) seq else seq.reverse
    }.toSet
    val wantPath = Mining.fsm3Path(TestSpark.symDeg(df)._1,
      TestSpark.triFrames(df)._3, s, numLabels)
      .collect().map(r => Vector(r.getLong(0).toInt, r.getLong(1).toInt,
        r.getLong(2).toInt, r.getLong(3).toInt)).toSet
    assert(gotPath == wantPath, s"paths: $gotPath vs $wantPath")
  }
}
