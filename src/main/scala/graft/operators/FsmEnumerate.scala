package graft.operators

import graft.exec.{Materialize, Par}
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType}

/**
 * Frequent subgraph mining for ARBITRARY pattern size — the reference's
 * fsm.cpp run beyond the closed-form tiers (lonestar/mining/cpu/
 * frequent-subgraph-mining/fsm.cpp:13-16: pangolin EdgeMiner, "Frequent
 * subgraph mining in a graph using BFS extension", max size = k edges,
 * MNI domain support, anti-monotone pruning). The exact-MNI closed
 * forms ([[Mining.fsmEdge]]/[[Mining.fsmWedge]]/[[Mining.fsm3Triangle]]/
 * [[Mining.fsm3Path]]) are the web-scale path for k ≤ 3; THIS operator
 * is the faithful re-expression of the reference's general algorithm —
 * embedding enumeration, with pangolin's inherent Θ(Σ d^(k−1)) frontier
 * — as per-shape DataFrames:
 *
 *  - one frame per unlabeled SHAPE (canonical connected graph with ℓ
 *    edges), holding ALL injective isomorphisms of every embedding in
 *    shape-layout column order (v0..v_{m−1}) — pangolin's per-thread
 *    embedding lists become one distinct-deduped frame per shape;
 *  - the level step derives each child shape's frame from the CHILD
 *    side: for every removable edge of the child, permute the parent
 *    frame's columns through one fixed parent→child isomorphism and
 *    close the edge (one equi-join) or attach the new vertex (one
 *    arc join + distinctness filters); the union over removal routes
 *    reproduces every child isomorphism because the parent frame holds
 *    every parent ordering (proved inductively; spec'd by brute force);
 *  - labels ride as expressions over the vertex ids (lab(v) =
 *    (v >> 3) % numLabels — the 3-edge tier's labeling), so a pattern
 *    is (shape, label tuple) and MNI support is one grouped aggregate:
 *    min over positions of countDistinct(v_i), exact because all
 *    automorphic orderings are present in the frame;
 *  - anti-monotone pruning: embeddings whose labeled pattern missed
 *    minSupport are filtered before extension (pangolin's level-wise
 *    frequency filter), so the frontier shrinks with the threshold.
 *
 * Frequent (shape, label) keys are canonicalized under the shape's
 * automorphism group driver-side (the key sets are tiny) and counted
 * per level — the reference's `total_num_frequent_patterns`, split by
 * pattern size.
 */
object FsmEnumerate {

  /** A canonical unlabeled shape: m vertices, sorted edge list over
    * layout positions 0..m−1. */
  final case class Shape(m: Int, sedges: Vector[(Int, Int)])

  private def pairsOf(m: Int): Vector[(Int, Int)] =
    (for { a <- 0 until m; b <- a + 1 until m } yield (a, b)).toVector

  private def maskOf(m: Int, es: Iterable[(Int, Int)]): Int = {
    val idx = pairsOf(m).zipWithIndex.toMap
    es.foldLeft(0) { case (acc, (a, b)) =>
      acc | (1 << idx((a min b, a max b)))
    }
  }

  private def edgesOfMask(m: Int, mask: Int): Vector[(Int, Int)] =
    pairsOf(m).zipWithIndex.collect { case (p, i) if (mask >> i & 1) == 1 => p }

  /** Canonical shape of the graph `es` on vertices 0..m−1, plus one
    * isomorphism φ: layout position → input vertex. */
  private def canonWithMap(m: Int, es: Set[(Int, Int)]): (Shape, Vector[Int]) = {
    var bestMask = Int.MaxValue
    var bestPerm: Vector[Int] = null
    (0 until m).toVector.permutations.foreach { p => // p: input → position
      val mask = maskOf(m, es.map { case (a, b) => (p(a), p(b)) })
      if (mask < bestMask) { bestMask = mask; bestPerm = p }
    }
    val phi = Vector.tabulate(m)(pos => bestPerm.indexOf(pos))
    (Shape(m, edgesOfMask(m, bestMask)), phi)
  }

  private def connectedGraph(m: Int, es: Iterable[(Int, Int)]): Boolean = {
    val adj = Array.fill(m)(List.empty[Int])
    es.foreach { case (a, b) => adj(a) ::= b; adj(b) ::= a }
    val seen = Array.fill(m)(false)
    var stack = List(0)
    seen(0) = true
    while (stack.nonEmpty) {
      val v = stack.head; stack = stack.tail
      adj(v).foreach { u => if (!seen(u)) { seen(u) = true; stack ::= u } }
    }
    seen.forall(identity)
  }

  /** All canonical child shapes of `s` (one more edge): close a
    * non-edge, or hang a new vertex off any position. */
  private def childrenOf(s: Shape): Vector[Shape] = {
    val present = s.sedges.toSet
    val close = pairsOf(s.m).filterNot(present)
      .map(e => canonWithMap(s.m, present + e)._1)
    val grow = (0 until s.m).toVector
      .map(v => canonWithMap(s.m + 1, present + ((v, s.m)))._1)
    (close ++ grow).distinct
  }

  /** One extension route into child shape `c`: build from `parent`'s
    * frame with columns permuted by φ (parent position → child
    * position), then close `newEdge`; `newPos` is set when `newEdge`
    * attaches a brand-new vertex at that child position. */
  private final case class Route(parent: Shape, phi: Vector[Int],
    newEdge: (Int, Int), newPos: Option[Int])

  private def degreesIn(c: Shape): Map[Int, Int] =
    (0 until c.m).map(v =>
      v -> c.sedges.count(e => e._1 == v || e._2 == v)).toMap

  /** Every removable child edge yields one route (any fixed parent
    * isomorphism suffices — the parent frame holds all orderings). */
  private def routesFor(c: Shape): Vector[Route] = {
    val deg = degreesIn(c)
    c.sedges.flatMap { e =>
      val rest = c.sedges.filterNot(_ == e)
      if (deg(e._1) == 1 || deg(e._2) == 1) {
        // pendant removal: the parent drops the leaf vertex entirely
        val leaf = if (deg(e._1) == 1) e._1 else e._2
        val kept = (0 until c.m).filterNot(_ == leaf).toVector
        val idxOf = kept.zipWithIndex.toMap
        val compact = rest.map { case (a, b) =>
          (idxOf(a) min idxOf(b), idxOf(a) max idxOf(b))
        }
        val (p, phiIdx) = canonWithMap(c.m - 1, compact.toSet)
        Some(Route(p, phiIdx.map(kept), e, Some(leaf)))
      } else if (connectedGraph(c.m, rest)) {
        val (p, phiIdx) = canonWithMap(c.m, rest.toSet)
        Some(Route(p, phiIdx, e, None))
      } else None
    }
  }

  /** Automorphisms of a shape, as layout permutations. */
  private def automorphisms(s: Shape): Vector[Vector[Int]] = {
    val mask = maskOf(s.m, s.sedges)
    (0 until s.m).toVector.permutations.filter { p =>
      maskOf(s.m, s.sedges.map { case (a, b) => (p(a), p(b)) }) == mask
    }.toVector
  }

  /** One frequent labeled pattern, canonical under shape automorphism. */
  final case class Pattern(shape: Shape, labels: Vector[Int])

  private def canonPattern(s: Shape, labels: Vector[Int]): Pattern = {
    val best = automorphisms(s).map(p =>
      Vector.tabulate(s.m)(pos => labels(p.indexOf(pos)))).min(
      Ordering.Implicits.seqOrdering[Vector, Int])
    Pattern(s, best)
  }

  /** Frequent patterns per level 1..maxEdges (driver-side lists — the
    * frequent key sets are label-bounded and tiny). */
  def run(edges: DataFrame, maxEdges: Int, minSupport: Long,
      numLabels: Int = 4): Seq[(Int, Vector[Pattern])] = {
    require(maxEdges >= 1)
    val arcs = GraphOps.symmetrize(GraphOps.clean(edges))
      .select(col("src").as("x"), col("dst").as("y")).transform(Materialize(_))
    def lab(c: Column): Column = shiftright(c, 3) % numLabels
    def labKey(m: Int): Column =
      (0 until m).map(i => lab(col(s"v$i")) *
        lit(math.pow(numLabels, i).toLong)).reduce(_ + _)
    val e1 = Shape(2, Vector((0, 1)))
    var frames: Map[Shape, DataFrame] =
      Map(e1 -> arcs.select(col("x").as("v0"), col("y").as("v1")))
    val out = Vector.newBuilder[(Int, Vector[Pattern])]
    // Per-shape frame builds and support aggregates are independent
    // Spark jobs; their eager materializations (Materialize /
    // collect) used to serialize behind one driver thread, leaving the
    // executors idle between jobs. A 4-wide Par overlaps them
    // (guide §2.6 — submit independent jobs from a thread pool so the
    // next job back-fills the current one's task tail).
    for (level <- 1 to maxEdges) {
      if (level > 1) {
        val parents = frames
        val children = parents.keys.toVector.flatMap(childrenOf).distinct
        frames = Par.map(children, 4) { c =>
          val built = routesFor(c).flatMap { r =>
            parents.get(r.parent).map { pf =>
              val mapped = pf.select(
                (0 until r.parent.m).map(p =>
                  col(s"v$p").as(s"v${r.phi(p)}")): _*)
              val withEdge = r.newPos match {
                case Some(nv) =>
                  val attach =
                    if (r.newEdge._1 == nv) r.newEdge._2 else r.newEdge._1
                  val grown = mapped.join(
                    arcs.select(col("x").as(s"v$attach"),
                      col("y").as(s"v$nv")), s"v$attach")
                  (0 until c.m).filterNot(_ == nv).foldLeft(grown) {
                    (df, i) => df.filter(col(s"v$i") =!= col(s"v$nv"))
                  }
                case None =>
                  mapped.join(
                    arcs.select(col("x").as(s"v${r.newEdge._1}"),
                      col("y").as(s"v${r.newEdge._2}")),
                    Seq(s"v${r.newEdge._1}", s"v${r.newEdge._2}"))
              }
              withEdge.select((0 until c.m).map(i => col(s"v$i")): _*)
            }
          }
          if (built.isEmpty) None
          else Some(c -> built.reduce(_ unionByName _).distinct()
            .transform(Materialize(_)))
        }.flatten.toMap
      }
      // MNI support per labeled pattern: all automorphic orderings are
      // in the frame, so per-position distinct counts are the exact
      // domain sizes
      val freqKeys: Map[Shape, Vector[Long]] =
        Par.map(frames.toVector, 4) { case (shp, df) =>
          val sup = df.groupBy(labKey(shp.m).as("lk"))
            .agg(least((0 until shp.m).map(i =>
              countDistinct(col(s"v$i"))): _*).as("support"))
            .filter(col("support") >= minSupport)
            .select("lk").collect().map(_.getLong(0)).toVector
          shp -> sup
        }.toMap
      // anti-monotone prune: only embeddings of frequent patterns extend
      frames = frames.flatMap { case (shp, df) =>
        val keys = freqKeys(shp)
        if (keys.isEmpty) None
        else Some(shp -> df.filter(labKey(shp.m).isin(keys: _*)))
      }
      val pats = freqKeys.toVector.flatMap { case (shp, keys) =>
        keys.map { lk =>
          val labels = Vector.tabulate(shp.m)(i =>
            (lk / math.pow(numLabels, i).toLong % numLabels).toInt)
          canonPattern(shp, labels)
        }
      }.distinct
      out += level -> pats
    }
    out.result()
  }

  /** The driver-facing census: one row per level with the frequent
    * pattern count (the reference's total_num_frequent_patterns,
    * split by size). */
  def levelCounts(edges: DataFrame, maxEdges: Int, minSupport: Long,
      numLabels: Int = 4): DataFrame = {
    val spark = edges.sparkSession
    val rows = run(edges, maxEdges, minSupport, numLabels)
      .map { case (l, ps) => Row(l.toLong, ps.size.toLong) }
    spark.createDataFrame(
      java.util.Arrays.asList(rows: _*),
      StructType(Seq(StructField("level", LongType, nullable = false),
        StructField("frequent", LongType, nullable = false))))
  }
}
