package graft.operators

import graft.exec.{Materialize, Memo, Par}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType}

/**
 * 5-vertex connected-motif census — the reference's motif-counting app
 * at its largest size (lonestar/mining/cpu/motif-counting/motif.cpp:8,
 * `num_patterns[3] = {2, 6, 21}`: the 21 connected 5-vertex graphs).
 *
 * The pangolin engine enumerates embeddings level by level and
 * classifies each by pattern id; at web scale the level-4 embedding
 * set is Θ(Σ d⁴) rows, so this engine never materializes an embedding.
 * Instead the census is computed by homomorphism algebra
 * (the Curticapean–Dell–Marx counting framework, mechanically — no
 * per-pattern closed forms to hand-derive or hand-verify):
 *
 *  1. hom(H, G) for each pattern H via generic FACTOR ELIMINATION:
 *     every pattern edge is a factor (one arc DataFrame); vertices are
 *     summed out min-boundary-first, each elimination one shuffle
 *     join-aggregate. Trees eliminate leaf-by-leaf (message passing,
 *     O(E) per step); cycles keep a 2-vertex boundary (the wedge-pair
 *     frame); near-cliques degrade to the oriented clique-cascade cost
 *     the k-clique kernel already pays — the join order inside an
 *     elimination is chosen greedily to close triangles first, which
 *     reproduces exactly that cascade.
 *  2. inj(H, G) from homs by Möbius inversion over the partition
 *     lattice of V(H) (52 partitions; blocks must be independent sets,
 *     μ(P) = Π (−1)^(|B|−1)(|B|−1)!), quotient homs memoized across
 *     patterns by canonical form.
 *  3. subgraph counts sub = inj / |Aut(H)|, and induced counts by
 *     solving the (triangular, unit-diagonal) overcount system
 *     N_i = Σ_j c_ij · I_j, where c_ij = # spanning edge-subsets of
 *     pattern j isomorphic to pattern i is computed by brute force
 *     over the ≤1024 submasks — again nothing hand-derived.
 *
 * Every mechanical piece (canonicalization, Möbius terms, overcount
 * matrix, the hom engine) is cross-validated in Motif5Spec against a
 * brute-force induced census over all C(n,5) subsets of dense and
 * sparse random fixtures.
 */
object Motif5 {

  // ------------------------------------------------------------------
  // Pure 5-vertex pattern machinery
  // ------------------------------------------------------------------

  /** The 10 vertex pairs in lexicographic order; bit i of a pattern
    * mask marks pair i as an edge. */
  val pairs: Vector[(Int, Int)] =
    (for { a <- 0 until 5; b <- a + 1 until 5 } yield (a, b)).toVector
  private val pairIdx: Map[(Int, Int), Int] = pairs.zipWithIndex.toMap

  private val perms5: Vector[Vector[Int]] =
    (0 until 5).toVector.permutations.toVector

  private def permuteMask(mask: Int, p: Vector[Int]): Int = {
    var r = 0
    var i = 0
    while (i < 10) {
      if ((mask >> i & 1) == 1) {
        val (a, b) = pairs(i)
        val (x, y) = (p(a) min p(b), p(a) max p(b))
        r |= 1 << pairIdx((x, y))
      }
      i += 1
    }
    r
  }

  /** Canonical form of every 5-vertex mask, tabulated once. */
  private lazy val canonTable: Array[Int] = {
    val t = new Array[Int](1024)
    var m = 0
    while (m < 1024) {
      var best = Int.MaxValue
      perms5.foreach { p => val pm = permuteMask(m, p); if (pm < best) best = pm }
      t(m) = best
      m += 1
    }
    t
  }

  def canonical5(mask: Int): Int = canonTable(mask)

  def edgesOf(mask: Int): Vector[(Int, Int)] =
    pairs.zipWithIndex.collect { case (p, i) if (mask >> i & 1) == 1 => p }

  private def connected5(mask: Int): Boolean = {
    val adj = Array.fill(5)(0)
    edgesOf(mask).foreach { case (a, b) => adj(a) |= 1 << b; adj(b) |= 1 << a }
    var seen = 1
    var frontier = 1
    while (frontier != 0) {
      var next = 0
      var v = 0
      while (v < 5) {
        if ((frontier >> v & 1) == 1) next |= adj(v)
        v += 1
      }
      frontier = next & ~seen
      seen |= next
    }
    seen == 31
  }

  /** The 21 connected 5-vertex patterns as canonical masks, ordered by
    * (edge count, mask). */
  lazy val patterns: Vector[Int] =
    (0 until 1024).filter(connected5).map(canonical5).distinct
      .sortBy(m => (Integer.bitCount(m), m)).toVector

  private def degreesOf(mask: Int): Vector[Int] = {
    val d = Array.fill(5)(0)
    edgesOf(mask).foreach { case (a, b) => d(a) += 1; d(b) += 1 }
    d.toVector
  }

  private def trianglesOf(mask: Int): Int =
    (for {
      a <- 0 until 5; b <- a + 1 until 5; c <- b + 1 until 5
      if (mask >> pairIdx((a, b)) & 1) == 1 &&
        (mask >> pairIdx((a, c)) & 1) == 1 &&
        (mask >> pairIdx((b, c)) & 1) == 1
    } yield 1).size

  def aut(mask: Int): Long =
    perms5.count(p => permuteMask(mask, p) == mask).toLong

  /** (edge count, sorted degree string, triangle count) — verified
    * collision-free over the 21 patterns (asserted in [[names]] and in
    * the spec), so it doubles as the classification key the DuckDB
    * oracle can compute without canonicalization machinery. */
  def signatureOf(mask: Int): (Int, String, Int) =
    (Integer.bitCount(mask), degreesOf(mask).sorted.mkString(""), trianglesOf(mask))

  /** Semantic names keyed by signature (the names follow the common
    * small-graph atlas vocabulary). */
  val signatureNames: Map[(Int, String, Int), String] = Map(
    (4, "11114", 0) -> "star5",
    (4, "11123", 0) -> "fork5",
    (4, "11222", 0) -> "path5",
    (5, "11224", 1) -> "cricket5",
    (5, "11233", 1) -> "bull5",
    (5, "12223", 0) -> "pan5",      // C4 + pendant
    (5, "12223", 1) -> "tadpole5",  // triangle + 2-edge tail
    (5, "22222", 0) -> "cycle5",
    (6, "12234", 2) -> "dart5",     // diamond + pendant at an apex
    (6, "22233", 0) -> "k23",
    (6, "12333", 2) -> "kite5",     // diamond + pendant at a rim vertex
    (6, "22224", 2) -> "butterfly5",
    (6, "22233", 1) -> "house5",
    (7, "22244", 3) -> "k113",      // K5 minus a triangle
    (7, "13334", 4) -> "tailed_k4",
    (7, "22334", 3) -> "gem5",
    (7, "23333", 2) -> "w4_minus_spoke",
    (8, "23344", 5) -> "k5_minus_p3",
    (8, "33334", 4) -> "wheel5",
    (9, "33444", 7) -> "k5_minus_e",
    (10, "44444", 10) -> "k5")

  /** Pattern names aligned with [[patterns]]; asserts the signature is
    * a complete invariant over the 21. */
  lazy val names: Vector[String] = {
    val ns = patterns.map(m => signatureNames(signatureOf(m)))
    require(ns.distinct.size == 21, "pattern signature collision")
    ns
  }

  def classify(mask: Int): Option[String] = {
    val c = canonical5(mask)
    val i = patterns.indexOf(c)
    if (i < 0) None else Some(names(i))
  }

  // ------------------------------------------------------------------
  // Möbius terms over the partition lattice
  // ------------------------------------------------------------------

  /** A quotient graph in canonical form: k vertices, sorted edge list. */
  final case class QKey(k: Int, qedges: Vector[(Int, Int)])

  private def canonQ(k: Int, es: Set[(Int, Int)]): QKey = {
    val best = (0 until k).toVector.permutations.map { p =>
      es.foldLeft(0) { case (m, (a, b)) =>
        val (x, y) = (p(a) min p(b), p(a) max p(b))
        m | (1 << pairIdx((x, y)))
      }
    }.min
    QKey(k, edgesOf(best))
  }

  private def partitionsOf(xs: List[Int]): Vector[Vector[Vector[Int]]] =
    xs match {
      case Nil => Vector(Vector.empty)
      case h :: t =>
        partitionsOf(t).flatMap { part =>
          val grown = part.indices.map { i =>
            part.updated(i, h +: part(i))
          }
          grown :+ (Vector(h) +: part)
        }
    }

  /** hom-term expansion: inj(H) = Σ μ(P) · hom(H/P) over partitions P
    * of V(H) whose blocks are independent in H (merging adjacent
    * vertices forces a loop → zero homs into a simple graph). */
  def homTerms(mask: Int): Vector[(Long, QKey)] = {
    val es = edgesOf(mask)
    partitionsOf((0 until 5).toList).flatMap { part =>
      val blockOf = Array.fill(5)(-1)
      part.zipWithIndex.foreach { case (b, i) => b.foreach(v => blockOf(v) = i) }
      val independent = es.forall { case (a, b) => blockOf(a) != blockOf(b) }
      if (!independent) None
      else {
        val mu = part.map(b => (if ((b.size - 1) % 2 == 0) 1L else -1L) *
          (1L to (b.size - 1).toLong).product).product
        val qes = es.map { case (a, b) =>
          val (x, y) = (blockOf(a) min blockOf(b), blockOf(a) max blockOf(b))
          (x, y)
        }.toSet
        Some((mu, canonQ(part.size, qes)))
      }
    }
  }

  // ------------------------------------------------------------------
  // Non-induced → induced conversion (brute-force overcount matrix)
  // ------------------------------------------------------------------

  /** c(i)(j) = # spanning edge-subsets of pattern j isomorphic to
    * pattern i (unit diagonal; zero unless |E_i| ≤ |E_j|). */
  lazy val overcount: Vector[Vector[Long]] = patterns.map { mi =>
    patterns.map { mj =>
      var c = 0L
      var s = mj
      var done = false
      while (!done) {
        if (canonical5(s) == mi) c += 1
        if (s == 0) done = true else s = (s - 1) & mj
      }
      c
    }
  }

  /** Solve N = C · I for induced counts (densest patterns first). */
  def inducedFromSub(n: Vector[Long]): Vector[Long] = {
    val out = Array.fill(21)(0L)
    for (i <- patterns.indices.sortBy(i => -Integer.bitCount(patterns(i)))) {
      var v = n(i)
      for (j <- patterns.indices if j != i && overcount(i)(j) != 0L)
        v -= overcount(i)(j) * out(j)
      out(i) = v
    }
    out.toVector
  }

  // ------------------------------------------------------------------
  // Generic homomorphism counting by factor elimination (Spark)
  // ------------------------------------------------------------------

  /** `folded` marks a message factor produced by a previous elimination:
    * its per-key fan-out is a neighborhood PRODUCT (e.g. common-neighbor
    * pair counts), typically far above the degree-bounded fan-out of an
    * original arc factor — the join-order heuristic prefers arcs when a
    * new variable must be introduced (see below). `absorbed` carries the
    * original pattern edges the factor summarizes and `internal` the
    * already-summed-out vertices: together they identify the factor's
    * VALUE as a function of its boundary (the number of extensions of
    * the absorbed sub-pattern), which is what the cross-job fold memo
    * keys on. */
  private final case class Factor(vars: Set[Int], df: DataFrame,
    folded: Boolean = false, absorbed: Set[(Int, Int)] = Set.empty,
    internal: Set[Int] = Set.empty)

  /** Canonical key of a folded message: the absorbed sub-pattern with
    * boundary vertices distinguished, minimized over all relabelings
    * that keep boundary and internal vertices separate. Returns the key
    * and, for the SORTED boundary vars, their canonical positions under
    * the minimizing relabeling — the column contract between a memoized
    * frame (columns c0..c{m-1}, cnt) and any consumer (which renames
    * position p_i back to its own i-th sorted boundary var). Two folds
    * with equal keys compute the same extension-count function up to
    * that boundary bijection, so sharing the materialized frame is
    * exact. */
  private def foldKey(vars: Set[Int], internal: Set[Int],
      absorbed: Set[(Int, Int)]): (String, Seq[Int]) = {
    val bnd = vars.toVector.sorted
    val intn = internal.toVector.sorted
    val m = bnd.size
    var best: String = null
    var bestPos: Seq[Int] = null
    for {
      bp <- (0 until m).toVector.permutations
      ip <- (0 until intn.size).toVector.permutations
    } {
      val map = bnd.zip(bp).toMap ++
        intn.zip(ip.map(_ + m)).toMap
      val es = absorbed.toVector.map { case (a, b) =>
        (map(a) min map(b), map(a) max map(b))
      }.sorted
      val enc = m + "|" + es.mkString(",")
      if (best == null || enc < best) { best = enc; bestPos = bnd.map(map) }
    }
    (best, bestPos)
  }

  /** hom(H, G) where H is given as an edge list over 0..k−1 and G as a
    * symmetrized arc DataFrame (x, y). Vertices are summed out
    * min-boundary-first; inside one elimination the factors are joined
    * left-deep, preferring joins that add no new variable (edge-closing
    * — for cliques this reproduces the oriented cascade), then fewest
    * new variables, then the new variable with the most pending factors
    * back into the current boundary. */
  def homCount(k: Int, pedges: Seq[(Int, Int)], arcs: DataFrame,
      cliqueCount: Int => Long,
      foldMemo: Memo[String, DataFrame]): Long = {
    require(pedges.nonEmpty)
    // Precondition: the pattern must be CONNECTED — the elimination
    // joins every vertex's factor bucket as one component, and a
    // disconnected pattern's hom is the PRODUCT of its components'
    // homs, which this engine does not compute (every internal call
    // site — quotients of connected 5-patterns, the clique forms — is
    // connected by construction). Checked up front with a clear
    // message instead of the elimination's late "disconnected
    // elimination bucket" failure.
    locally {
      val adj = pedges.flatMap { case (a, b) => Seq(a -> b, b -> a) }
        .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
      val vs = pedges.flatMap(e => Seq(e._1, e._2)).toSet
      var seen = Set(vs.head)
      var frontier = seen
      while (frontier.nonEmpty) {
        val next = frontier.flatMap(adj.getOrElse(_, Set.empty[Int])) -- seen
        seen ++= next; frontier = next
      }
      require(seen == vs,
        s"homCount requires a connected pattern, got edges $pedges")
    }
    // Complete patterns route through the candidate-set clique kernel:
    // hom(K_k) = k! · (# k-cliques) since a clique hom can neither
    // collapse vertices nor miss an edge. The generic elimination's
    // proposal join materializes the (k−1)-clique × out-degree stream
    // (measured ~27 s for hom(K5) at the sampled sf0.1 fixture vs ~3 s
    // through Mining.kcliqueCount's shrinking sorted-array candidates).
    // `cliqueCount` is that kernel over the census's ONE orientation +
    // out-list build, shared by every complete quotient (K2..K5) instead
    // of re-orienting the arc frame per call.
    if (pedges.size == k * (k - 1) / 2)
      return (1L to k.toLong).product * cliqueCount(k)
    var factors: List[Factor] = pedges.toList.map { case (a, b) =>
      Factor(Set(a, b), arcs.select(col("x").as(s"v$a"), col("y").as(s"v$b"),
        lit(1L).as("cnt")), absorbed = Set((a min b, a max b)))
    }
    var remaining: Set[Int] = pedges.flatMap(e => Seq(e._1, e._2)).toSet
    while (remaining.nonEmpty) {
      val x = remaining.minBy { v =>
        (factors.filter(_.vars(v)).flatMap(_.vars).toSet.size, v)
      }
      val bucket = factors.filter(_.vars(x))
      val boundary = bucket.flatMap(_.vars).toSet
      val closure = factors.filter(_.vars.subsetOf(boundary))
      var cur = bucket.minBy(f => (f.folded, f.vars.size, f.vars.min))
      var curVars = cur.vars
      var curDf = cur.df
      var rest = closure.filterNot(_ eq cur)
      while (rest.nonEmpty) {
        val scored = rest.flatMap { f =>
          val shared = (f.vars & curVars).size
          if (shared == 0) None
          else {
            val nw = f.vars -- curVars
            val support = nw.headOption.fold(0) { w =>
              rest.count(g => g.vars(w) && (g.vars - w).exists(curVars))
            }
            Some((f, nw.size, shared, support))
          }
        }
        require(scored.nonEmpty, s"disconnected elimination bucket at $x")
        // Tie-break: when a NEW variable must be introduced, bring it in
        // through an ORIGINAL arc factor (fan-out ≤ degree) rather than a
        // folded message factor (fan-out = a neighborhood product) —
        // measured 9e7-row vs 1e7-row intermediates on the dense near-
        // clique patterns; the closing probes that follow prune either
        // way, so only the intermediate size changes, never the result.
        val nf = scored.minBy { case (f, nw, sh, sup) =>
          (nw, -sh, f.folded, -sup)
        }._1
        val sharedCols = (nf.vars & curVars).toSeq.sorted.map(v => s"v$v")
        val unioned = (curVars ++ nf.vars).toSeq.sorted
        curDf = curDf
          .join(nf.df.withColumnRenamed("cnt", "cnt_r"), sharedCols)
          .select(unioned.map(v => col(s"v$v")) :+
            (col("cnt") * col("cnt_r")).as("cnt"): _*)
        curVars = curVars ++ nf.vars
        rest = rest.filterNot(_ eq nf)
      }
      val outVars = (curVars - x).toSeq.sorted
      val absorbedAll = closure.flatMap(_.absorbed).toSet
      val internalAll = closure.flatMap(_.internal).toSet + x
      val newFactor =
        if (outVars.isEmpty)
          Factor(Set.empty, curDf.agg(
              coalesce(sum(col("cnt")), lit(0L)).as("cnt")),
            folded = true, absorbedAll, internalAll)
        else {
          // cross-job sharing: the fold's value is the extension count
          // of its absorbed sub-pattern, so any fold with the same
          // canonical (boundary-distinguished) structure is the SAME
          // frame up to the boundary bijection foldKey returns. The
          // memo materializes it exactly once (eager checkpoint) across
          // the census's hom jobs; positional ties between producer and
          // consumer differ only by an automorphism of the canonical
          // form, under which the function is symmetric.
          val (key, pos) = foldKey(curVars - x, internalAll, absorbedAll)
          val frame = foldMemo.getOrCompute(key)(
            curDf
              .groupBy(outVars.map(v => col(s"v$v")): _*)
              .agg(sum(col("cnt")).as("cnt"))
              .select(outVars.zip(pos).map { case (v, p) =>
                col(s"v$v").as(s"c$p") } :+ col("cnt"): _*)
              .transform(Materialize(_)))
          Factor(curVars - x,
            frame.select(outVars.zip(pos).map { case (v, p) =>
              col(s"c$p").as(s"v$v") } :+ col("cnt"): _*),
            folded = true, absorbedAll, internalAll)
        }
      factors = newFactor ::
        factors.filterNot(f => closure.exists(_ eq f))
      remaining -= x
    }
    factors.map(_.df.first().getLong(0)).product
  }

  // ------------------------------------------------------------------
  // The census
  // ------------------------------------------------------------------

  /** One row with the 21 induced connected 5-vertex pattern counts of
    * the (cleaned, symmetrized) graph, columns = [[names]]. Quotient
    * homs are shared across patterns and all hom jobs run concurrently
    * (independent Spark jobs over one checkpointed arc frame). */
  def census(edges: DataFrame): DataFrame = {
    val spark = edges.sparkSession
    val arcs = GraphOps.symmetrize(GraphOps.clean(edges))
      .select(col("src").as("x"), col("dst").as("y"))
      .transform(Materialize(_))
    val terms: Vector[Vector[(Long, QKey)]] = patterns.map(homTerms)
    // one orientation + out-list build shared by every complete quotient
    // (K2..K5 all route through the candidate-set clique kernel)
    val orientedArcs = Triangles
      .orientByDegree(arcs.select(col("x").as("src"), col("y").as("dst")))
      .transform(Materialize(_))
    val arcOlists = Materialize(Mining.outLists(orientedArcs))
    val cliqueFn: Int => Long =
      k => Mining.kcliqueCount(orientedArcs, k, arcOlists)
    // densest first (they run longest), on a BOUNDED pool: the ~30 hom
    // jobs are individually tiny-staged, and submitting them all at
    // once just thrashes the scheduler (measured 3-7x per-hom wall
    // inflation at 31-way concurrency on 32 cores).
    val keys = terms.flatten.map(_._2).distinct
      .sortBy(q => (-q.k, -q.qedges.size))
    // 6 threads kept deep lazy pipelines from thrashing the scheduler
    // (measured 3-7x per-hom inflation at 31-way); with the fold memo
    // the jobs become stepwise-materialized and often BLOCK on a shared
    // fold another job is materializing, so a somewhat wider Par is
    // needed to keep independent work in flight while producers
    // materialize (measured in OPTIMIZATION_r06.md).
    // One fold memo per census call (per-JVM, rebuilt from the arc
    // frame every invocation): the ~30 hom jobs share every
    // structurally-identical folded message (degree tables,
    // common-neighbor counts, path messages, triangle-extension
    // counts) instead of each re-aggregating its own copy.
    val foldMemo = new Memo[String, DataFrame]
    val homs: Map[QKey, Long] = Par.map(keys, 10)(q =>
      q -> homCount(q.k, q.qedges, arcs, cliqueFn, foldMemo)).toMap
    val subs = patterns.indices.map { i =>
      val inj = terms(i).map { case (c, q) => c * homs(q) }.sum
      val a = aut(patterns(i))
      require(inj >= 0 && inj % a == 0,
        s"inj(${names(i)}) = $inj not divisible by |Aut| = $a")
      inj / a
    }.toVector
    val induced = inducedFromSub(subs)
    val schema = StructType(names.map(n => StructField(n, LongType, nullable = false)))
    spark.createDataFrame(
      java.util.Collections.singletonList(Row(induced: _*)), schema)
  }
}
