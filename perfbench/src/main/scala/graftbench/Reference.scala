package graftbench

/**
 * In-driver reference answers over CSR arrays, written independently of the
 * engine's Spark plans. Vertex ids are dense ints in [0, n); `present`
 * marks the vertex set (a raw edge table can leave ids unused).
 */
final class Csr(val n: Int, val present: Array[Boolean],
    val offsets: Array[Int], val targets: Array[Int]) {
  def outDeg(u: Int): Int = offsets(u + 1) - offsets(u)
  def numVertices: Int = present.count(identity)
}

object Reference {
  val Alpha = 0.85

  /** CSR over (src, dst) pairs; targets of each row sorted ascending. */
  def csr(n: Int, present: Array[Boolean], src: Array[Int],
      dst: Array[Int]): Csr = {
    val offsets = new Array[Int](n + 1)
    src.foreach(s => offsets(s + 1) += 1)
    for (i <- 0 until n) offsets(i + 1) += offsets(i)
    val fill = offsets.clone()
    val targets = new Array[Int](src.length)
    for (i <- src.indices) { targets(fill(src(i))) = dst(i); fill(src(i)) += 1 }
    for (u <- 0 until n) java.util.Arrays.sort(targets, offsets(u), offsets(u + 1))
    new Csr(n, present, offsets, targets)
  }

  /** Self-loops dropped and duplicates removed, as the engine's cleaning
    * step defines a clean edge table. */
  def clean(src: Array[Int], dst: Array[Int]): (Array[Int], Array[Int]) = {
    val keys = src.indices.iterator.filter(i => src(i) != dst(i))
      .map(i => (src(i).toLong << 32) | dst(i).toLong).toArray
    java.util.Arrays.sort(keys)
    val uniq = if (keys.isEmpty) keys
      else keys.head +: (1 until keys.length).iterator
        .filter(i => keys(i) != keys(i - 1)).map(keys).toArray
    (uniq.map(k => (k >>> 32).toInt), uniq.map(_.toInt))
  }

  /** Both directions of every edge, duplicates removed. */
  def symmetrize(src: Array[Int], dst: Array[Int]): (Array[Int], Array[Int]) =
    clean(src ++ dst, dst ++ src)

  def endpoints(n: Int, src: Array[Int], dst: Array[Int]): Array[Boolean] = {
    val p = new Array[Boolean](n)
    src.foreach(p(_) = true)
    dst.foreach(p(_) = true)
    p
  }

  /** Pull-topological PageRank: new(v) = (1-a)/N + a * sum over u->v of
    * value(u)/outdeg(u), from 1/N, stopping when the L1 change is at most
    * `tol`. Returns (ranks, iters, converged). */
  def pagerankTopo(g: Csr, tol: Double, maxIter: Int)
      : (Array[Double], Int, Boolean) = {
    val nv = g.numVertices
    val base = (1.0 - Alpha) / nv
    var cur = Array.tabulate(g.n)(v => if (g.present(v)) 1.0 / nv else 0.0)
    var iter = 0
    var converged = false
    while (!converged && iter < maxIter) {
      val acc = new Array[Double](g.n)
      for (u <- 0 until g.n if g.outDeg(u) > 0) {
        val c = cur(u) / g.outDeg(u)
        var i = g.offsets(u)
        while (i < g.offsets(u + 1)) { acc(g.targets(i)) += c; i += 1 }
      }
      val next = Array.tabulate(g.n)(v =>
        if (g.present(v)) base + Alpha * acc(v) else 0.0)
      var l1 = 0.0
      for (v <- 0 until g.n) l1 += math.abs(next(v) - cur(v))
      cur = next
      iter += 1
      converged = l1 <= tol
    }
    (cur, iter, converged)
  }

  /** Residual (push) PageRank as the engine defines it: a vertex whose
    * residual exceeds `tol` folds it into its value and pushes
    * residual*a/outdeg to each out-neighbour; a vertex that received pushes
    * takes their sum as its new residual. Stops after the round entered
    * with no active vertex that has out-edges, or after `maxIter` rounds.
    * Returns (values, rounds). */
  def pagerankResidual(g: Csr, tol: Double, maxIter: Int)
      : (Array[Double], Int) = {
    val value = new Array[Double](g.n)
    var res = Array.tabulate(g.n)(v => if (g.present(v)) 1.0 - Alpha else 0.0)
    def accum(r: Array[Double]) =
      (0 until g.n).count(v => g.present(v) && r(v) > tol && g.outDeg(v) > 0)
    var nextAccum = accum(res)
    var iter = 0
    var converged = false
    while (!converged && iter < maxIter) {
      val thisAccum = nextAccum
      val dsum = new Array[Double](g.n)
      for (u <- 0 until g.n if g.present(u) && res(u) > tol && g.outDeg(u) > 0) {
        val d = res(u) * Alpha / g.outDeg(u)
        var i = g.offsets(u)
        while (i < g.offsets(u + 1)) { dsum(g.targets(i)) += d; i += 1 }
      }
      val next = new Array[Double](g.n)
      for (v <- 0 until g.n if g.present(v)) {
        val active = res(v) > tol
        if (active) value(v) += res(v)
        next(v) = if (dsum(v) > 0) dsum(v) else if (active) 0.0 else res(v)
      }
      res = next
      nextAccum = accum(res)
      iter += 1
      converged = thisAccum == 0
    }
    (value, iter)
  }

  /** Component label = smallest vertex id of the component (union-find). */
  def components(g: Csr): Array[Int] = {
    val parent = Array.tabulate(g.n)(identity)
    def find(x: Int): Int = {
      var r = x
      while (parent(r) != r) r = parent(r)
      var y = x
      while (parent(y) != r) { val nx = parent(y); parent(y) = r; y = nx }
      r
    }
    for (u <- 0 until g.n; i <- g.offsets(u) until g.offsets(u + 1)) {
      val a = find(u)
      val b = find(g.targets(i))
      if (a != b) { if (a < b) parent(b) = a else parent(a) = b }
    }
    Array.tabulate(g.n)(find)
  }

  /** Fixpoint of label(v) = min(label(v), min over u->v of label(u)). */
  def minLabelFixpoint(g: Csr): Array[Int] = {
    val label = Array.tabulate(g.n)(identity)
    var changed = true
    while (changed) {
      changed = false
      for (u <- 0 until g.n; i <- g.offsets(u) until g.offsets(u + 1)) {
        val v = g.targets(i)
        if (label(u) < label(v)) { label(v) = label(u); changed = true }
      }
    }
    label
  }

  /** Undirected triangles of a symmetric graph: orient each edge from the
    * lower (degree, id) end and count sorted-list intersections. */
  def triangles(sym: Csr): Long = {
    def lower(a: Int, b: Int) = {
      val (da, db) = (sym.outDeg(a), sym.outDeg(b))
      da < db || (da == db && a < b)
    }
    val out = Array.tabulate(sym.n)(u =>
      (sym.offsets(u) until sym.offsets(u + 1)).map(sym.targets)
        .filter(lower(u, _)).toArray.sorted)
    var count = 0L
    for (a <- 0 until sym.n; b <- out(a)) {
      val (x, y) = (out(a), out(b))
      var i = 0
      var j = 0
      while (i < x.length && j < y.length) {
        if (x(i) == y(j)) { count += 1; i += 1; j += 1 }
        else if (x(i) < y(j)) i += 1
        else j += 1
      }
    }
    count
  }

  /** Ids of `got` differing from `want` beyond rtol 1e-6 (atol 1e-12),
    * or present on one side only; empty when they agree. */
  def rankMismatches(g: Csr, want: Array[Double],
      got: Map[Int, Double]): Seq[Int] = {
    val ids = (0 until g.n).filter(g.present)
    val missing = ids.filterNot(got.contains) ++
      got.keys.filterNot(v => v < g.n && g.present(v))
    missing ++ ids.filter(got.contains).filter { v =>
      math.abs(got(v) - want(v)) > 1e-12 + 1e-6 * math.abs(want(v))
    }
  }

  /** Ids of the vertex set whose label differs from `want` (exact). */
  def labelMismatches(g: Csr, want: Array[Int],
      got: Map[Int, Long]): Seq[Int] = {
    val ids = (0 until g.n).filter(g.present)
    ids.filter(v => !got.get(v).contains(want(v).toLong)) ++
      got.keys.filterNot(v => v < g.n && g.present(v))
  }
}
