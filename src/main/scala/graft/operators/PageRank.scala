package graft.operators

import graft.plans.SnapshotStore
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import scala.collection.mutable.ArrayBuffer

/** One superstep's runtime stats (the reference's -statFile rows). */
final case class IterMetric(superstep: Int, l1Residual: Double,
    edgesProcessed: Long, millis: Long)

final case class PageRankResult(ranks: DataFrame, iterations: Int,
    converged: Boolean, metrics: Seq[IterMetric])

/**
 * PageRank over a CSR-blocked adjacency, matching the reference's numeric
 * semantics exactly:
 *
 *  - damping ALPHA = 0.85, INIT_RESIDUAL = 1-ALPHA
 *    (PageRank-constants.h:32-33)
 *  - pull-topological recurrence `new = ALPHA * Σ_{u→v} value(u)/nout(u)
 *    + (1-ALPHA)/N`, convergence on the global L1 residual
 *    Σ|new-old| ≤ tolerance (PageRank-pull.cpp:201-281)
 *  - push-sync residual propagation: vertices with residual > tolerance
 *    flush `value += r` and scatter `r*ALPHA/outdeg` to out-neighbors;
 *    terminate when the frontier is empty (PageRank-push.cpp:103-190)
 *  - dangling vertices: NO mass redistribution — `value/nout` only where
 *    nout > 0, lost mass stays lost (PageRank-pull.cpp:155-156,241)
 *
 * Each superstep is one Catalyst-planned job: state (O(V)) shuffles onto the
 * adjacency's stable src-partitioning, contributions partially aggregate
 * map-side before the single O(E)→O(V) shuffle on dst; a checked
 * superstep's dst aggregation also takes one self row per vertex, so it
 * yields the L1 residual too. Every `checkpointEvery` supersteps the state
 * is committed to the SnapshotStore and re-read, truncating lineage and
 * making the run resumable mid-iteration.
 */
object PageRank {

  val Alpha = 0.85

  /** Pull-topological power iteration (PageRank-pull.cpp:201-281).
    *
    * `checkEvery` > 1 chains that many supersteps LAZILY into one Catalyst
    * job before materializing and testing the L1 residual — amortizing the
    * serial per-superstep driver cost (planning, action round-trip,
    * checkpoint write) that otherwise dominates and caps thread scaling.
    * The residual is still a true consecutive-superstep L1 (the chunk's
    * last two states both materialize); the only semantic difference from
    * the reference's every-iteration check is that the loop can run up to
    * checkEvery-1 extra supersteps past the crossing point — i.e. it stops
    * strictly MORE converged, which the 1e-6 allclose gate absorbs. */
  def runTopo(
      adj: Adjacency,
      tol: Double = 1e-6,
      maxIter: Int = 1000,
      alpha: Double = Alpha,
      checkpointEvery: Int = 25,
      store: Option[SnapshotStore] = None,
      resume: Boolean = false,
      checkEvery: Int = 1): PageRankResult = {

    // capped eager checkpoint: the gather join multiplies the checkpoint
    // leaf's inherited size estimate every superstep (see GraftPlanBridge)
    def ck(df: DataFrame): DataFrame =
      org.apache.spark.sql.GraftPlanBridge.checkpointCapped(df)

    // tol < 0 → fixed-iteration mode: no residual, no self rows.
    val trackResidual = tol >= 0
    val n = adj.numVertices
    val base = (1.0 - alpha) / n
    val metrics = ArrayBuffer.empty[IterMetric]

    // contributions value(u)/nout(u) along out-edges, partially
    // aggregated map-side before the one dst shuffle
    def gather(st: DataFrame): DataFrame = adj.blocks
      .join(st, adj.blocks("src") === st("id"))
      .select(explode(col("dsts")).as("id"),
        (col("value") / col("deg")).as("c"))
    val rank = (lit(base) + lit(alpha) * sum(col("c"))).as("value")

    // unchecked step (fixed mode, or inside a checkEvery chain): the
    // static zero-in-degree base ranks are union'd in AFTER the
    // aggregation, so they shuffle nothing; the state is referenced once
    def superstep(st: DataFrame): DataFrame = gather(st)
      .groupBy("id").agg(rank)
      .unionAll(adj.noInbound.select(col("id"), lit(base).as("value")))

    // checked step: one self row per vertex (c = 0.0, prev = old rank), so
    // the same aggregation yields the zero-in-degree base ranks and the L1
    // residual; nothing else is joined
    def checkedSuperstep(st: DataFrame): DataFrame = gather(st)
      .select(col("*"), lit(null).cast("double").as("prev"))
      .unionAll(
        st.select(col("id"), lit(0.0).as("c"), col("value").as("prev")))
      .groupBy("id").agg(rank, max(col("prev")).as("prev"))

    // the start state is a leaf already (the cached vertex table or the
    // snapshot's parquet files), so it is not checkpointed
    val resumed = if (resume) store.flatMap(_.latest("pagerank_topo")) else None
    var iter = resumed.map(_._1).getOrElse(0)
    var state = resumed.map(_._2).getOrElse(
      adj.vertices.select(col("id"), lit(1.0 / n).as("value")))

    var converged = false
    while (!converged && iter < maxIter) {
      val t0 = System.nanoTime()
      // Fixed-iteration mode has no per-superstep stop test, so chain up
      // to 8 supersteps lazily into ONE Catalyst job (plan depth grows
      // linearly — the superstep references its input once): the serial
      // driver cost (planning, action round-trip, checkpoint write) is
      // paid once per chunk instead of once per superstep, which is the
      // overhead that caps thread scaling of the short fixed-iteration
      // bench loops. Residual mode keeps the caller's checkEvery.
      val chunk = if (trackResidual) checkEvery else math.max(checkEvery, 8)
      val steps = math.min(chunk, maxIter - iter)
      // localCheckpoint truncates the logical plan at every
      // materialization. Durability across executor loss comes from the
      // SnapshotStore commits, not this non-reliable checkpoint.
      val chain = (1 until steps).foldLeft(state)((st, _) => superstep(st))
      var (next, l1) =
        if (!trackResidual) (ck(superstep(chain)), Double.NaN)
        else {
          // the checked step reads its input twice (gather, self rows), so
          // the input is materialized; the residual rides the step's action
          val obs = org.apache.spark.sql.Observation()
          (ck(checkedSuperstep(if (steps == 1) chain else ck(chain))
            .observe(obs, sum(abs(col("value") - col("prev"))).as("l1"))
            .select(col("id"), col("value"))), observed(obs, "l1", 0.0))
        }

      iter += steps
      val ms = (System.nanoTime() - t0) / 1000000
      metrics += IterMetric(iter, l1, adj.numEdges * steps, ms)
      store.foreach(_.appendMetrics("pagerank_topo", iter, l1,
        adj.numEdges * steps, ms))
      converged = trackResidual && l1 <= tol

      if (store.nonEmpty && (iter % checkpointEvery < steps || converged)) {
        next = store.get.commitState("pagerank_topo", iter, next)
      }
      state = next
    }
    PageRankResult(state, iter, converged, metrics.toSeq)
  }

  /** An observed metric: a missing key throws rather than pass as
    * converged or not; a null sum (empty input) reads as `zero`. */
  private def observed[T](obs: org.apache.spark.sql.Observation,
      key: String, zero: T): T =
    Option(obs.get.getOrElse(key, throw new IllegalStateException(
      s"observed metric '$key' missing"))).fold(zero)(_.asInstanceOf[T])

  /** Exactly `k` pull-topo iterations, no convergence check — the
    * deterministic kernel used by the SQL-oracle correctness queries. */
  def topoFixed(adj: Adjacency, k: Int, alpha: Double = Alpha): DataFrame =
    runTopo(adj, tol = -1.0, maxIter = k, alpha = alpha).ranks

  /**
   * Push-sync residual PageRank (PageRank-push.cpp:103-190). Reference
   * conventions: value starts 0, residual starts 1-ALPHA (so converged
   * values are N× the pull-topo values); a vertex enters the frontier when
   * residual > tolerance; dangling frontier vertices absorb their residual
   * into value and scatter nothing.
   */
  def runPush(
      adj: Adjacency,
      tol: Double = 1e-6,
      maxIter: Int = 1000,
      alpha: Double = Alpha,
      checkpointEvery: Int = 25,
      store: Option[SnapshotStore] = None,
      resume: Boolean = false): PageRankResult = {

    val metrics = ArrayBuffer.empty[IterMetric]
    val resumed = if (resume) store.flatMap(_.latest("pagerank_push")) else None
    var iter = resumed.map(_._1).getOrElse(0)
    var state = resumed.map(_._2).getOrElse(
      adj.vertices.select(col("id"), lit(0.0).as("value"),
        lit(1.0 - alpha).as("residual")))
      .localCheckpoint(true)

    var frontierSize = state.filter(col("residual") > tol).count()
    var converged = frontierSize == 0L

    while (!converged && iter < maxIter) {
      val t0 = System.nanoTime()
      val frontier = state.filter(col("residual") > tol)
      // scatter: delta = residual*alpha/outdeg to each out-neighbor;
      // the frontier filter is pushed below the join by Catalyst.
      val deltas = adj.blocks
        .join(frontier, adj.blocks("src") === frontier("id"))
        .select(explode(col("dsts")).as("id"),
          (col("residual") * alpha / col("deg")).as("d"))
        .groupBy("id").agg(sum(col("d")).as("dsum"))

      val active = col("residual") > tol
      var next = state
        .join(deltas, Seq("id"), "left")
        .select(
          col("id"),
          (col("value") + when(active, col("residual")).otherwise(lit(0.0)))
            .as("value"),
          (when(active, lit(0.0)).otherwise(col("residual"))
            + coalesce(col("dsum"), lit(0.0))).as("residual"))
        .localCheckpoint(true)

      val row = next.agg(
        sum(when(col("residual") > tol, 1L).otherwise(0L)),
        sum(col("residual"))).first()
      frontierSize = row.getLong(0)
      val l1 = row.getDouble(1)

      iter += 1
      val ms = (System.nanoTime() - t0) / 1000000
      metrics += IterMetric(iter, l1, adj.numEdges, ms)
      store.foreach(_.appendMetrics("pagerank_push", iter, l1, adj.numEdges, ms))
      converged = frontierSize == 0L

      if (store.nonEmpty && (iter % checkpointEvery == 0 || converged)) {
        next = store.get.commitState("pagerank_push", iter, next)
      }
      state = next
    }
    PageRankResult(state.select(col("id"), col("value")), iter, converged,
      metrics.toSeq)
  }

  /**
   * Pull-residual PageRank — the reference's DEFAULT algorithm
   * (`-algo=Residual`, PageRank-pull.cpp:137-195), expressed in
   * original-graph orientation (the reference runs on the transpose, so
   * its `edges(src)` are in-edges here). Per round:
   *
   *  - activation (l.151-158): a vertex with residual > tolerance flushes
   *    `value += residual`, zeroes the residual, and — if nout > 0 —
   *    scatters `delta = residual * ALPHA / nout` to out-neighbors,
   *    counting toward the activation accumulator;
   *  - gather (l.163-178): each vertex sums incoming deltas; a POSITIVE
   *    sum OVERWRITES the residual (`residual[src] = sum`, l.175 — any
   *    sub-tolerance residue is dropped, reference semantics kept
   *    bit-for-bit);
   *  - stop when no activated vertex had out-edges (`!accum.reduce()`,
   *    l.184-187).
   *
   * Init (initNodeDataResidual, l.74-86): value = 0, residual = 1-ALPHA,
   * so converged values are N× the pull-topo values. The frontier shrinks
   * as vertices converge — on power-law web graphs most supersteps touch
   * a small fraction of V, which is why this is the reference default.
   *
   * Scale shape mirrors [[runPush]]: the frontier filter is pushed below
   * the blocks join, deltas partially aggregate map-side before the one
   * dst shuffle, and the activation count for the NEXT round rides the
   * materializing pass via `Dataset.observe` (state carries the static
   * out-degree so no extra join is needed).
   */
  def runResidual(
      adj: Adjacency,
      tol: Double = 1e-6,
      maxIter: Int = 1000,
      alpha: Double = Alpha,
      checkpointEvery: Int = 25,
      store: Option[SnapshotStore] = None,
      resume: Boolean = false): PageRankResult = {

    val metrics = ArrayBuffer.empty[IterMetric]
    val resumed =
      if (resume) store.flatMap(_.latest("pagerank_residual")) else None
    var iter = resumed.map(_._1).getOrElse(0)
    val outdeg = adj.blocks.groupBy("src").agg(first(col("deg")).as("odeg"))
    var state = resumed.map(_._2).getOrElse(
      adj.vertices.join(outdeg, adj.vertices("id") === outdeg("src"), "left")
        .select(col("id"), coalesce(col("odeg"), lit(0L)).as("deg"),
          lit(0.0).as("value"), lit(1.0 - alpha).as("residual")))
      .localCheckpoint(true)

    // reference accum: this round's activations with out-edges — a
    // function of the state BEFORE the round, so each round's observe
    // yields the NEXT round's value. The reference breaks AFTER running
    // the round whose accum is 0 (that round still flushes dangling
    // activations), so the test below uses the accum of the round being
    // entered, not the one just produced.
    var nextAccum = state.filter(col("residual") > tol && col("deg") > 0)
      .count()
    var converged = false

    while (!converged && iter < maxIter) {
      val thisAccum = nextAccum
      val t0 = System.nanoTime()
      val frontier = state.filter(col("residual") > tol)
      val deltas = adj.blocks
        .join(frontier, adj.blocks("src") === frontier("id"))
        .select(explode(col("dsts")).as("id"),
          ((col("residual") * alpha) / adj.blocks("deg")).as("d"))
        .groupBy("id").agg(sum(col("d")).as("dsum"))

      val active = col("residual") > tol
      val obs = org.apache.spark.sql.Observation()
      var next = state
        .join(deltas, Seq("id"), "left")
        .select(
          col("id"), col("deg"),
          (col("value") + when(active, col("residual")).otherwise(lit(0.0)))
            .as("value"),
          when(col("dsum") > 0, col("dsum"))
            .otherwise(when(active, lit(0.0)).otherwise(col("residual")))
            .as("residual"))
        .observe(obs,
          sum(when(col("residual") > tol && col("deg") > 0, 1L)
            .otherwise(0L)).as("accum"),
          sum(col("residual")).as("res_l1"))
        .localCheckpoint(true)

      nextAccum = observed(obs, "accum", 0L)
      val l1 = observed(obs, "res_l1", 0.0)
      iter += 1
      val ms = (System.nanoTime() - t0) / 1000000
      metrics += IterMetric(iter, l1, adj.numEdges, ms)
      store.foreach(_.appendMetrics("pagerank_residual", iter, l1,
        adj.numEdges, ms))
      converged = thisAccum == 0L

      if (store.nonEmpty && (iter % checkpointEvery == 0 || converged)) {
        next = store.get.commitState("pagerank_residual", iter, next)
      }
      state = next
    }
    PageRankResult(state.select(col("id"), col("value")), iter, converged,
      metrics.toSeq)
  }

  /** Exactly `k` pull-residual rounds with tolerance 0 (active =
    * residual > 0), no stop check — the deterministic kernel for the SQL
    * oracle queries. */
  def residualFixed(adj: Adjacency, k: Int, alpha: Double = Alpha): DataFrame =
    runResidual(adj, tol = 0.0, maxIter = k, alpha = alpha).ranks

  /** Top-k report (printTop, PageRank-constants.h:78-109): rank desc,
    * ties → SMALLER id first (TopPair::operator< at :61-65 orders by
    * (value, id) and printTop reverse-iterates the map, so equal values
    * emit in descending insertion order = ascending id). */
  def topK(ranks: DataFrame, k: Int = 20): DataFrame =
    ranks.orderBy(col("value").desc, col("id").asc).limit(k)

  /** Sanity aggregates (PageRank-pull.cpp:354-379). */
  def sanity(ranks: DataFrame): DataFrame =
    ranks.agg(max(col("value")).as("max_rank"),
      min(col("value")).as("min_rank"),
      sum(col("value")).as("sum_rank"))
}
