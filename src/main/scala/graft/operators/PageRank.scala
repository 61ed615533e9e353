package graft.operators

import graft.exec.Materialize
import graft.operators.Supersteps.Step
import graft.plans.SnapshotStore
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

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
 * yields the L1 residual too. The three loops run through [[Supersteps]]:
 * with a store, the state is committed whenever a step reaches or crosses a
 * multiple of `checkpointEvery` supersteps, and when the run stops, so the
 * run is resumable mid-iteration.
 */
object PageRank {

  val Alpha = 0.85

  /** Pull-topological power iteration (PageRank-pull.cpp:201-281). With
    * `tol >= 0` every superstep is checked against the L1 residual;
    * `tol < 0` runs exactly `maxIter` supersteps (fixed mode). */
  def runTopo(
      adj: Adjacency,
      tol: Double = 1e-6,
      maxIter: Int = 1000,
      alpha: Double = Alpha,
      checkpointEvery: Int = 25,
      store: Option[SnapshotStore] = None,
      resume: Boolean = false): PageRankResult = {

    // tol < 0 → fixed-iteration mode: no residual, no self rows.
    val trackResidual = tol >= 0
    val n = adj.numVertices
    val base = (1.0 - alpha) / n

    // contributions value(u)/nout(u) along out-edges, partially
    // aggregated map-side before the one dst shuffle
    def gather(st: DataFrame): DataFrame =
      adj.scatter(st, (col("value") / col("deg")).as("c"))
    val rank = (lit(base) + lit(alpha) * sum(col("c"))).as("value")

    // unchecked step (fixed mode): the static zero-in-degree base ranks
    // are union'd in AFTER the aggregation, so they shuffle nothing; the
    // state is referenced once
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

    // The capped local checkpoint truncates the logical plan at every
    // materialization (the gather join would otherwise multiply the leaf's
    // size estimate every superstep). Durability across executor loss
    // comes from the SnapshotStore commits, not this checkpoint.
    val r = Supersteps.run("pagerank_topo", adj.numEdges, maxIter,
        checkpointEvery, store, resume)(
      // the start state is a leaf already (the cached vertex table or the
      // snapshot's parquet files), so it is not checkpointed
      resumed => (resumed.getOrElse(
        adj.vertices.select(col("id"), lit(1.0 / n).as("value"))), false)) {
      (iter, st) =>
        if (trackResidual) {
          // the step's input is a leaf, read twice (gather, self rows);
          // the residual rides the step's materializing action
          val o = Materialize.observed(checkedSuperstep(st),
            Seq(sum(abs(col("value") - col("prev"))).as("l1")),
            _.select(col("id"), col("value")))
          val l1 = o.double("l1")
          Step(o.df, 1, l1, l1 <= tol)
        } else {
          // Fixed mode has no per-superstep stop test, so up to 8
          // supersteps chain lazily into ONE Catalyst job (plan depth grows
          // linearly — the superstep references its input once): the
          // serial driver cost (planning, action round-trip, checkpoint
          // write) is paid once per chunk instead of once per superstep,
          // which is the overhead that caps thread scaling of the short
          // fixed-iteration bench loops.
          val steps = math.min(8, maxIter - iter)
          Step(Materialize((1 to steps).foldLeft(st)((s, _) => superstep(s))),
            steps, Double.NaN, false)
        }
    }
    PageRankResult(r.state, r.iterations, r.done, r.metrics)
  }

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

    // the frontier size rides every materializing pass, the start
    // state's included; an empty start frontier runs no superstep
    val frontierN = sum(when(col("residual") > tol, 1L).otherwise(0L))
    val r = Supersteps.run("pagerank_push", adj.numEdges, maxIter,
        checkpointEvery, store, resume) { resumed =>
      val o = Materialize.observed(resumed.getOrElse(
        adj.vertices.select(col("id"), lit(0.0).as("value"),
          lit(1.0 - alpha).as("residual"))), frontierN.as("f"))
      (o.df, o.long("f") == 0L)
    } { (_, state) =>
      // scatter: delta = residual*alpha/outdeg to each out-neighbor;
      // the frontier filter is pushed below the join by Catalyst.
      val deltas = adj
        .scatter(state.filter(col("residual") > tol),
          (col("residual") * alpha / col("deg")).as("d"))
        .groupBy("id").agg(sum(col("d")).as("dsum"))

      val active = col("residual") > tol
      val o = Materialize.observed(state
        .join(deltas, Seq("id"), "left")
        .select(
          col("id"),
          (col("value") + when(active, col("residual")).otherwise(lit(0.0)))
            .as("value"),
          (when(active, lit(0.0)).otherwise(col("residual"))
            + coalesce(col("dsum"), lit(0.0))).as("residual")),
        frontierN.as("f"), sum(col("residual")).as("res_l1"))
      Step(o.df, 1, o.double("res_l1"), o.long("f") == 0L)
    }
    PageRankResult(r.state.select(col("id"), col("value")), r.iterations,
      r.done, r.metrics)
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

    val outdeg = adj.blocks.groupBy("src").agg(first(col("deg")).as("odeg"))
    // reference accum: this round's activations with out-edges — a
    // function of the state BEFORE the round, so each round's observe
    // (the start state's included) yields the NEXT round's value. The
    // reference breaks AFTER running the round whose accum is 0 (that
    // round still flushes dangling activations), so the stop test uses
    // the accum of the round being entered, not the one just produced.
    val accum = sum(when(col("residual") > tol && col("deg") > 0, 1L)
      .otherwise(0L))
    var nextAccum = 0L
    val r = Supersteps.run("pagerank_residual", adj.numEdges, maxIter,
        checkpointEvery, store, resume) { resumed =>
      val o = Materialize.observed(resumed.getOrElse(
        adj.vertices.join(outdeg, adj.vertices("id") === outdeg("src"), "left")
          .select(col("id"), coalesce(col("odeg"), lit(0L)).as("deg"),
            lit(0.0).as("value"), lit(1.0 - alpha).as("residual"))),
        accum.as("accum"))
      nextAccum = o.long("accum")
      (o.df, false)
    } { (_, state) =>
      val thisAccum = nextAccum
      // the state carries `deg` too, so the block's side is named
      val deltas = adj
        .scatter(state.filter(col("residual") > tol),
          ((col("residual") * alpha) / adj.blocks("deg")).as("d"))
        .groupBy("id").agg(sum(col("d")).as("dsum"))

      val active = col("residual") > tol
      val o = Materialize.observed(state
        .join(deltas, Seq("id"), "left")
        .select(
          col("id"), col("deg"),
          (col("value") + when(active, col("residual")).otherwise(lit(0.0)))
            .as("value"),
          when(col("dsum") > 0, col("dsum"))
            .otherwise(when(active, lit(0.0)).otherwise(col("residual")))
            .as("residual")),
        accum.as("accum"), sum(col("residual")).as("res_l1"))
      nextAccum = o.long("accum")
      Step(o.df, 1, o.double("res_l1"), thisAccum == 0L)
    }
    PageRankResult(r.state.select(col("id"), col("value")), r.iterations,
      r.done, r.metrics)
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
