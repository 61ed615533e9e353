package graft.operators

import graft.exec.Materialize
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/**
 * Betweenness centrality (Brandes' algorithm) for a fixed source set —
 * the reference's `betweennesscentrality` Lonestar app
 * (lonestar/analytics/cpu/betweennesscentrality/BetweennessCentrality.cpp:28,
 * 77-80, Level/Async/Outer variants; SURVEY.md §2.6). The Level variant's
 * structure maps directly to BSP:
 *
 *  - forward: per source, a BFS that also accumulates σ(v) — the number
 *    of shortest s→v paths (σ of a newly reached vertex = Σ σ(parent)
 *    over its level-(l−1) parents). All sources run AT ONCE, keyed
 *    (q, id): one frontier join per level serves every source.
 *  - backward: dependencies δ(v) = Σ_{w: succ on the BFS DAG}
 *    (σ(v)/σ(w)) · (1 + δ(w)), accumulated level by level from the
 *    deepest frontier back to the sources; bc(v) = Σ_sources δ(v),
 *    v ≠ source (Brandes 2001, "A faster algorithm for betweenness
 *    centrality").
 *
 * σ values are exact integers; δ/bc are doubles emitted ×1e9-rounded by
 * the driver query. `maxLevels` bounds both phases (like the unrolled SQL
 * oracle); vertices farther than maxLevels from every source contribute
 * nothing and carry bc = 0.
 */
object Betweenness {

  /** Forward phase: ((q, id, dist, sigma) for every vertex within
    * `maxLevels` hops of its source q, deepest level that added any
    * vertex). Rounds after every per-source frontier drains are no-ops
    * (empty frontier ⇒ empty candidate set ⇒ unchanged state), so the
    * loop exits early — the observe rides the materializing pass, and
    * the result still equals the full maxLevels unroll the SQL oracle
    * runs (the same argument as Bfs.run). */
  private[operators] def forward(adj: Adjacency, sources: Seq[Long],
      maxLevels: Int): (DataFrame, Int) = {
    val spark = adj.blocks.sparkSession
    import spark.implicits._
    var state = sources.map(q => (q, q, 0, 1L))
      .toDF("q", "id", "dist", "sigma").transform(Materialize(_))
    var deepest = 0
    var exhausted = false
    for (r <- 1 to maxLevels if !exhausted) {
      val frontier = state.filter(col("dist") === r - 1)
      val cand = adj.blocks
        .join(frontier, adj.blocks("src") === frontier("id"))
        .select(col("q"), explode(col("dsts")).as("id"), col("sigma"))
        .groupBy("q", "id").agg(sum(col("sigma")).as("sigma"))
      val fresh = cand.join(state.select("q", "id"), Seq("q", "id"),
        "left_anti")
      val o = Materialize.observed(state.unionAll(
          fresh.select(col("q"), col("id"), lit(r).as("dist"), col("sigma"))),
        sum(when(col("dist") === r, 1L).otherwise(0L)).as("n"))
      state = o.df
      if (o.long("n") > 0) deepest = r else exhausted = true
    }
    (state, deepest)
  }

  /** bc scores over all vertices (0 where no dependency): (id, bc). */
  def run(adj: Adjacency, sources: Seq[Long], maxLevels: Int): DataFrame = {
    val spark = adj.blocks.sparkSession
    import spark.implicits._
    val (fwd, deepest) = forward(adj, sources, maxLevels)
    // backward: deltas per level, deepest first. delta starts empty; at
    // level l, every edge v→w with dist(v)=l, dist(w)=l+1 contributes
    // (sigma_v / sigma_w) * (1 + delta_w) to delta_v.
    var delta = Seq.empty[(Long, Long, Double)].toDF("q", "id", "delta")
    // running bc accumulation, folded per level: an O(V) grouped sum kept
    // checkpointed so the final stage reads ONE frame instead of
    // re-chaining all L level frames (r3 unioned the levels and paid an
    // O(L·V) final aggregate). Rows are unique per (q, id) across levels
    // (each vertex has one dist per source), so folding = the same sum.
    var bcAcc = Seq.empty[(Long, Double)].toDF("id", "bc")
    // levels above the deepest reached distance have no (dist l+1)
    // successors: their delta frames are empty and contribute nothing —
    // start the backward sweep where the DAG actually ends instead of
    // paying an empty checkpoint job per phantom level.
    for (l <- math.min(maxLevels - 1, deepest - 1) to 0 by -1) {
      val vs = fwd.filter(col("dist") === l)
        .select(col("q"), col("id").as("v"), col("sigma").as("sv"))
      val ws = fwd.filter(col("dist") === l + 1)
        .select(col("q"), col("id").as("w"), col("sigma").as("sw"))
        .join(delta.select(col("q"), col("id").as("w"),
          col("delta").as("dw")), Seq("q", "w"), "left")
        .select(col("q"), col("w"), col("sw"),
          coalesce(col("dw"), lit(0.0)).as("dw"))
      val lvl = adj.blocks
        .join(vs, adj.blocks("src") === vs("v"))
        .select(col("q"), col("v"), col("sv"), explode(col("dsts")).as("w"))
        .join(ws, Seq("q", "w"))
        .select(col("q"), col("v"),
          ((col("sv").cast("double") / col("sw")) * (lit(1.0) + col("dw")))
            .as("c"))
        .groupBy(col("q"), col("v").as("id"))
        .agg(sum(col("c")).as("delta"))
        .transform(Materialize(_))
      delta = lvl
      // LAZY fold: every lvl frame is already checkpointed, so chaining
      // the per-level union + grouped sum costs nothing until the final
      // action — the old per-level eager materialization paid one
      // shuffle + checkpoint per level for a frame consumed only once,
      // at the end. Same aggregate, L−1 fewer jobs.
      bcAcc = bcAcc
        .unionAll(lvl.filter(col("id") =!= col("q"))
          .select(col("id"), col("delta").as("bc")))
        .groupBy("id").agg(sum(col("bc")).as("bc"))
    }
    adj.vertices
      .join(bcAcc, Seq("id"), "left")
      .select(col("id"), coalesce(col("bc"), lit(0.0)).as("bc"))
  }
}
