package graft.operators

import graft.exec.{Materialize, Par}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/**
 * Max-flow by preflow-push — the reference's preflowpush app
 * (lonestar/analytics/cpu/preflowpush/Preflowpush.cpp:1-873: async
 * worklist push-relabel with global relabeling). The async schedule is
 * not replayable, but push-relabel has a classic LOCK-STEP parallel form
 * (Goldberg-Tarjan's synchronous variant) whose final flow VALUE is the
 * same; the BSP superstep here is:
 *
 *  1. PUSH phase: every active vertex (excess > 0, not s/t) pushes along
 *     its admissible residual arcs (res > 0, h(u) = h(v) + 1) in
 *     ascending-neighbor order, each arc taking min(res, excess left
 *     after earlier arcs) — the sequential per-vertex allotment is a
 *     per-vertex window prefix sum, deterministic. All pushes are
 *     computed from the old state and applied at once (outflow is capped
 *     by the vertex's own excess, so simultaneous application is safe).
 *  2. RELABEL phase, on the POST-PUSH residual graph: every still-active
 *     vertex with no admissible arc lifts to 1 + min height over its
 *     residual neighbors. Relabeling after the pushes land keeps the
 *     height invariant h(u) ≤ h(v)+1 on residual arcs — relabeling
 *     concurrently WITH the pushes could overshoot a fresh reverse arc.
 *
 * Source is pre-saturated (every s-arc pushed full), h(s) = |V|. At the
 * fixpoint (no active vertices) excess(t) is the max flow and every
 * other vertex but s holds no excess: a further round pushes nothing and
 * relabels nothing.
 *
 * Scale shape: the arc table (u, v, res) is the only O(E) state; each
 * phase is equi-joins of arcs against the O(V) height/excess tables plus
 * a per-vertex window — the same join-per-superstep budget as SSSP.
 */
object PreflowPush {

  // Every checkpoint is capped (Materialize): each superstep joins the arc
  // table against three O(V) state tables and then against its own push
  // output, so an uncapped size estimate quadruples its bit length per
  // round (measured minutes of driver CPU in BigInteger products by
  // round 8).

  /** (arcs (u,v,res), excess (id,ex), heights (id,h)) initial state
    * with the source saturated. Parallel/reverse input edges merge. */
  private def init(edges: DataFrame, s: Long)
      : (DataFrame, DataFrame, DataFrame) = {
    val arcs0 = edges.select(col("u"), col("v"), col("cap"))
      .unionByName(edges.select(col("v").as("u"), col("u").as("v"),
        lit(0L).as("cap")))
      .groupBy("u", "v").agg(sum(col("cap")).as("res"))
      .transform(Materialize(_))
    val verts = arcs0.select(col("u").as("id")).distinct()
      .transform(Materialize(_))
    val n = verts.count()
    // saturate source arcs: res(s→v) → 0, res(v→s) += cap(s→v),
    // ex(v) = cap(s→v)
    val sArcs = arcs0.filter(col("u") === s && col("res") > 0)
      .select(col("v").as("sv"), col("res").as("sres"))
    val arcs = arcs0
      .join(sArcs.withColumnRenamed("sv", "u"), Seq("u"), "left")
      .select(col("u"), col("v"),
        (col("res") -
          when(col("u") === s, col("res")).otherwise(0L) +
          when(col("v") === s, coalesce(col("sres"), lit(0L)))
            .otherwise(0L)).as("res"))
    val ex = verts
      .join(sArcs.withColumnRenamed("sv", "id"), Seq("id"), "left")
      .select(col("id"),
        when(col("id") === s, 0L)
          .otherwise(coalesce(col("sres"), lit(0L))).as("ex"))
    val h = verts.select(col("id"),
      when(col("id") === s, lit(n)).otherwise(lit(0L)).as("h"))
    (arcs, ex, h)
  }

  /** One superstep: push phase + relabel phase. Returns the new arcs,
    * excess and heights, and the count of active vertices (ex > 0, not
    * s or t) observed on the excess pass. */
  private def round(arcs: DataFrame, ex: DataFrame, h: DataFrame,
      s: Long, t: Long): (DataFrame, DataFrame, DataFrame, Long) = {
    val w = Window.partitionBy(col("u")).orderBy(col("v"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val pushes = arcs
      .join(ex.select(col("id").as("u"), col("ex")), "u")
      .join(h.select(col("id").as("u"), col("h").as("hu")), "u")
      .join(h.select(col("id").as("v"), col("h").as("hv")), "v")
      .filter(col("res") > 0 && col("ex") > 0 &&
        col("u") =!= s && col("u") =!= t &&
        col("hu") === col("hv") + 1)
      .withColumn("cum", sum(col("res")).over(w))
      .withColumn("p",
        least(col("res"), col("ex") - (col("cum") - col("res"))))
      .filter(col("p") > 0)
      .select(col("u"), col("v"), col("p"))
      .transform(Materialize(_))
    val outP = pushes.groupBy(col("u").as("id")).agg(sum("p").as("po"))
    val inP = pushes.groupBy(col("v").as("id")).agg(sum("p").as("pi"))
    // arcs2, ex2 AND h2 are all pure dataflows over the checkpointed
    // pushes + old state: h2 consumes LAZY copies of the arcs2/ex2
    // plans, so all three materialize concurrently and the post-push
    // critical path is ONE checkpoint latency, not two. (h2's job
    // re-evaluates the small arcs2/ex2 joins internally; these rounds
    // are latency-dominated — the duplicated lazy work back-fills idle
    // executors while the three jobs overlap, guide §2.6.)
    def arcs2Plan = arcs
      .join(pushes.withColumnRenamed("p", "pf"), Seq("u", "v"), "left")
      .join(pushes.select(col("v").as("u"), col("u").as("v"),
        col("p").as("pr")), Seq("u", "v"), "left")
      .select(col("u"), col("v"),
        (col("res") - coalesce(col("pf"), lit(0L)) +
          coalesce(col("pr"), lit(0L))).as("res"))
    def ex2Plan = ex
      .join(outP, Seq("id"), "left").join(inP, Seq("id"), "left")
      .select(col("id"),
        (col("ex") - coalesce(col("po"), lit(0L)) +
          coalesce(col("pi"), lit(0L))).as("ex"))
    // relabel on the new residual graph, old heights. One pass over the
    // residual arcs computes BOTH relabel inputs per vertex — the min
    // neighbor height and whether any admissible arc remains — instead
    // of the former two-pass shape (an admissible-set distinct plus a
    // separate min aggregate, each joined into h2 on its own): same
    // values, two fewer exchanges and no distinct per superstep.
    def h2Plan = {
      val nbrH = arcs2Plan.filter(col("res") > 0)
        .join(h.select(col("id").as("v"), col("h").as("hv")), "v")
        .join(h.select(col("id").as("u"), col("h").as("hu")), "u")
        .groupBy(col("u").as("id"))
        .agg(min(col("hv")).as("mh"),
          max(when(col("hu") === col("hv") + 1, 1L).otherwise(0L)).as("adm"))
      h.join(ex2Plan.withColumnRenamed("ex", "ex2"), "id")
        .join(nbrH, Seq("id"), "left")
        .select(col("id"),
          when(col("ex2") > 0 && col("id") =!= s && col("id") =!= t &&
              coalesce(col("adm"), lit(0L)) === 0L,
            coalesce(col("mh") + 1, col("h"))).otherwise(col("h")).as("h"))
    }
    val active = sum(when(col("ex") > 0 && col("id") =!= s &&
      col("id") =!= t, 1L).otherwise(0L)).as("active")
    val (ex2, (arcs2, h2)) = Par.both(Materialize.observed(ex2Plan, active),
      Par.both(Materialize(arcs2Plan), Materialize(h2Plan)))
    (arcs2, ex2.df, h2, ex2.long("active"))
  }

  /** At most `maxRounds` supersteps over (u, v, cap) edges: per-vertex
    * (id, ex, h) state, rounds run. The loop stops at the fixpoint, the
    * first round after which no vertex but s and t holds excess; every
    * later round is the identity, so a bound below it keeps the oracle's
    * unroll exact. excess(t) is the max flow. */
  def run(edges: DataFrame, s: Long, t: Long,
      maxRounds: Int = 10000): (DataFrame, Int) = {
    var (arcs, ex, h) = init(edges, s)
    var active = 1L
    var rounds = 0
    while (active > 0 && rounds < maxRounds) {
      val (a2, e2, h2, n) = round(arcs, ex, h, s, t)
      arcs = a2; ex = e2; h = h2; active = n
      rounds += 1
    }
    (ex.join(h, "id").select(col("id"), col("ex"), col("h")), rounds)
  }
}
