package graft.operators

import graft.exec.Materialize
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/**
 * Label propagation — the reference's label-propagation kernel
 * (ConnectedComponents.cpp:183-230) exposed as a standalone operator over
 * an arbitrary (here: directed) edge orientation, per the north rule's
 * "label propagation" as distinct from CC (SURVEY.md §2.4). Labels start
 * as the vertex id; each synchronous round a vertex takes the minimum of
 * its own label and its in-neighbors' labels (along src→dst edges).
 *
 * `runMin` — k rounds or to fixpoint, min combine (deterministic).
 * `runMode` — classic community LPA: most frequent incoming label, ties
 *             broken by the smaller label, still deterministic.
 */
object LabelPropagation {

  /** k synchronous min-combine rounds along edge direction. k <= 0 → run
    * to fixpoint. Output: (id, label). */
  def runMin(adj: Adjacency, k: Int, maxIter: Int = 1000): DataFrame = {
    var state = Materialize(adj.vertices.select(col("id"), col("id").as("label")))
    var round = 0
    var done = false
    val limit = if (k > 0) k else maxIter
    while (!done && round < limit) {
      val mins = adj.scatter(state, col("label").as("msg"))
        .groupBy("id").agg(min(col("msg")).as("msg"))
      // the changed flag rides the materializing pass (Dataset.observe) —
      // no extra fixpoint join/scan per round
      val o = Materialize.observed(state
        .join(mins, Seq("id"), "left")
        .select(col("id"),
          least(col("label"), coalesce(col("msg"), col("label"))).as("label"),
          (coalesce(col("msg"), col("label")) < col("label")).as("ch")),
        Seq(sum(when(col("ch"), 1L).otherwise(0L)).as("n")),
        _.select(col("id"), col("label")))
      if (k <= 0) done = o.long("n") == 0
      round += 1
      state = o.df
    }
    state
  }

  /** k synchronous mode-combine rounds (community LPA). A vertex with no
    * in-neighbors keeps its label. Ties: smaller label wins. */
  def runMode(adj: Adjacency, k: Int): DataFrame = {
    var state = Materialize(adj.vertices.select(col("id"), col("id").as("label")))
    for (_ <- 1 to k) {
      val counts = adj.scatter(state, col("label").as("msg"))
        .groupBy("id", "msg").agg(count(lit(1)).as("cnt"))
      val w = Window.partitionBy(col("id"))
        .orderBy(col("cnt").desc, col("msg").asc)
      val winners = counts
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select(col("id"), col("msg"))
      val next = state
        .join(winners, Seq("id"), "left")
        .select(col("id"), coalesce(col("msg"), col("label")).as("label"))
        .transform(Materialize(_))
      state = next
    }
    state
  }
}
