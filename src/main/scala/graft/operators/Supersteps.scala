package graft.operators

import graft.plans.SnapshotStore
import org.apache.spark.sql.DataFrame
import scala.collection.mutable.ArrayBuffer

/** One superstep's runtime stats (the reference's -statFile rows). */
final case class IterMetric(superstep: Int, l1Residual: Double,
    edgesProcessed: Long, millis: Long)

/**
 * The one superstep loop of the store-backed kernels (topo, push and
 * residual PageRank, connected components) — the engine's analog of the
 * reference's shared `-statFile` statistics sink, plus checkpoint/resume.
 *
 * It owns the bookkeeping:
 *  - resume: with `resume` set, the run continues from
 *    `store.latest(algo)` (its superstep and frame), else from superstep 0;
 *  - each step's wall ms, taken before any commit;
 *  - one [[IterMetric]] per step, also appended to the store's metrics
 *    table as `(algo, superstep, …)`;
 *  - the commit rule: a step that ends at superstep `iter` and covers
 *    `steps` supersteps is committed when `iter % checkpointEvery < steps`
 *    (it reached or crossed a multiple of `checkpointEvery`) or when the
 *    kernel's stop test holds; the run continues from the committed
 *    re-read, which truncates lineage.
 *
 * The kernel keeps what is its own: `start` builds the start state from the
 * resumed frame, if any, and says whether the run is already done; `step`
 * plans, materializes and observes the supersteps from `(iter, state)` and
 * applies its stop test.
 */
object Supersteps {

  /** One call of a kernel's step: the materialized next state, the
    * supersteps it covers, the residual its metrics row records, and
    * whether the kernel's stop test holds. */
  final case class Step(next: DataFrame, steps: Int, residual: Double,
      done: Boolean)

  /** A finished run: the last state, the superstep reached, whether the
    * stop test held, and one row per step. */
  final case class Run(state: DataFrame, iterations: Int, done: Boolean,
      metrics: Seq[IterMetric])

  def run(algo: String, edgesPerStep: Long, maxIter: Int,
      checkpointEvery: Int, store: Option[SnapshotStore], resume: Boolean)(
      start: Option[DataFrame] => (DataFrame, Boolean))(
      step: (Int, DataFrame) => Step): Run = {
    val resumed = if (resume) store.flatMap(_.latest(algo)) else None
    var iter = resumed.map(_._1).getOrElse(0)
    var (state, done) = start(resumed.map(_._2))
    val metrics = ArrayBuffer.empty[IterMetric]
    while (!done && iter < maxIter) {
      val t0 = System.nanoTime()
      val s = step(iter, state)
      iter += s.steps
      val ms = (System.nanoTime() - t0) / 1000000
      val edges = edgesPerStep * s.steps
      metrics += IterMetric(iter, s.residual, edges, ms)
      store.foreach(_.appendMetrics(algo, iter, s.residual, edges, ms))
      done = s.done
      state = store match {
        case Some(st) if iter % checkpointEvery < s.steps || done =>
          st.commitState(algo, iter, s.next)
        case _ => s.next
      }
    }
    Run(state, iter, done, metrics.toSeq)
  }
}
