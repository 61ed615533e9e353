package graft.exec

import org.apache.spark.sql.{Column, DataFrame, GraftPlanBridge, Observation}

/** A materialized frame plus the aggregates observed on the pass that
  * materialized it; `long` / `double` read one aggregate by its alias
  * under the rules stated on [[Materialize]]. */
final case class Observed(df: DataFrame, values: Map[String, Any]) {
  def long(key: String): Long = value(key, 0L)
  def double(key: String): Double = value(key, 0.0)

  private def value[T](key: String, zero: T): T =
    Option(values.getOrElse(key, throw new IllegalStateException(
      s"observed metric '$key' missing"))).fold(zero)(_.asInstanceOf[T])
}

/**
 * The one way a round is materialized: an eager local checkpoint whose
 * leaf caps the inherited size estimate (see
 * [[org.apache.spark.sql.GraftPlanBridge]]), optionally with aggregates
 * observed on the same pass — the engine's analog of a Galois kernel's
 * end-of-round reduction (`accum.reduce()`, a changed flag).
 *
 *  - `Materialize(df)` checkpoints `df`; the result's analyzed plan is a
 *    `LogicalRDD` leaf.
 *  - `Materialize.observed(df, metrics*)` attaches `metrics` to `df` with
 *    `Dataset.observe` and checkpoints it: one Spark action yields both
 *    the frame and the metric values. The form taking `project` applies
 *    it after the observation, so the checkpoint stores only the
 *    projected columns while the metrics still see the dropped ones.
 *
 * Rules of the observing form:
 *  - naming: each call uses its own auto-named (unique) `Observation`,
 *    so concurrent calls on one session never read each other's values;
 *  - missing key: reading an alias the metrics did not produce throws
 *    `IllegalStateException` — it never reads as "nothing changed";
 *  - null: an aggregate that is null (e.g. `sum` over no rows) reads as
 *    zero.
 */
object Materialize {

  def apply(df: DataFrame): DataFrame = GraftPlanBridge.checkpointCapped(df)

  def observed(df: DataFrame, metrics: Column*): Observed =
    observed(df, metrics, (d: DataFrame) => d)

  def observed(df: DataFrame, metrics: Seq[Column],
      project: DataFrame => DataFrame): Observed = {
    val obs = Observation()
    val out = apply(project(df.observe(obs, metrics.head, metrics.tail: _*)))
    Observed(out, obs.get)
  }
}
