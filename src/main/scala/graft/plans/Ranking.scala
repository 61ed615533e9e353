package graft.plans

import graft.exec.Materialize
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.{Window, WindowSpec}
import org.apache.spark.storage.StorageLevel

/**
 * Distributed global ranking — `row_number() over (ORDER BY …) - 1`
 * WITHOUT a single-partition window: range-partition on the sort key,
 * rank within each partition, then add the exclusive prefix sum of
 * partition sizes (O(P) work on the driver). Every stage is parallel,
 * which is what survives 10^10-row dictionaries; it mirrors the
 * reference's parallel sort + prefix-sum relabel passes
 * (Triangles.cpp:379-402, graph-convert.cpp:175-183).
 *
 * The output is deterministic as long as `sortExprs` is a TOTAL order:
 * even if RangePartitioner samples different boundaries across runs, the
 * global rank of a row never changes.
 */
object Ranking {

  /** The pinned-offset plan both rankings share: range-partition `df` on
    * `sortExprs` and persist it, collect each partition's `total`, and
    * broadcast-join the exclusive prefix of those totals as `__offset`
    * next to `__local`, the per-partition `local` window value. `outCol`
    * is `out` cast to long. Returns (lazy plan, pinned partitioning). */
  private def pinnedOffsetPlan(df: DataFrame, sortExprs: Seq[Column],
      numPartitions: Int, total: Column, local: WindowSpec => Column,
      outCol: String, out: Column): (DataFrame, DataFrame) = {
    val spark = df.sparkSession
    // persist pins the SAMPLED range boundaries: the offsets below are
    // computed against exactly this partitioning
    val parts = df.repartitionByRange(numPartitions, sortExprs: _*)
      .persist(StorageLevel.MEMORY_AND_DISK)
    val withPid = parts.withColumn("__pid", spark_partition_id())
    val totals = withPid.groupBy("__pid").agg(total).orderBy("__pid").collect()
    var acc = 0L
    val offsets = totals.map { r =>
      val o = (r.getInt(0), acc); acc += r.getLong(1); o
    }
    import spark.implicits._
    val offsetsDf = offsets.toSeq.toDF("__pid", "__offset")
    val w = Window.partitionBy("__pid").orderBy(sortExprs: _*)
    val plan = withPid
      .withColumn("__local", local(w))
      .join(broadcast(offsetsDf), "__pid")
      .withColumn(outCol, out.cast("long"))
      .drop("__pid", "__local", "__offset")
    (plan, parts)
  }

  /** Lazy ranked plan over a pinned range partitioning. Exposed for the
    * plan-shape spec (no SinglePartition exchange) — callers use
    * [[globalRank]], which materializes before releasing the pin. */
  private[graft] def globalRankPlan(
      df: DataFrame,
      sortExprs: Seq[Column],
      rankCol: String,
      numPartitions: Int): (DataFrame, DataFrame) =
    pinnedOffsetPlan(df, sortExprs, numPartitions, count(lit(1)),
      row_number().over(_), rankCol, col("__offset") + col("__local") - 1)

  /** Lazy tiered-cumsum plan over a pinned range partitioning — exposed
    * for the plan-shape spec, like [[globalRankPlan]]. */
  private[graft] def tieredCumSumPlan(
      df: DataFrame,
      sortExprs: Seq[Column],
      valueCol: String,
      cumCol: String,
      numPartitions: Int): (DataFrame, DataFrame) =
    pinnedOffsetPlan(df, sortExprs, numPartitions, sum(col(valueCol)),
      w => sum(col(valueCol)).over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)),
      cumCol, col("__offset") + col("__local"))

  /** df + `cumCol` = the INCLUSIVE running sum of `valueCol` in global
    * `sortExprs` order — `sum(value) over (ORDER BY …)` WITHOUT a
    * single-partition window: per-partition window over the range
    * partitioning plus the broadcast exclusive prefix of partition
    * totals (O(P) driver work). Deterministic whenever `sortExprs` is a
    * total order, like [[globalRank]]. */
  def tieredCumSum(
      df: DataFrame,
      sortExprs: Seq[Column],
      valueCol: String,
      cumCol: String,
      numPartitions: Int = 32): DataFrame = {
    val (out, parts) =
      tieredCumSumPlan(df, sortExprs, valueCol, cumCol, numPartitions)
    val res = Materialize(out)
    parts.unpersist()
    res
  }

  /** df + a dense 0-based `rankCol` equal to the row's global rank under
    * `sortExprs`. Eagerly materialized (Materialize) while the sampled
    * partitioning is still pinned, then self-contained. */
  def globalRank(
      df: DataFrame,
      sortExprs: Seq[Column],
      rankCol: String,
      numPartitions: Int = 32): DataFrame = {
    val (ranked, parts) = globalRankPlan(df, sortExprs, rankCol, numPartitions)
    val out = Materialize(ranked)
    parts.unpersist()
    out
  }
}
