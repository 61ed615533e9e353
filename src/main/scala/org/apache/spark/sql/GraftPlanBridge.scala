package org.apache.spark.sql

import org.apache.spark.sql.execution.LogicalRDD

/**
 * Bridge to private[sql] plan surgery: an eager localCheckpoint whose
 * resulting leaf CAPS the inherited `sizeInBytes` statistic.
 *
 * Why: `LogicalRDD.fromDataset` (the localCheckpoint leaf builder)
 * preserves the origin plan's estimated statistics, and Catalyst's
 * size-only estimator takes the PRODUCT of child sizes across a join.
 * A self-join kernel (pointer jumping: p' = p ⋈ p) therefore SQUARES the
 * estimate every round even though each round is checkpointed — the
 * BigInt's bit length doubles per round, the stats computation inside the
 * next checkpoint goes quadratically slow, and after ~30 rounds it dies
 * with "BigInteger would overflow supported range". Capping the leaf at
 * Long.MaxValue after each checkpoint keeps every subsequent product tiny
 * while staying far above any threshold that could trigger an unwanted
 * broadcast.
 *
 * Its only caller is [[graft.exec.Materialize]], which owns the policy
 * for materializing a round; operators call `Materialize`, not this.
 */
object GraftPlanBridge {

  private val Cap = BigInt(Long.MaxValue)

  def checkpointCapped(df: DataFrame): DataFrame = {
    val ck = df.localCheckpoint(eager = true)
      .asInstanceOf[classic.Dataset[Row]]
    ck.queryExecution.analyzed match {
      case lr: LogicalRDD if lr.stats.sizeInBytes > Cap =>
        val spark = ck.sparkSession
        val capped = lr.stats.copy(sizeInBytes = Cap)
        classic.Dataset.ofRows(spark,
          LogicalRDD(lr.output, lr.rdd, lr.outputPartitioning,
            lr.outputOrdering, lr.isStreaming)(spark, Some(capped), None))
      case _ => ck
    }
  }
}
