package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.logical.Statistics
import org.apache.spark.sql.execution.LogicalRDD

/** Minimal bridge into `private[sql]` surface: custom Catalyst
  * expressions (the sanctioned extension point for operators the public
  * API can't express efficiently — see graft.functions.DotProduct) and
  * the plan-truncating leaf `Dataset.checkpoint` builds. Nothing else in
  * the repo reaches into Spark internals.
  */
object GraftSqlBridge {
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)

  /** `df`'s rows behind a `LogicalRDD` leaf over its own executed RDD —
    * the leaf `localCheckpoint` returns, without the checkpoint. The
    * logical plan keeps no source relation, so a write to a source path
    * (`CacheManager.recacheByPath`) no longer matches a cache built on
    * it; the RDD keeps its lineage, pinned to the files listed here, so
    * an evicted or released cache recomputes the same rows instead of
    * failing like a dropped checkpoint block. Under AQE, planning the
    * RDD runs the plan's shuffle stages now (as a checkpoint does).
    *
    * The leaf carries the size estimate but no partitioning or
    * ordering: `LogicalRDD.fromDataset` copies the executed plan's,
    * whose attribute ids can differ from the analyzed output (a removed
    * redundant alias), and persisting such a leaf fails when the cache
    * remaps its ordering (`spark.range` → rename, "key not found"). */
  def snapshot(df: DataFrame): DataFrame = {
    val ds = df.asInstanceOf[classic.Dataset[Row]]
    val qe = ds.queryExecution
    val est = qe.optimizedPlan.stats
    classic.Dataset.ofRows(ds.sparkSession,
      LogicalRDD(ds.logicalPlan.output, qe.toRdd)(ds.sparkSession,
        Some(Statistics(est.sizeInBytes, est.rowCount)), None))
  }
}
