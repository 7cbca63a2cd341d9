package org.apache.spark.sql

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, UnsafeRow}
import org.apache.spark.sql.catalyst.plans.logical.Statistics
import org.apache.spark.sql.execution.{LogicalRDD, SQLExecution}

/** Bridge to `private[sql]` Column↔Expression conversions, for graft's
  * native Catalyst expressions, and to the checkpoint internals behind
  * [[exactCheckpoint]]. Lives in the org.apache.spark.sql package solely
  * to cross the access boundary — the standard pattern for libraries
  * that ship custom expressions against the classic API.
  */
object GraftBridge {
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)

  /** Eager `localCheckpoint()` whose relation carries EXACT statistics:
    * the materialized row count and the measured UnsafeRow bytes.
    *
    * A stock local checkpoint keeps the planner's PRE-checkpoint
    * estimate (an empty checkpointed join can read as 28 MiB), so
    * `spark.sql.autoBroadcastJoinThreshold` never sees the real size of
    * an iterator's node-bounded state. With exact statistics the stock
    * size rule picks the join strategy on measured bytes — no hint, no
    * row-count guard, no extra job: the stock eager checkpoint already
    * runs one job that counts every partition and discards the count;
    * this runs that same single job and keeps both sums. The job's end
    * finalizes the checkpoint with every partition already cached.
    * Partitioning and ordering are kept as `Dataset.localCheckpoint`
    * keeps them, and the job runs as a "localCheckpoint" SQL execution,
    * so query-execution listeners see it as before. The exact row count
    * is `queryExecution.analyzed.stats.rowCount` of the result (no job).
    */
  def exactCheckpoint(df: DataFrame): DataFrame = {
    val ds = df.asInstanceOf[classic.Dataset[Row]]
    val qe = ds.queryExecution
    SQLExecution.withNewExecutionId(qe, Some("localCheckpoint")) {
      qe.executedPlan.resetMetrics()
      val rdd = qe.executedPlan.execute().map(_.copy()).localCheckpoint()
      val parts = ds.sparkSession.sparkContext.runJob(rdd,
        (rows: Iterator[InternalRow]) => {
          var n, bytes = 0L
          rows.foreach { r => n += 1; bytes += r.asInstanceOf[UnsafeRow].getSizeInBytes }
          (n, bytes)
        })
      val stats = Statistics(sizeInBytes = parts.map(_._2).sum,
        rowCount = Some(parts.map(_._1).sum))
      val base = LogicalRDD.fromDataset(rdd, ds, ds.isStreaming)
      classic.Dataset.ofRows(ds.sparkSession,
        base.copy()(ds.sparkSession, Some(stats), Some(base.constraints)))
    }
  }
}
