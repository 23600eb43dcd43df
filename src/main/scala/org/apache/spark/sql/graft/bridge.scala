package org.apache.spark.sql.graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Column ⇄ catalyst Expression bridge. Spark 4 routes Column through
  * ColumnNode and keeps the conversion `private[sql]`; this shim lives
  * under the sql package namespace solely to re-export it to graft.
  */
object bridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** `localCheckpoint()` that RETURNS the materialized row count from
    * the SAME job (r19 optimization round). The iterative operators
    * (CC, k-core/k-truss peels, label-prop ladders) fence a frame per
    * round and then immediately `count()` it to drive convergence /
    * layout sizing — a second, separately PLANNED Catalyst action
    * (~170 ms on the measured planning floor, OPTIMIZATION_r19.md
    * "the per-action floor") whose answer the fence's own
    * materializing job already produced. This
    * replicates `Dataset.checkpoint(eager=true, reliable=false)`
    * byte-for-byte — `executedPlan.execute().map(_.copy())`,
    * `rdd.localCheckpoint()`, eager materialization,
    * `LogicalRDD.fromDataset` capture (verified against the 4.1.2
    * bytecode) — except the eager materialization is `rdd.count()`
    * (the pre-4.x upstream form; the end-of-job hook marks the local
    * checkpoint exactly as `doCheckpoint()` does), so the count is
    * free. Reliable fences take a different path (Fence.withCount):
    * an RDD count job re-used here would RECOMPUTE the plan when the
    * end-of-job checkpoint writes files. */
  def localCheckpointWithCount(df: org.apache.spark.sql.DataFrame)
      : (org.apache.spark.sql.DataFrame, Long) = {
    val ds = df.asInstanceOf[
      org.apache.spark.sql.classic.Dataset[org.apache.spark.sql.Row]]
    val internalRdd = ds.queryExecution.executedPlan.execute().map(_.copy())
    internalRdd.localCheckpoint()
    val n = internalRdd.count()
    val out = org.apache.spark.sql.classic.Dataset.ofRows(
      ds.sparkSession,
      org.apache.spark.sql.execution.LogicalRDD
        .fromDataset(internalRdd, ds, isStreaming = false))
    (out, n)
  }

  /** Row count of an ALREADY-FENCED frame (a LogicalRDD leaf) as a
    * plain RDD job — no Catalyst aggregate plan, no re-plan of the
    * frame; used by Fence.withCount's reliable leg where the count
    * reads checkpoint files once. */
  def fencedRowCount(df: org.apache.spark.sql.DataFrame): Long =
    df.queryExecution.toRdd.count()

  /** Actually free the blocks behind a `localCheckpoint()`-ed frame.
    * `Dataset.unpersist()` only consults the CacheManager, and a local
    * checkpoint persists its RDD directly without registering there —
    * so the public API call is a silent no-op and the blocks would
    * otherwise live until driver GC. Returns false when the plan is
    * not a materialized LogicalRDD. */
  def freeLocalCheckpoint(df: org.apache.spark.sql.DataFrame): Boolean = {
    val rdds = df.queryExecution.analyzed.collect {
      case r: org.apache.spark.sql.execution.LogicalRDD => r.rdd
    }
    rdds.foreach { r =>
      r.unpersist(blocking = false)
      // a RELIABLY checkpointed frame (spark.graft.fence=reliable)
      // holds its data as files, not blocks — unpersist alone would
      // leak one checkpoint dir per superseded frame until the
      // checkpoint FS fills (ContextCleaner only reclaims these with
      // cleanCheckpoints=true AND driver GC); delete the files of the
      // superseded frame explicitly. Caller contract unchanged: the
      // frame is superseded and never read again.
      r.getCheckpointFile.foreach { dir =>
        val path = new org.apache.hadoop.fs.Path(dir)
        path.getFileSystem(
          df.sparkSession.sparkContext.hadoopConfiguration)
          .delete(path, true): Unit
      }
    }
    rdds.nonEmpty
  }
}
