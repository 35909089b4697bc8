package graft

import org.apache.spark.sql.DataFrame

/** Audit-transparent checkpointing. `import graft.Checkpoints._` and
  * call `.localCheckpointAudited()` wherever a plan would call
  * `.localCheckpoint()`: identical execution (the same eager
  * localCheckpoint), but the checkpoint RDD is registered with
  * GraftSqlBridge so graft.CodegenAudit can recurse through the
  * otherwise-opaque RDDScanExec boundary and keep auditing the
  * upstream pipeline (see the bridge's scaladoc for the r16 finding).
  * Eight call sites remain, each with its measured reason: GlobalRank's
  * input, Dedup's four, and q72, q97 and q146. */
object Checkpoints {
  implicit class AuditedCheckpoint(private val df: DataFrame) extends AnyVal {
    def localCheckpointAudited(): DataFrame =
      org.apache.spark.sql.GraftSqlBridge.localCheckpointAudited(df)
  }
}
