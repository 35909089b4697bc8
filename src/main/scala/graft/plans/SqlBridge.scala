package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Column ⇄ Expression bridge. Spark 4's classic converters
  * (`org.apache.spark.sql.classic.ExpressionUtils`) are `private[sql]`,
  * so a library registering custom Catalyst expressions needs one
  * object compiled into the `org.apache.spark.sql` package to reach
  * them — the conventional extension-point shim, kept to these two
  * one-line forwarders. */
object GraftSqlBridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** Partition-local pass over a DataFrame's InternalRows, schema
    * preserved — the zero-copy form of `mapPartitions` for operators
    * whose per-partition logic only reads a few fixed columns and
    * passes rows through (e.g. Similarity's map-side bucket cap). The
    * Dataset.mapPartitions route would deserialize every row to
    * external objects and back (for LSH rows that is a 64-double array
    * per row); this one touches primitives in place.
    *
    * Contract for `f`: iterator rows may be REUSED by the engine —
    * read fields of the current row only, never buffer row references
    * (remember primitives instead). The result must be row-for-row a
    * subset/transform with the SAME schema. */
  def mapPartitionsInternal(df: DataFrame,
      f: Iterator[org.apache.spark.sql.catalyst.InternalRow] =>
        Iterator[org.apache.spark.sql.catalyst.InternalRow]): DataFrame = {
    val classic = df.sparkSession.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    val mapped = df.queryExecution.toRdd.mapPartitions(f, preservesPartitioning = true)
    innerPlans.put(mapped, Seq(df))
    classic.internalCreateDataFrame(mapped, df.schema)
  }

  /** Inner plans hidden behind [[mapPartitionsInternal]]'s RDD
    * barrier, keyed by the produced RDD. The barrier bakes the source
    * DataFrame into a LogicalRDD, and plan walkers (debug.codegenToSeq
    * — what graft.CodegenAudit compiles) see only an opaque
    * RDDScanExec leaf — so without this registry the audit would
    * silently stop covering everything upstream of the barrier (for
    * the capped LSH path that is the scan + signature + explode +
    * sort, the exact hot stage the audit exists to watch). Weak keys:
    * entries die with their RDDs. */
  private val innerPlans =
    java.util.Collections.synchronizedMap(
      new java.util.WeakHashMap[org.apache.spark.rdd.RDD[_], Seq[DataFrame]]())

  /** The source DataFrames an audited-boundary RDD was built from, if
    * that RDD came from this bridge — audit recursion hook. Usually one
    * frame; an imperative kernel consuming SEVERAL frames (Graph
    * .bfsLevels reads an edge projection AND a seed projection)
    * registers them all, so the audit covers every SQL pipeline feeding
    * the barrier. Empty = not ours = opaque. */
  def innerPlansOf(rdd: org.apache.spark.rdd.RDD[_]): Seq[DataFrame] =
    Option(innerPlans.get(rdd)).getOrElse(Seq.empty)

  /** `df.localCheckpoint()` with the checkpoint boundary REGISTERED
    * for graft.CodegenAudit: an eager localCheckpoint materializes to
    * an RDD and every downstream plan reads it through an opaque
    * RDDScanExec leaf, so the ENTIRE upstream pipeline silently left
    * the audit's coverage (16 catalog sites — found the moment the
    * audit learned to count opaque leaves, r16). Registering the
    * checkpoint RDD → source frame lets the audit recurse through the
    * boundary, so the committed zero-failed-compiles invariant again
    * covers whole queries, not their post-checkpoint suffixes. */
  def localCheckpointAudited(df: DataFrame): DataFrame = {
    val cp = df.localCheckpoint()
    cp.queryExecution.analyzed.collect {
      case lr: org.apache.spark.sql.execution.LogicalRDD =>
        innerPlans.put(lr.rdd, Seq(df))
    }
    cp
  }

  /** `spark.createDataFrame(rdd, schema)` with the boundary REGISTERED
    * for the audit, for imperative per-partition passes built from a
    * DataFrame projection (the multimodal decode shape:
    * `source.rdd.mapPartitions(decode)` → new frame). Same plan as the
    * raw call; the audit additionally recurses into `source`'s
    * pipeline instead of stopping at the opaque leaf. */
  def createDataFrameAudited(source: DataFrame,
      rdd: org.apache.spark.rdd.RDD[Row],
      schema: org.apache.spark.sql.types.StructType): DataFrame =
    createDataFrameAudited(Seq(source), rdd, schema)

  /** Multi-source form: an imperative kernel fed by SEVERAL DataFrame
    * projections (Graph.bfsLevels: edges + seeds) registers them all,
    * so the audit recurses into every feeding pipeline. */
  def createDataFrameAudited(sources: Seq[DataFrame],
      rdd: org.apache.spark.rdd.RDD[Row],
      schema: org.apache.spark.sql.types.StructType): DataFrame = {
    require(sources.nonEmpty, "createDataFrameAudited: no source frames")
    val out = sources.head.sparkSession.createDataFrame(rdd, schema)
    out.queryExecution.analyzed.collect {
      case lr: org.apache.spark.sql.execution.LogicalRDD =>
        innerPlans.put(lr.rdd, sources)
    }
    out
  }

  /** Split a sort Column (`c.desc` / `c.asc` / bare) into its value
    * column and direction. Spark 4 Columns carry a ColumnNode, not a
    * catalyst Expression — `expression(c)` would wrap the SortOrder in
    * a lazy ColumnNodeExpression, so the direction must be read off
    * the node itself. Bare columns sort ascending, as in a window. */
  def sortKey(c: Column): (Column, Boolean) = c.node match {
    case so: org.apache.spark.sql.internal.SortOrder =>
      (new Column(so.child),
        so.sortDirection == org.apache.spark.sql.internal.SortOrder.Ascending)
    case _ => (c, true)
  }
}
