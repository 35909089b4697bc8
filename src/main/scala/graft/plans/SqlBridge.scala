package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.{Ascending, Expression, RowNumber, SortOrder}
import org.apache.spark.sql.catalyst.plans.logical.WindowGroupLimit
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.sql.execution.LogicalRDD

/** Column ⇄ Expression bridge. Spark 4's classic converters
  * (`org.apache.spark.sql.classic.ExpressionUtils`) are `private[sql]`,
  * so a library registering custom Catalyst expressions needs one
  * object compiled into the `org.apache.spark.sql` package to reach
  * them — the conventional extension-point shim. Besides the two
  * forwarders, [[cloneSession]] and [[sortKey]], it builds the one Catalyst node the
  * public API cannot ([[windowGroupLimit]]) and keeps the audit
  * registry for the two materializing barriers. Its users are
  * GlobalRank's input checkpoint, Dedup's four checkpoints, the q72,
  * q97 and q146 checkpoints, and the graph kernels'
  * [[createDataFrameAudited]] (`Graph.longPairDF`). */
object GraftSqlBridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** Spark's `private[sql]` `cloneSession`: a new session on the same
    * SparkContext that starts from a copy of `spark`'s session state,
    * runtime SQL settings included (`newSession` starts from the
    * SparkContext's conf and drops them). */
  def cloneSession(spark: SparkSession): SparkSession =
    spark.asInstanceOf[classic.SparkSession].cloneSession()

  /** Spark's own `WindowGroupLimit` over `df`: keep the `limit` rows
    * with the lowest `order` column in every `partitionCols` group, as
    * `row_number() <= limit` would. The planner splits it into a
    * `Partial` pass below the exchange (a partition-local sort, then
    * the per-group limit) and a `Final` pass above it. Spark's
    * InferWindowGroupLimit inserts the same node only for limits up to
    * `spark.sql.optimizer.windowGroupLimitThreshold` (1000); this
    * builds it for any limit. Keep the `row_number() <= limit` window
    * above it as the declared semantics — the shape Spark builds when
    * it infers the node itself. */
  def windowGroupLimit(df: DataFrame, partitionCols: Seq[String], order: String,
      limit: Int): DataFrame = {
    val classicDf = df.asInstanceOf[classic.Dataset[Row]]
    classic.Dataset.ofRows(classicDf.sparkSession,
      WindowGroupLimit(partitionCols.map(classicDf.resolve),
        Seq(SortOrder(classicDf.resolve(order), Ascending)), RowNumber(), limit,
        classicDf.logicalPlan))
  }

  /** Inner plans hidden behind a registered RDD barrier, keyed by the
    * barrier's RDD. A local checkpoint or an imperative kernel's
    * `createDataFrame` bakes its source frames into a LogicalRDD, and
    * plan walkers (debug.codegenToSeq — what graft.CodegenAudit
    * compiles) see only an opaque RDDScanExec leaf — so without this
    * registry the audit would silently stop covering everything
    * upstream of the barrier. Weak keys: entries die with their RDDs. */
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

  /** Register every RDD leaf of `out`'s plan as built from `sources`. */
  private def registered(out: DataFrame, sources: Seq[DataFrame]): DataFrame = {
    out.queryExecution.analyzed.foreach {
      case LogicalRDD(_, rdd, _, _, _, _) => innerPlans.put(rdd, sources)
      case _ =>
    }
    out
  }

  /** `df.localCheckpoint()` with the checkpoint boundary REGISTERED
    * for graft.CodegenAudit: an eager localCheckpoint materializes to
    * an RDD and every downstream plan reads it through an opaque
    * RDDScanExec leaf, so the ENTIRE upstream pipeline silently left
    * the audit's coverage (16 catalog sites when the audit learned to
    * count opaque leaves, r16; eight call sites now). Registering the
    * checkpoint RDD → source frame lets the audit recurse through the
    * boundary, so the committed zero-failed-compiles invariant again
    * covers whole queries, not their post-checkpoint suffixes. */
  def localCheckpointAudited(df: DataFrame): DataFrame =
    registered(df.localCheckpoint(), Seq(df))

  /** `spark.createDataFrame(rdd, schema)` with the boundary REGISTERED
    * for the audit, for an imperative kernel fed by one or more
    * DataFrame projections (Graph.bfsLevels: edges + seeds). Same plan
    * as the raw call; the audit additionally recurses into every
    * feeding pipeline instead of stopping at the opaque leaf. */
  def createDataFrameAudited(sources: Seq[DataFrame],
      rdd: org.apache.spark.rdd.RDD[Row],
      schema: org.apache.spark.sql.types.StructType): DataFrame = {
    require(sources.nonEmpty, "createDataFrameAudited: no source frames")
    registered(sources.head.sparkSession.createDataFrame(rdd, schema), sources)
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
