package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.queries._

/** Driver contract — see SURVEY.md §7.
  *
  * `queries` is the union of the engine's query modules' catalogs; every
  * entry with an `oracleSql` twin is hash-checked against DuckDB on the
  * same parquet tables (column names and ORDER BY keys must match
  * exactly).
  */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    graft.queries.Relational.q02AggPricing(spark, "/root/testdata/sf0.001")

  /** Every module's catalog, each name declared once across all seven. */
  private lazy val catalog: Map[String, CatalogEntry] = CatalogEntry.byName(
    Relational.catalog ++ TextQueries.catalog ++ SimilarityQueries.catalog ++
      MlQueries.catalog ++ MultimodalQueries.catalog ++ SketchQueries.catalog ++
      StatsQueries.catalog)

  /** One entry per implemented operator from SURVEY.md §2. */
  lazy val queries: Map[String, (SparkSession, String) => DataFrame] =
    catalog.map { case (n, e) => n -> e.build }

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Two entries are rows-only, declared with
    * `CatalogEntry.rowsOnly`: q43_knn_ivf (its KMeans coarse quantizer
    * is a spark.ml fit; the query raises below its recall@5 floor
    * instead) and q51_sentiment_pipeline (a fitted spark.ml pipeline;
    * MlPipelineSpec checks its learning quality). */
  lazy val oracleSql: Map[String, String] =
    catalog.collect { case (n, CatalogEntry(_, _, Some(sql))) => n -> sql }
}
