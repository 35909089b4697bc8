package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One catalog query, declared once: its name, its Spark builder and the
  * DuckDB SQL its result is hash-checked against on the same parquet
  * tables (column names and ORDER BY keys must match exactly). `oracle`
  * is `None` only for an entry made with [[CatalogEntry.rowsOnly]]. */
final case class CatalogEntry(name: String,
    build: (SparkSession, String) => DataFrame, oracle: Option[String])

object CatalogEntry {

  def apply(name: String, build: (SparkSession, String) => DataFrame,
      oracle: String): CatalogEntry = CatalogEntry(name, build, Some(oracle))

  /** A query with no DuckDB twin: the oracle gate checks only that it
    * returns rows. Each use says what SQL cannot express. */
  def rowsOnly(name: String, build: (SparkSession, String) => DataFrame): CatalogEntry =
    CatalogEntry(name, build, None)

  /** `entries` by name; fails on a name declared twice, which `toMap` or
    * `++` would silently resolve to the last entry. */
  def byName(entries: Seq[CatalogEntry]): Map[String, CatalogEntry] = {
    val twice = entries.groupBy(_.name).collect { case (n, es) if es.size > 1 => n }
    require(twice.isEmpty, s"catalog names declared twice: ${twice.toSeq.sorted.mkString(", ")}")
    entries.map(e => e.name -> e).toMap
  }

  /** name → Spark builder of `entries`; fails as [[byName]] does. */
  def builders(entries: Seq[CatalogEntry]): Map[String, (SparkSession, String) => DataFrame] =
    byName(entries).map { case (n, e) => n -> e.build }
}
