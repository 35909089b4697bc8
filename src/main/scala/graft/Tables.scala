package graft

import scala.util.Try
import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.parquet.HadoopReadOptions
import org.apache.parquet.format.converter.ParquetMetadataConverter
import org.apache.parquet.hadoop.{Footer, ParquetFileReader, ParquetFileWriter}
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, ParquetToSparkSchemaConverter}
import org.apache.spark.sql.functions._

/** Typed access to the driver-generated TESTDATA tables (TESTDATA.md).
  *
  * All readers are plain parquet scans so Catalyst predicate pushdown /
  * column pruning apply to every downstream query. At 100 TB these reads
  * would be partitioned-parquet scans on a cluster; nothing here assumes
  * local mode.
  */
final case class Tables(spark: SparkSession, dir: String) {
  private def t(name: String): DataFrame = Tables.memoRead(spark, dir, name)

  def region: DataFrame    = t("region")
  def nation: DataFrame    = t("nation")
  def customer: DataFrame  = t("customer")
  def supplier: DataFrame  = t("supplier")
  def part: DataFrame      = t("part")
  def orders: DataFrame    = t("orders")
  def lineitem: DataFrame  = t("lineitem")
  /** The events table's `ts` column has shipped in two physical shapes
    * across testdata generations: TIMESTAMP(NANOS) (which Spark's schema
    * converter rejects, so we read it as a raw nanosecond long via
    * `nanosAsLong`) and plain TIMESTAMP(MICROS). Either way we expose:
    *   - `ts_ns`: epoch nanoseconds (exact — matches DuckDB `epoch_ns`,
    *     which yields micros*1000 on a microsecond timestamp)
    *   - `ts`:    microsecond TimestampType for humans
    * All oracle-checked time arithmetic uses `ts_ns`.
    */
  def events: DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val raw = t("events")
    val converted = raw.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        raw
          .withColumnRenamed("ts", "ts_ns")
          .withColumn("ts", timestamp_micros(expr("ts_ns DIV 1000")))
      case _ =>
        // TIMESTAMP(MICROS) arrives as TIMESTAMP_NTZ; every graft session
        // pins spark.sql.session.timeZone=UTC (build.sbt forces the JVM tz
        // too), so the cast to TIMESTAMP is value-exact and `ts_ns` equals
        // DuckDB's naive `epoch_ns(ts)` bit-for-bit.
        raw
          .withColumn("ts", col("ts").cast("timestamp"))
          .withColumn("ts_ns", unix_micros(col("ts")) * lit(1000L))
    }
    // Canonical column order regardless of which physical shape shipped:
    // the file's own order with `ts` in its original slot, `ts_ns`
    // appended last — so select("*") / positional consumers behave
    // identically across testdata generations.
    converted.select(raw.columns.map(col).toIndexedSeq :+ col("ts_ns"): _*)
  }
  def documents: DataFrame = t("documents")
  def embeddings: DataFrame = t("embeddings")
}

object Tables {
  /** Memoized [[parquet]] open per (session, dir, table). An open is one
    * driver-side footer read and no Spark job; the memo also saves the
    * file listing, so a per-query constant that dominated the round-1
    * bench (45 queries × ~10 tables of re-listing) is paid once per
    * session. The DataFrame is an immutable logical plan over a static
    * test directory, so reuse is sound; the map holds plans (a few KB),
    * not data — unaffected by `clearCache()`. Keyed by session identity
    * so concurrent test sessions never share state. */
  private val memo =
    new java.util.concurrent.ConcurrentHashMap[(SparkSession, String, String), DataFrame]()

  private def memoRead(spark: SparkSession, dir: String, name: String): DataFrame =
    memo.computeIfAbsent((spark, dir, name), _ => parquet(spark, s"$dir/$name.parquet"))

  /** `spark.read.parquet(path)` for a parquet file or a flat directory of
    * them, with the schema read on the driver. Spark's own inference
    * (mergeSchema off) reads one footer too, but through a one-task
    * `parallelize(...).collect()` job per open. This picks the file that
    * inference would pick — `_common_metadata`, then `_metadata`, then
    * the first data file in path order, hidden files skipped as Spark's
    * listing skips them — and converts its footer with Spark's own
    * converter under the session's conf (Spark row metadata first, then
    * `nanosAsLong` and the NTZ inference). A path with no data file
    * directly under it (empty, missing, or partitioned into `k=v`
    * subdirectories) goes to Spark's inference unchanged, so Spark raises
    * its own errors. A directory holding only a summary file is read
    * from that summary, as Spark reads it. */
  def parquet(spark: SparkSession, path: String): DataFrame = {
    val conf = spark.sessionState.newHadoopConf()
    val p = new Path(path)
    val files = Try(p.getFileSystem(conf).listStatus(p)).getOrElse(Array.empty[FileStatus])
      .filter(f => f.isFile && !hidden(f.getPath.getName))
      .sortBy(_.getPath.toString)
    def named(n: String) = files.find(_.getPath.getName == n)
    named(ParquetFileWriter.PARQUET_COMMON_METADATA_FILE)
      .orElse(named(ParquetFileWriter.PARQUET_METADATA_FILE))
      .orElse(files.find(f => !summaries.contains(f.getPath.getName))) match {
      case Some(f) =>
        val reader = ParquetFileReader.open(HadoopInputFile.fromStatus(f, conf),
          HadoopReadOptions.builder(conf)
            .withMetadataFilter(ParquetMetadataConverter.SKIP_ROW_GROUPS).build())
        val footer = try new Footer(f.getPath, reader.getFooter) finally reader.close()
        val schema = ParquetFileFormat.readSchemaFromFooter(footer,
          new ParquetToSparkSchemaConverter(spark.sessionState.conf))
        spark.read.schema(schema).parquet(path)
      case None => spark.read.parquet(path)
    }
  }

  private val summaries = Set(ParquetFileWriter.PARQUET_COMMON_METADATA_FILE,
    ParquetFileWriter.PARQUET_METADATA_FILE)

  /** Spark's listing filter (`HadoopFSUtils.shouldFilterOutPathName`):
    * `_`- and `.`-prefixed names and `._COPYING_` files are not data,
    * except the two summary files. */
  private def hidden(name: String): Boolean =
    ((name.startsWith("_") && !name.contains("=")) || name.startsWith(".") ||
      name.endsWith("._COPYING_")) && !summaries.exists(name.startsWith)

  /** Evict one session's memoized plans. The memo strongly references
    * its keys, so a long-lived multi-session JVM must call this when a
    * session retires (Bench/Verify do, before `spark.stop()`) or the
    * session and its analyzed plans are retained forever. Also the
    * escape hatch if a fixture DIRECTORY is rewritten within one JVM —
    * the memoized plan pins the file listing captured at first read, so
    * the dir must otherwise stay immutable for the session's lifetime. */
  def clear(spark: SparkSession): Unit = {
    val it = memo.keySet.iterator()
    while (it.hasNext) if (it.next()._1 eq spark) it.remove()
  }
}
