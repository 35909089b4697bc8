package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Corpus ingestion/egress (SURVEY.md §2.1).
  *
  * The reference walks local directories on the DRIVER and parallelizes
  * the collected strings (`loadFilesPartial.py:5-40`) — a non-starter
  * beyond a few GB. Here the read is a distributed `wholetext` scan:
  * every executor reads its own file split, labels derive from the file
  * path, and nothing funnels through the driver. At 100 TB this is the
  * difference between a working source and an OOM.
  *
  * Both loaders return frames packed by bytes: at most
  * `max(defaultParallelism, ceil(sizeInBytes / spark.sql.files.maxPartitionBytes))`
  * partitions. The file scan charges every file
  * `spark.sql.files.openCostInBytes` (4 MB by default) when it packs
  * splits, so a directory of tiny reviews arrives as one partition per
  * 32 files (128 MB / 4 MB) holding a few tens of KB, and every later
  * fit iteration, tree level and χ² pass runs one task per sliver. The
  * packing is a shuffle-free `coalesce`, so it only ever merges: once
  * files are large enough for the open cost not to matter, the scan
  * already has no more partitions than the bound and the frame comes
  * back as read.
  */
object CorpusReader {

  /** S1/S3 `loadLabeled`: files under `path/pos` → label 1.0, `path/neg` → 0.0
    * (`loadFilesPartial.py:18,24`). `limitPerClass` mirrors the `nb`
    * parameter of the partial loader. */
  def loadLabeled(spark: SparkSession, path: String,
                  limitPerClass: Option[Int] = None): DataFrame = {
    def side(sub: String, label: Double): DataFrame = {
      val df = spark.read.option("wholetext", "true").text(s"$path/$sub")
        .withColumnRenamed("value", "review")
        .withColumn("label", lit(label))
      limitPerClass.fold(df)(df.limit)
    }
    packed(side("pos", 1.0).unionByName(side("neg", 0.0)))
  }

  /** S2 `loadUknown`: unlabeled docs, id = filename stem
    * (`loadFilesPartial.py:30-40`). */
  def loadUnknown(spark: SparkSession, path: String): DataFrame =
    packed(spark.read.option("wholetext", "true").text(path)
      .withColumn("name",
        regexp_extract(input_file_name(), "([^/]+)\\.[^.]+$", 1))
      .withColumnRenamed("value", "review"))

  /** Coalesce `df` to the byte-packed partition count (see above). The
    * size comes from the analyzed plan's statistics, which the read has
    * already computed, so no optimizer or physical planning runs here. */
  private def packed(df: DataFrame): DataFrame = {
    val spark = df.sparkSession
    val bytes = df.queryExecution.analyzed.stats.sizeInBytes
    val maxBytes = BigInt(spark.sessionState.conf.filesMaxPartitionBytes)
    val bySize = ((bytes + maxBytes - 1) / maxBytes).min(Int.MaxValue).toInt
    df.coalesce(math.max(spark.sparkContext.defaultParallelism, bySize))
  }

  /** S6 TSV prediction sink: `docid\tlabel` lines. Distributed write;
    * `single=true` coalesces to one golden file (small outputs only —
    * the reference's driver-side loop, `script3_ter.py:199-210`, made
    * single-file the only option). */
  def writeTsv(df: DataFrame, out: String, idCol: String = "name",
               predCol: String = "prediction", single: Boolean = false): Unit = {
    val sel = df.select(col(idCol).cast("string"), col(predCol).cast("string"))
    val w = if (single) sel.coalesce(1) else sel
    w.write.mode("overwrite").option("sep", "\t").csv(out)
  }
}
