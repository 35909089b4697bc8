package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.internal.SQLConf

/** Corpus ingestion/egress (SURVEY.md §2.1).
  *
  * The reference walks local directories on the DRIVER and parallelizes
  * the collected strings (`loadFilesPartial.py:5-40`) — a non-starter
  * beyond a few GB. Here the read is a distributed whole-file scan:
  * every executor reads its own file split, labels derive from the file
  * path, and nothing funnels through the driver. At 100 TB this is the
  * difference between a working source and an OOM.
  *
  * The scan is `binaryFile`, each file's bytes cast to a UTF-8 string:
  * the text `wholetext` reads, without the Hadoop task context and full
  * job-configuration copy `wholetext` builds for every file (about a
  * fifth of the ingest samples in a JFR of 1,000 review files on a
  * 4-core host). `binaryFile` does not decompress `.gz` files; the
  * reference reads plain files. File names come from
  * `input_file_name()`, which is URL-encoded (`a b.txt` is named
  * `a%20b`); the `path` column is not, and would rename such files.
  *
  * Both loaders return frames packed by bytes, by Spark's own file-split
  * rule (`FilePartition.maxSplitBytes`) on the corpus files' bytes:
  * {{{
  * splitBytes = min(maxPartitionBytes, max(openCostInBytes, ceil(bytes / minPartitionNum)))
  * partitions = max(1, ceil(bytes / splitBytes))
  * }}}
  * with the `spark.sql.files.*` settings, and `minPartitionNum` resolved
  * as the scan resolves it (`spark.sql.files.minPartitionNum`, else the
  * leaf-node default parallelism). Unlike the scan, the rule does not
  * charge every file `openCostInBytes` (4 MB by default): with that
  * padding a directory of tiny reviews arrives as one partition per 32
  * files of a few tens of KB, and every later fit iteration, tree level
  * and χ² pass runs one task per sliver. It also rounds the per-core
  * share up, so an even split gives exactly `minPartitionNum`
  * partitions. A corpus under `minPartitionNum × openCostInBytes` (16 MB
  * on 4 cores) thus reads as one partition per `openCostInBytes`, and a
  * larger one as `max(minPartitionNum, ceil(bytes / maxPartitionBytes))`.
  * The packing is a shuffle-free `coalesce`, so it only ever merges:
  * once files are large enough for the open cost not to matter, the
  * scan already has no more partitions than the rule and the frame comes
  * back as read.
  */
object CorpusReader {

  /** S1/S3 `loadLabeled`: files under `path/pos` → label 1.0, `path/neg` → 0.0
    * (`loadFilesPartial.py:18,24`). `limitPerClass` mirrors the `nb`
    * parameter of the partial loader. */
  def loadLabeled(spark: SparkSession, path: String,
                  limitPerClass: Option[Int] = None): DataFrame = {
    def side(sub: String, label: Double): DataFrame = {
      val df = files(spark, s"$path/$sub").select(review, lit(label).as("label"))
      limitPerClass.fold(df)(df.limit)
    }
    packed(side("pos", 1.0).unionByName(side("neg", 0.0)))
  }

  /** S2 `loadUknown`: unlabeled docs, id = filename stem
    * (`loadFilesPartial.py:30-40`). */
  def loadUnknown(spark: SparkSession, path: String): DataFrame =
    packed(files(spark, path).select(review,
      regexp_extract(input_file_name(), "([^/]+)\\.[^.]+$", 1).as("name")))

  /** One row per file under `dir`: its `path` and raw `content`. */
  private def files(spark: SparkSession, dir: String): DataFrame =
    spark.read.format("binaryFile").load(dir)

  /** A file's whole text: its bytes as a UTF-8 string. */
  private val review = col("content").cast("string").as("review")

  /** Coalesce `df` to the byte-packed partition count (see above). The
    * bytes are the sum of the scanned files' sizes, as the read's file
    * index has already listed them, so no job, optimizer or physical
    * planning runs here. The plan's statistics would not do: they scale
    * the files' size by the projection's row width over the scan's
    * (about 1/4 for [[loadLabeled]] and 1/3 for [[loadUnknown]] over
    * `binaryFile`'s four columns), so a 1 GB labeled corpus would pack
    * to 4 partitions where its scan splits into 8. */
  private def packed(df: DataFrame): DataFrame = {
    val conf = df.sparkSession.sessionState.conf
    val minPartitions = conf.filesMinPartitionNum
      .orElse(conf.getConf(SQLConf.LEAF_NODE_DEFAULT_PARALLELISM))
      .getOrElse(df.sparkSession.sparkContext.defaultParallelism)
    val bytes = df.queryExecution.analyzed.collect {
      case LogicalRelation(files: HadoopFsRelation, _, _, _, _) => BigInt(files.sizeInBytes)
    }.sum
    val perCore = (bytes + minPartitions - 1) / minPartitions
    val splitBytes = BigInt(conf.filesMaxPartitionBytes)
      .min(perCore.max(conf.filesOpenCostInBytes))
    val n = (bytes + splitBytes - 1) / splitBytes
    df.coalesce(n.max(1).min(Int.MaxValue).toInt)
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
