package graft

import java.net.URI
import java.nio.file.{Files, Path, Paths}
import graft.sources.CorpusReader
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{input_file_name, lit, regexp_extract}

/** CorpusReader packs a directory of tiny review files by bytes, not by
  * file count, with Spark's file-split rule minus the per-file open cost,
  * and the packing changes neither labels nor file names. */
class CorpusReaderSpec extends SparkSpec {

  private val PerClass = 150
  private val TestDocs = 200

  private lazy val root: Path = {
    val r = Files.createTempDirectory("graft-corpus")
    def write(dir: String, n: Int, text: Int => String): Unit = {
      val d = Files.createDirectories(r.resolve(dir))
      (0 until n).foreach(i => Files.writeString(d.resolve(f"$i%05d_7.txt"), text(i)))
    }
    write("train/pos", PerClass, i => s"pos review $i: a wonderful film")
    write("train/neg", PerClass, i => s"neg review $i: an awful film")
    write("test", TestDocs, i => f"$i%05d_7")
    r
  }

  private def cores: Int = spark.sparkContext.defaultParallelism

  /** The bytes CorpusReader packs by: the sizes of the files the frame
    * reads, summed from the filesystem. */
  private def bytes(df: DataFrame): BigInt =
    df.inputFiles.map(f => BigInt(Files.size(Paths.get(new URI(f))))).sum

  /** Spark's file-split rule on those bytes, without the per-file open
    * cost: splitBytes = min(maxPartitionBytes, max(openCostInBytes,
    * ceil(bytes / cores))), and ceil(bytes / splitBytes) partitions. */
  private def bound(df: DataFrame): Int = {
    val conf = spark.sessionState.conf
    val b = bytes(df)
    val split = BigInt(conf.filesMaxPartitionBytes)
      .min(BigInt(conf.filesOpenCostInBytes).max((b + cores - 1) / cores))
    ((b + split - 1) / split).max(1).toInt
  }

  private def scanPartitions(dir: String): Int =
    spark.read.format("binaryFile").load(root.resolve(dir).toString)
      .rdd.getNumPartitions

  private def partitions(df: DataFrame): Int = df.rdd.getNumPartitions

  private def labeled: DataFrame = CorpusReader.loadLabeled(spark, s"$root/train")

  private def withFilesConf(openCost: Long, maxBytes: Long)(f: => Unit): Unit =
    withSQLConf("spark.sql.files.openCostInBytes" -> openCost.toString,
      "spark.sql.files.maxPartitionBytes" -> maxBytes.toString)(f)

  test("loadLabeled and loadUnknown are packed to the byte bound") {
    // the raw scans are split by file count, so the packing has teeth
    // here; a corpus of a few KB reads as one partition
    assert(scanPartitions("train/pos") + scanPartitions("train/neg") > 1)
    assert(scanPartitions("test") > 1)
    val unknown = CorpusReader.loadUnknown(spark, s"$root/test")
    assert(bound(labeled) == 1 && bound(unknown) == 1)
    assert(partitions(labeled) == 1)
    assert(partitions(unknown) == 1)
  }

  test("with a small open cost the same files pack to defaultParallelism partitions") {
    withFilesConf(openCost = 64, maxBytes = 1 << 20) {
      val df = labeled
      assert(bytes(df) >= cores * 64 && bytes(df) <= cores * (1 << 20))
      assert(scanPartitions("train/pos") + scanPartitions("train/neg") > cores)
      assert(bound(df) == cores)
      assert(partitions(df) == cores)
    }
  }

  test("past cores × maxPartitionBytes the files pack to ceil(bytes / maxPartitionBytes)") {
    val maxBytes = 1024L
    withFilesConf(openCost = 64, maxBytes = maxBytes) {
      val df = labeled
      val bySize = ((bytes(df) + maxBytes - 1) / maxBytes).toInt
      assert(bySize > cores)
      assert(scanPartitions("train/pos") + scanPartitions("train/neg") > bySize)
      assert(bound(df) == bySize)
      assert(partitions(df) == bySize)
    }
  }

  test("under cores × openCostInBytes the files pack to ceil(bytes / openCostInBytes)") {
    val openCost = 4096L
    withFilesConf(openCost = openCost, maxBytes = 1 << 20) {
      val df = labeled
      val byOpenCost = ((bytes(df) + openCost - 1) / openCost).toInt
      assert(byOpenCost > 1 && byOpenCost < cores)
      assert(bound(df) == byOpenCost)
      assert(partitions(df) == byOpenCost)
    }
  }

  test("from cores × openCostInBytes up the count is max(cores, ceil(bytes / maxPartitionBytes))") {
    // the rule the loaders applied at every size before the open cost
    // was taken into account; at and above that size nothing changes
    Seq(64L -> (1L << 20), 64L -> 1024L, 256L -> 2048L).foreach { case (openCost, maxBytes) =>
      withFilesConf(openCost, maxBytes) {
        val df = labeled
        assert(bytes(df) >= cores * openCost)
        val before = math.max(cores, ((bytes(df) + maxBytes - 1) / maxBytes).toInt)
        assert(partitions(df) == before, s"openCost $openCost, maxPartitionBytes $maxBytes")
      }
    }
  }

  test("the count follows the files' bytes, not the plan's row-width-scaled size") {
    // the plan's size scales the files' by output over scan row width
    // (about 1/3 for loadUnknown's review and name over binaryFile's
    // four columns), which here would pack to another partition count
    // than the files' own bytes ask for
    val maxBytes = 128L
    withFilesConf(openCost = 64, maxBytes = maxBytes) {
      val df = CorpusReader.loadUnknown(spark, s"$root/test")
      def count(b: BigInt) = ((b + maxBytes - 1) / maxBytes).toInt
      val byFiles = count(bytes(df))
      assert(byFiles > cores)
      assert(count(df.queryExecution.analyzed.stats.sizeInBytes) != byFiles)
      assert(bound(df) == byFiles)
      assert(partitions(df) == byFiles)
    }
  }

  test("every packed row keeps the label of its directory") {
    val rows = CorpusReader.loadLabeled(spark, s"$root/train")
      .select("review", "label").collect()
    assert(rows.length == 2 * PerClass)
    rows.foreach { r =>
      val expected = if (r.getString(0).startsWith("pos ")) 1.0 else 0.0
      assert(r.getDouble(1) == expected, r)
    }
  }

  test("every packed name is its file stem (input_file_name under the coalesce)") {
    val rows = CorpusReader.loadUnknown(spark, s"$root/test")
      .select("name", "review").collect()
    assert(rows.length == TestDocs)
    rows.foreach(r => assert(r.getString(0) == r.getString(1), r))
    assert(rows.map(_.getString(0)).toSet.size == TestDocs)
  }

  /** The reference for the `binaryFile` loaders: the same loads through
    * Spark's `wholetext` text reader, unpacked. */
  private def wholetext(dir: String) = spark.read.option("wholetext", "true").text(dir)
    .withColumnRenamed("value", "review")
  private def wholetextLabeled(dir: String): DataFrame =
    wholetext(s"$dir/pos").withColumn("label", lit(1.0))
      .unionByName(wholetext(s"$dir/neg").withColumn("label", lit(0.0)))
  private def wholetextUnknown(dir: String): DataFrame = wholetext(dir)
    .withColumn("name", regexp_extract(input_file_name(), "([^/]+)\\.[^.]+$", 1))
    .select("review", "name")

  private def sameRows(got: DataFrame, want: DataFrame): Unit = {
    assert(got.columns.toSeq == want.columns.toSeq)
    val g = got.collect().map(_.toSeq.mkString("\u0001")).sorted.toSeq
    val w = want.collect().map(_.toSeq.mkString("\u0001")).sorted.toSeq
    assert(g.nonEmpty && g == w)
  }

  test("binaryFile reads the rows, labels and names the wholetext reads did") {
    sameRows(CorpusReader.loadLabeled(spark, "fixtures/corpus/train"),
      wholetextLabeled("fixtures/corpus/train"))
    sameRows(CorpusReader.loadUnknown(spark, "fixtures/corpus/test"),
      wholetextUnknown("fixtures/corpus/test"))
    // a space and an extra dot in file names, multi-line and non-ASCII text
    val r = Files.createTempDirectory("graft-corpus-names")
    Seq("pos", "neg", "test").foreach(d => Files.createDirectories(r.resolve(d)))
    Seq("a b.txt" -> "line one\nline two\n", "x.y_3.txt" -> "caf\u00e9 \u2013 ok",
        "12_7.txt" -> "plain", "empty_1.txt" -> "").foreach { case (f, text) =>
      Seq("pos", "neg", "test").foreach(d =>
        Files.writeString(r.resolve(s"$d/$f"), if (text.isEmpty) "" else s"$d $text"))
    }
    sameRows(CorpusReader.loadLabeled(spark, r.toString), wholetextLabeled(r.toString))
    sameRows(CorpusReader.loadUnknown(spark, s"$r/test"), wholetextUnknown(s"$r/test"))
  }

  test("limitPerClass still yields k rows per class") {
    val k = 7
    val counts = CorpusReader.loadLabeled(spark, s"$root/train", Some(k))
      .groupBy("label").count().collect().map(r => r.getDouble(0) -> r.getLong(1)).toMap
    assert(counts == Map(1.0 -> k.toLong, 0.0 -> k.toLong))
  }
}
