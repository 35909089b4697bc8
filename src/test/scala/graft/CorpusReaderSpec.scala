package graft

import java.nio.file.{Files, Path}
import graft.sources.CorpusReader
import org.apache.spark.sql.DataFrame

/** CorpusReader packs a directory of tiny review files by bytes, not by
  * file count, and the packing changes neither labels nor file names. */
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

  /** max(defaultParallelism, ceil(bytes on disk / maxPartitionBytes)). */
  private def bound(dirs: String*): Int = {
    val bytes = dirs.map { d =>
      val s = Files.list(root.resolve(d))
      try s.mapToLong(Files.size(_)).sum() finally s.close()
    }.sum
    val maxBytes = spark.sessionState.conf.filesMaxPartitionBytes
    math.max(spark.sparkContext.defaultParallelism,
      math.ceil(bytes.toDouble / maxBytes).toInt)
  }

  private def scanPartitions(dir: String): Int =
    spark.read.option("wholetext", "true").text(root.resolve(dir).toString)
      .rdd.getNumPartitions

  private def partitions(df: DataFrame): Int = df.rdd.getNumPartitions

  test("loadLabeled and loadUnknown are packed to the byte bound") {
    val labeledBound = bound("train/pos", "train/neg")
    val unknownBound = bound("test")
    // the raw scans are split by file count, so the bound has teeth here
    assert(scanPartitions("train/pos") + scanPartitions("train/neg") > labeledBound)
    assert(scanPartitions("test") > unknownBound)
    assert(partitions(CorpusReader.loadLabeled(spark, s"$root/train")) <= labeledBound)
    assert(partitions(CorpusReader.loadUnknown(spark, s"$root/test")) <= unknownBound)
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

  test("limitPerClass still yields k rows per class") {
    val k = 7
    val counts = CorpusReader.loadLabeled(spark, s"$root/train", Some(k))
      .groupBy("label").count().collect().map(r => r.getDouble(0) -> r.getLong(1)).toMap
    assert(counts == Map(1.0 -> k.toLong, 0.0 -> k.toLong))
  }
}
