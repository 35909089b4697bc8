package graft

import java.util.concurrent.ConcurrentLinkedQueue
import org.apache.hadoop.fs.Path
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.schema.MessageTypeParser
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{AnalysisException, DataFrame}
import org.apache.spark.sql.types.LongType
import org.scalatest.concurrent.Eventually._
import org.scalatest.time.SpanSugar._
import scala.jdk.CollectionConverters._
import graft.sources.TempDirs
import graft.streaming.StreamStage

/** graft.Tables.parquet: the driver-side footer read yields exactly the
  * schema Spark's own inference yields, and opening a table starts no
  * Spark job. */
class TablesSpec extends SparkSpec {

  private val names = Seq("region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  private def sameSchema(path: String): Unit = {
    val ours = Tables.parquet(spark, path).schema
    val spark0 = spark.read.parquet(path).schema
    assert(ours == spark0, s"$path:\n$ours\n$spark0")
  }

  test("every table at sf and sfMid opens with Spark's inferred schema") {
    for (dir <- Seq(sf, sfMid); n <- names) sameSchema(s"$dir/$n.parquet")
  }

  test("a Spark-written directory (row metadata, _SUCCESS, .crc) opens with Spark's schema") {
    val dir = StreamStage.eventsDir(spark, sf)
    assert(new java.io.File(dir).list().exists(_.startsWith(".")), "expected hidden .crc files")
    sameSchema(dir)
  }

  test("a TIMESTAMP(NANOS) column reads as Spark reads it under nanosAsLong") {
    val path = TempDirs.create("graft-tables-nanos").resolve("nanos.parquet").toString
    val schema = MessageTypeParser.parseMessageType(
      "message m { required int64 id; required int64 ts (TIMESTAMP(NANOS,false)); }")
    val writer = ExampleParquetWriter.builder(new Path(path)).withType(schema)
      .withConf(spark.sessionState.newHadoopConf()).build()
    try writer.write(new SimpleGroupFactory(schema).newGroup().append("id", 1L).append("ts", 7L))
    finally writer.close()
    val key = "spark.sql.legacy.parquet.nanosAsLong"
    val before = spark.conf.get(key)
    try {
      spark.conf.set(key, "true")
      sameSchema(path)
      assert(Tables.parquet(spark, path).schema("ts").dataType == LongType)
      assert(Tables.parquet(spark, path).collect().map(_.getLong(1)).toSeq == Seq(7L))
      // the events table is read under the same setting
      sameSchema(s"$sf/events.parquet")
    } finally spark.conf.set(key, before)
  }

  test("opening all 10 tables in a fresh Tables memo starts no Spark job") {
    val sc = spark.sparkContext
    val session = spark.newSession()
    val tag = "graft.tables.spec"
    val seen = new ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).flatMap(p => Option(p.getProperty(tag))).foreach(seen.add)
    }
    sc.addSparkListener(listener)
    try {
      sc.setLocalProperty(tag, "open")
      val t = Tables(session, sfMid)
      Seq[Tables => DataFrame](_.region, _.nation, _.customer, _.supplier, _.part,
        _.orders, _.lineitem, _.events, _.documents, _.embeddings).foreach(f => f(t).schema)
      // listener events arrive in order: once the fence job is seen,
      // every job the opens started has been counted
      sc.setLocalProperty(tag, "fence")
      sc.parallelize(Seq(1), 1).count()
      eventually(timeout(30.seconds))(assert(seen.contains("fence")))
      assert(seen.asScala.count(_ == "open") == 0, s"jobs seen: ${seen.asScala.toList}")
    } finally {
      sc.setLocalProperty(tag, null)
      sc.removeSparkListener(listener)
      Tables.clear(session)
    }
  }

  test("an empty directory still raises Spark's AnalysisException") {
    val dir = TempDirs.create("graft-tables-empty").toString
    intercept[AnalysisException](Tables.parquet(spark, dir))
  }
}
