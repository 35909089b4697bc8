package graft

import java.nio.file.{Files, Path, Paths}
import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.DataFrame
import scala.jdk.CollectionConverters._

/** graft.Harness: the JSON escape round-trips through a real parser, the
  * rep protocol's median, the between-rep cleanup, and that the harness
  * is the only place a session is built. Uses the shared SparkSpec
  * session: Harness.session's getOrCreate would reconfigure it. */
class HarnessSpec extends SparkSpec {

  test("jsonStr escapes quote, backslash and control chars; Jackson parses them back") {
    val mapper = new ObjectMapper()
    Seq("\"", "\\", "\n", "\r", "\t", "\u0001", "a \"q\" \\ b\n\tc\u0001d")
      .foreach { s =>
        val lit = Harness.jsonStr(s)
        assert(!lit.exists(_ < ' '), s"raw control char in $lit")
        assert(mapper.readValue(lit, classOf[String]) == s, lit)
      }
  }

  test("medianOfLast4 drops the warm-up rep and takes the median of the rest") {
    assert(Harness.medianOfLast4(Seq(99.0, 4.0, 1.0, 3.0, 2.0)) == 2.5)
  }

  test("timeNoop leaves no cached frame and no persistent RDD behind") {
    // the checkpointed frame stays reachable through the checks: the
    // context tracks persisted RDDs by weak reference, so only an
    // explicit unpersist (not the GC) empties the map while it is held
    var persisted = 0
    var checkpointed: DataFrame = null
    val dt = Harness.timeNoop(spark) {
      val cached = spark.range(1000).toDF("id").cache()
      cached.count()
      checkpointed = cached.selectExpr("id * 2 AS v").localCheckpoint()
      persisted = spark.sparkContext.getPersistentRDDs.size
      checkpointed
    }
    assert(dt >= 0)
    assert(persisted >= 2, s"the build should persist a cache and a checkpoint, saw $persisted")
    assert(spark.sparkContext.getPersistentRDDs.isEmpty)
    assert(spark.sharedState.cacheManager.isEmpty)
    assert(checkpointed.columns.toSeq == Seq("v"))
  }

  test("under src/main/scala only Harness.scala builds a session or cleans up") {
    val files = Files.walk(Paths.get("src/main/scala"))
    val sources = try files.iterator.asScala.filter(_.toString.endsWith(".scala"))
      .map((p: Path) => p.getFileName.toString -> Files.readString(p)).toList
    finally files.close()
    Seq("SparkSession.builder", "System.gc()", "getPersistentRDDs").foreach { token =>
      val in = sources.collect { case (name, src) if src.contains(token) => name }
      assert(in == List("Harness.scala"), s"$token in $in")
    }
  }
}
