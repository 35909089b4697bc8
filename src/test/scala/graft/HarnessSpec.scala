package graft

import java.nio.file.{Files, Path, Paths}
import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.DataFrame
import scala.jdk.CollectionConverters._

/** graft.Harness: the JSON escape round-trips through a real parser, the
  * rep protocol's median, the between-rep cleanup, the host-window
  * arithmetic and stamp, and that the harness is the only place a
  * session is built. Uses the shared SparkSpec
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

  // aggregate cpu lines: user nice system idle iowait irq softirq steal guest guest_nice
  private def cpu(t: Long*): String = ("cpu " +: t.map(_.toString)).mkString(" ")
  private val t0 = cpu(1000, 10, 300, 5000, 40, 0, 20, 60, 0, 0)

  test("windowShares: a steal-only delta reads as steal, nothing foreign") {
    val w = Harness.windowShares(t0, cpu(1000, 10, 300, 5360, 40, 0, 20, 100, 0, 0), 7, 7)
    assert(w == Harness.WindowShares(0.1, 0.0, ok = true))
  }

  test("windowShares: busy ticks beyond this JVM's own read as foreign") {
    val w = Harness.windowShares(t0, cpu(1200, 10, 300, 5200, 40, 0, 20, 60, 0, 0), 100, 150)
    assert(w == Harness.WindowShares(0.0, 0.375, ok = false))
  }

  test("windowShares: a window exactly at the bound is clean, one tick more is not") {
    // 400 ticks: 40 steal + (100 busy - 40 own) foreign = 100 = 0.25 x 400
    assert(Harness.WindowBound == 0.25)
    val at = Harness.windowShares(t0, cpu(1080, 10, 320, 5260, 40, 0, 20, 100, 0, 0), 0, 40)
    assert(at == Harness.WindowShares(0.1, 0.15, ok = true))
    val over = Harness.windowShares(t0, cpu(1080, 10, 320, 5260, 40, 0, 20, 100, 0, 0), 0, 39)
    assert(!over.ok)
  }

  test("windowShares: guest ticks are inside user and nice and are not counted twice") {
    // user +300 of which guest +200, nice +100 of which guest_nice +100, idle +600
    val w = Harness.windowShares(cpu(1000, 10, 300, 5000, 40, 0, 20, 60, 500, 5),
      cpu(1300, 110, 300, 5600, 40, 0, 20, 60, 700, 105), 0, 100)
    assert(w == Harness.WindowShares(0.0, 0.3, ok = false))
  }

  test("windowShares: an unreadable or garbled /proc/stat reads -1 and a clean window") {
    val unread = Harness.WindowShares(-1.0, -1.0, ok = true)
    val end = cpu(1200, 10, 300, 5200, 40, 0, 20, 60, 0, 0)
    Seq("" -> end, t0 -> "", "cpu a b c d e f g h" -> end, "cpu 1 2 3" -> end,
        "intr 1 2 3 4 5 6 7 8" -> end, end -> t0, t0 -> t0).foreach { case (a, b) =>
      assert(Harness.windowShares(a, b, 0, 10) == unread, s"$a -> $b")
    }
    assert(Harness.windowShares(t0, end, -1, -1) == unread)
  }

  test("HostWindow stamp: the env fragment keeps the old keys in order and appends three") {
    val w = Harness.HostWindow.start()
    spark.range(1000).selectExpr("sum(id)").collect()
    val env = new ObjectMapper().readTree("{" + w.end(spark) + "}")
    assert(env.fieldNames.asScala.toSeq == Seq("load_start", "load_end", "calib_start",
      "calib_end", "calib_parallelism", "window_ok", "idle_ref", "calib_note",
      "steal_ratio", "foreign_ratio", "parallelism"))
    assert(env.get("calib_parallelism").asInt == 1)
    assert(env.get("idle_ref").asDouble == Harness.WindowBound)
    assert(env.get("parallelism").asInt == spark.sparkContext.defaultParallelism)
    assert(env.get("calib_end").asDouble < 1.0)
    Seq("steal_ratio", "foreign_ratio").foreach { k =>
      val v = env.get(k).asDouble
      assert(v == -1.0 || (v >= 0.0 && v <= 1.0), s"$k = $v")
    }
  }

  private lazy val sources: List[(String, String)] = {
    val files = Files.walk(Paths.get("src/main/scala"))
    try files.iterator.asScala.filter(_.toString.endsWith(".scala"))
      .map((p: Path) => p.getFileName.toString -> Files.readString(p)).toList
    finally files.close()
  }

  test("under src/main/scala only Harness.scala builds a session or cleans up") {
    Seq("SparkSession.builder", "System.gc()", "getPersistentRDDs").foreach { token =>
      val in = sources.collect { case (name, src) if src.contains(token) => name }
      assert(in == List("Harness.scala"), s"$token in $in")
    }
  }

  test("under src/main/scala only the graph kernels and the rank sampler leave the plan for an RDD") {
    // Catalyst gets whole plans: a DataFrame turns into an RDD only in
    // Graph.scala (the graph kernels) and GlobalRank.scala (the key
    // sampler). The lookbehind skips the org.apache.spark.rdd package.
    val toRdd = """(?<!spark)\.rdd\b""".r
    val in = sources.collect { case (name, src) if toRdd.findFirstIn(src).nonEmpty => name }
    assert(in.sorted == List("GlobalRank.scala", "Graph.scala"), s".rdd in $in")
    Seq("toRdd", "mapPartitionsInternal").foreach { token =>
      val in = sources.collect { case (name, src) if src.contains(token) => name }
      assert(in.isEmpty, s"$token in $in")
    }
  }

  test("under src/main/scala no ALU probe, idle reference or idle gate is left") {
    Seq("HostCalib", "SPARK_GRAFT_IDLE_REF", "SPARK_GRAFT_REQUIRE_IDLE", "9_000_000_000")
      .foreach { token =>
        val in = sources.collect { case (name, src) if src.contains(token) => name }
        assert(in.isEmpty, s"$token in $in")
      }
  }
}
