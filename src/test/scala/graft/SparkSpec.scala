package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for all specs (one JVM, forked by sbt). */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSpec.session
  /** Testdata root, overridable for checkouts where the driver-generated
    * parquet lives elsewhere (the sole source of truth for data paths in
    * specs — never hardcode /root/testdata in a suite). */
  lazy val testdataBase: String =
    sys.env.getOrElse("GRAFT_TESTDATA", "/root/testdata")
  lazy val sf: String = s"$testdataBase/sf0.001"
  /** The correctness-gate scale factor — for the few specs that need a
    * corpus where support thresholds are actually reachable. */
  lazy val sfMid: String = s"$testdataBase/sf0.01"
  implicit def sqlImplicits: org.apache.spark.sql.SQLImplicits = spark.implicits

  /** Run `f` with the shared session's `pairs` set, then restore them. */
  def withSQLConf(pairs: (String, String)*)(f: => Unit): Unit = {
    val conf = spark.conf
    val olds = pairs.map { case (k, _) => k -> conf.getOption(k) }
    pairs.foreach { case (k, v) => conf.set(k, v) }
    try f finally olds.foreach {
      case (k, Some(v)) => conf.set(k, v)
      case (k, None) => conf.unset(k)
    }
  }
}

object SparkSpec {
  lazy val session: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .config("spark.sql.warehouse.dir",
        java.nio.file.Files.createTempDirectory("graft-warehouse").toString)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
