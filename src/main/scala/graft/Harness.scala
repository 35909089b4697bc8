package graft

import java.nio.file.{Files, Paths}
import java.util.Locale

import org.apache.spark.sql.{DataFrame, SparkSession}
import scala.util.control.NonFatal

/** The measuring harness shared by the mains (`Bench`, `Verify`,
  * `Crossover`, `CoreScale`, `ScaleBench`, `HostCalib`, `CodegenAudit`,
  * `FixtureGen`). It owns two decisions: how a measuring session is
  * configured ([[session]]), and how a timed repetition is forced and
  * cleaned up ([[timeNoop]], [[cleanup]]). The rest are the small
  * helpers the mains' JSON artifacts share.
  */
object Harness {

  /** `local[cpus]` with `cpus` shuffle partitions, UTC, nanosecond
    * parquet timestamps read as longs, the graft extensions and no UI;
    * log level ERROR. AQE and its partition coalescing are left at
    * Spark's defaults (on), so a `spark.sql.adaptive.enabled` JVM
    * property set before the first session reaches every session of
    * the context. The measuring mains run at the host's cores; the
    * goldens and the codegen audit pass "4", the parallelism
    * `SparkSpec` pins. */
  def session(app: String, cpus: String = HostCalib.cpus): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName(app)
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  /** Seconds to build `build` and force it through a `noop`-format
    * write — the whole physical plan executes, where a count() would
    * let Spark prune projections and skip most of the work. The build
    * is inside the timed window: plan construction (e.g. q107's tier
    * census) is part of the operator's cost. [[cleanup]] runs after,
    * outside the window. */
  def timeNoop(spark: SparkSession)(build: => DataFrame): Double = {
    val t0 = System.nanoTime()
    build.write.mode("overwrite").format("noop").save()
    val dt = (System.nanoTime() - t0) / 1e9
    cleanup(spark)
    dt
  }

  /** Deterministic between-repetition cleanup, run outside the timed
    * window.
    *
    *  - `clearCache` drops SQL-cached frames, but localCheckpoint blocks
    *    (dedup/canonicalize intermediates) are RDD-persisted and only
    *    freed when the GC and ContextCleaner get around to them. Left to
    *    pile up, their cleaner/GC stalls land on whichever heavy query
    *    runs next (measured: q45 5.4 s → 34.8 s in a full sweep). They
    *    are garbage once the write finished, so unpersist them
    *    synchronously.
    *  - Broadcast blocks and codegen classloaders are freed by the
    *    ContextCleaner only after a driver GC notices they are
    *    unreachable. Across a long sweep the backlog grows until
    *    collection lands mid-query (measured: q64 3.5 s fresh vs 71 s as
    *    sweep query #63; ScaleBench's factor-10 quality_rules 409 s vs
    *    ~13 s). One explicit GC per repetition drains it.
    */
  def cleanup(spark: SparkSession): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
    System.gc()
  }

  /** The 5-rep protocol: the first rep is a warm-up and dropped, the
    * result is the median of the remaining four. */
  def medianOfLast4(ts: Seq[Double]): Double = {
    val s = ts.drop(1).sorted
    (s(1) + s(2)) / 2.0
  }

  /** JSON string literal: escapes backslash, quote and every control
    * char below 0x20 — a tab or CR in builder-authored SQL would
    * otherwise make a consumer's json.load fail. */
  def jsonStr(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  /** One-minute load average, or "-1" where `/proc/loadavg` is
    * unreadable. Machine load outside the JVM showed up as 2.4× total
    * time swings between identical runs; stamping it at both ends makes
    * a contaminated run self-identifying. */
  def loadavg(): String =
    try Files.readString(Paths.get("/proc/loadavg")).trim.split(" ")(0)
    catch { case NonFatal(_) => "-1" }

  def fmt3(d: Double): String = "%.3f".formatLocal(Locale.ROOT, d)

  /** Idle-host reference for [[HostCalib.seconds]], seconds
    * (`SPARK_GRAFT_IDLE_REF`; ~1.9 at parallelism 32). */
  def idleRef: Double = sys.env.getOrElse("SPARK_GRAFT_IDLE_REF", "1.9").toDouble

  val CalibNote: String = "HostCalib fixed ALU probe, seconds; idle-host " +
    "reference ~1.9 AT parallelism 32 — stamps are only comparable at " +
    "equal calib_parallelism (the probe partitions by it); window_ok = " +
    "calib_start within 1.15x idle_ref"

  /** Idle-window gate: true unless `calibStart` exceeds 1.15 × [[idleRef]].
    * A sweep started on a loaded host once produced a 252 s total and a
    * 44.8 s q82 cell that two same-HEAD pairings refuted, and a
    * contaminated window inverted a q72 crossover verdict; the stamp
    * makes such an artifact self-adjudicating. The reference is only
    * meaningful at parallelism 32, so any other parallelism passes.
    * `SPARK_GRAFT_REQUIRE_IDLE=1` refuses outright (exit 3); by default
    * the window is only marked, so an automated run never breaks. */
  def windowOk(spark: SparkSession, calibStart: Double, tag: String): Boolean = {
    val ref = idleRef
    val ok = spark.sparkContext.defaultParallelism != 32 || calibStart <= ref * 1.15
    if (!ok) {
      System.err.println(f"[$tag] WINDOW-CONTAMINATED calib_start=$calibStart%.3f " +
        f"> 1.15 x idle_ref=$ref%.2f — absolute cells from this run are " +
        "inflated; re-run on an idle host or read PAIRING ratios instead")
      if (sys.env.get("SPARK_GRAFT_REQUIRE_IDLE").contains("1")) {
        System.err.println(s"[$tag] SPARK_GRAFT_REQUIRE_IDLE=1 — refusing to sweep")
        spark.stop(); sys.exit(3)
      }
    }
    ok
  }
}
