package graft

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}
import java.util.Locale

import org.apache.spark.sql.{DataFrame, SparkSession}
import scala.util.Try
import scala.util.control.NonFatal

/** The measuring harness shared by the mains (`Bench`, `Verify`,
  * `Crossover`, `ScaleBench`, `CodegenAudit`, `FixtureGen`). It owns
  * three decisions: how a measuring session is configured
  * ([[session]]), how it is warmed before the first timed query
  * ([[warmUp]]), and how a timed repetition is forced and cleaned up
  * ([[timeNoop]], [[cleanup]]). The rest are the host-window stamp
  * ([[HostWindow]]) and the small helpers the mains' JSON artifacts
  * share.
  */
object Harness {

  /** Core count of the measuring mains: `SPARK_GRAFT_CPUS` when set,
    * else the cores the JVM sees. */
  def cpus: String = sys.env.getOrElse("SPARK_GRAFT_CPUS",
    Runtime.getRuntime.availableProcessors.toString)

  /** `local[cpus]` with `cpus` shuffle partitions, UTC, nanosecond
    * parquet timestamps read as longs, the graft extensions and no UI;
    * log level ERROR. AQE and its partition coalescing are left at
    * Spark's defaults (on), so a `spark.sql.adaptive.enabled` JVM
    * property set before the first session reaches every session of
    * the context. The measuring mains run at the host's cores; the
    * goldens and the codegen audit pass "4", the parallelism
    * `SparkSpec` pins. */
  def session(app: String, cpus: String = Harness.cpus): SparkSession = {
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

  /** The untimed session warm-up of the measuring mains (`Bench`,
    * `Crossover`, `ScaleBench`), run once per JVM after any corpus
    * synthesis and before the host window or the first timed query:
    * open every table of `sfDir` once through the session's Tables memo
    * (file listing, footer read) and scan one row of it (JVM and
    * codegen baseline), then run the first catalog query. The query is
    * fixed, never the head of a filtered subset, so subset runs warm as
    * full sweeps do; and a run whose corpora were just synthesized in
    * the same JVM warms no differently from one that found them cached.
    * A table or query that fails here is skipped. */
  def warmUp(spark: SparkSession, sfDir: String): Unit = {
    val tables = Tables(spark, sfDir)
    Seq[Tables => DataFrame](_.lineitem, _.orders, _.events, _.documents,
      _.embeddings, _.part, _.customer, _.supplier, _.nation, _.region).foreach { t =>
      try { t(tables).limit(1).count(); () }
      catch { case NonFatal(_) => () }
    }
    val first = SparkEntry.queries.keys.min
    try { timeNoop(spark)(SparkEntry.queries(first)(spark, sfDir)); () }
    catch { case NonFatal(e) =>
      System.err.println(s"[warm-up] $first failed: ${e.getMessage}")
    }
  }

  /** Seconds to build `build` and force it through a `noop`-format
    * write — the whole physical plan executes, where a count() would
    * let Spark prune projections and skip most of the work. The build
    * is inside the timed window: plan construction (e.g. q107's tier
    * census) is part of the operator's cost. [[cleanup]] runs after,
    * outside the window. */
  def timeNoop(spark: SparkSession)(build: => DataFrame): Double =
    measureNoop(spark)(build).wall

  /** Seconds of one timed window: wall clock, this process's CPU (every
    * thread: tasks, GC, JIT compilers) and HotSpot's JIT compilation
    * time, as deltas over the window. */
  final case class Usage(wall: Double, cpu: Double, jit: Double)

  /** [[timeNoop]] with the window's process CPU and JIT seconds; the
    * CPU and JIT counters read 0 on a JVM that does not expose them. */
  def measureNoop(spark: SparkSession)(build: => DataFrame): Usage = {
    val (c0, j0, t0) = (processCpuNs(), jitMs(), System.nanoTime())
    build.write.mode("overwrite").format("noop").save()
    val usage = Usage((System.nanoTime() - t0) / 1e9,
      (processCpuNs() - c0) / 1e9, (jitMs() - j0) / 1e3)
    cleanup(spark)
    usage
  }

  private def processCpuNs(): Long =
    ManagementFactory.getOperatingSystemMXBean match {
      case os: com.sun.management.OperatingSystemMXBean => math.max(0L, os.getProcessCpuTime)
      case _ => 0L
    }

  private def jitMs(): Long = {
    val jit = ManagementFactory.getCompilationMXBean
    if (jit != null && jit.isCompilationTimeMonitoringSupported) jit.getTotalCompilationTime
    else 0L
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
  private def loadavg(): String =
    try Files.readString(Paths.get("/proc/loadavg")).trim.split(" ")(0)
    catch { case NonFatal(_) => "-1" }

  def fmt3(d: Double): String = "%.3f".formatLocal(Locale.ROOT, d)

  /** Most of the host's CPU ticks a clean window may lose to anything
    * but this JVM: hypervisor steal plus other processes' busy time.
    * Measured on a 4-vCPU host: idle windows (full sf0.1 sweeps and
    * `Bench q01 q03` at sf0.01) summed to 0.00–0.08, and one shell busy
    * loop per core beside the run read foreign 0.61–0.63. Steal alone
    * has swung from 0.001 to 0.25 between runs on that host. */
  val WindowBound = 0.25

  /** Steal and foreign shares of one host window; `-1` shares mean it
    * could not be read, and such a window counts as clean, as an
    * unreadable `loadavg` does. */
  final case class WindowShares(steal: Double, foreign: Double, ok: Boolean)

  /** The window arithmetic over the aggregate `cpu` line of
    * `/proc/stat` and this JVM's utime+stime at both ends (all USER_HZ
    * ticks, so no clock rate is needed). steal = Δsteal / Δtotal;
    * foreign = (Δbusy − Δself) / Δtotal with busy = user + nice + system
    * + irq + softirq (guest time is already inside user and nice);
    * ok = steal + foreign ≤ [[WindowBound]]. An empty or garbled line, a
    * counter running backwards or a window without ticks reads `-1`. */
  def windowShares(cpuStart: String, cpuEnd: String,
      selfStart: Long, selfEnd: Long): WindowShares = {
    // user nice system idle iowait irq softirq steal
    def ticks(line: String): Option[Seq[Long]] = line.trim.split("\\s+") match {
      case f if f.length >= 9 && f(0) == "cpu" => Try(f.slice(1, 9).toSeq.map(_.toLong)).toOption
      case _ => None
    }
    val deltas = for (a <- ticks(cpuStart); b <- ticks(cpuEnd))
      yield b.zip(a).map { case (x, y) => x - y }
    deltas match {
      case Some(d) if d.sum > 0 && d.forall(_ >= 0) && selfStart >= 0 && selfEnd >= selfStart =>
        val (total, steal) = (d.sum, d(7))
        val foreign = math.max(0L, d(0) + d(1) + d(2) + d(5) + d(6) - (selfEnd - selfStart))
        WindowShares(steal.toDouble / total, foreign.toDouble / total,
          steal + foreign <= WindowBound * total)
      case _ => WindowShares(-1.0, -1.0, ok = true)
    }
  }

  /** One host window: [[HostWindow.start]] before the measured work,
    * [[end]] after it. */
  final class HostWindow private (loadStart: String, calibStart: Double,
      cpuStart: String, selfStart: Long) {

    /** The env-JSON fragment (no braces) of `Bench` and `Crossover`
      * (and so of tools/corescale.sh's two legs). Keys are
      * append-only: readers compare key lists across artifacts, so a
      * new key goes at the end. */
    def end(spark: SparkSession): String = {
      val w = windowShares(cpuStart, HostWindow.cpuLine(), selfStart, HostWindow.selfTicks())
      s""""load_start":$loadStart,"load_end":${loadavg()},""" +
        s""""calib_start":${fmt3(calibStart)},"calib_end":${fmt3(HostWindow.calib())},""" +
        s""""calib_parallelism":1,"window_ok":${w.ok},"idle_ref":$WindowBound,""" +
        s""""calib_note":"${HostWindow.Note}",""" +
        s""""steal_ratio":${fmt3(w.steal)},"foreign_ratio":${fmt3(w.foreign)},""" +
        s""""parallelism":${spark.sparkContext.defaultParallelism}"""
    }
  }

  object HostWindow {
    private val Note = "calib: single-thread integer loop, seconds, no " +
      "reference value; window_ok: steal_ratio + foreign_ratio <= idle_ref, " +
      "shares of the host's /proc/stat CPU ticks in the window (-1: unreadable)"

    def start(): HostWindow = {
      val (load, calibStart) = (loadavg(), calib())
      new HostWindow(load, calibStart, cpuLine(), selfTicks())
    }

    private def cpuLine(): String =
      try Files.readAllLines(Paths.get("/proc/stat")).get(0)
      catch { case NonFatal(_) => "" }

    /** utime + stime: fields 14 and 15 of `/proc/self/stat`, counted
      * past the parenthesised command name. */
    private def selfTicks(): Long =
      try {
        val stat = Files.readString(Paths.get("/proc/self/stat"))
        val f = stat.substring(stat.lastIndexOf(')') + 2).split(" ")
        f(11).toLong + f(12).toLong
      } catch { case NonFatal(_) => -1L }

    @volatile private var sink = 0L

    /** Seconds of a fixed single-thread integer loop: one core's speed,
      * comparable at any parallelism. */
    private def calib(): Double = {
      val t0 = System.nanoTime()
      var i = 0L
      var sum = 0L
      while (i < 50_000_000L) { sum += (i % 1000003) * 2654435761L % 97; i += 1 }
      sink = sum
      (System.nanoTime() - t0) / 1e9
    }
  }
}
