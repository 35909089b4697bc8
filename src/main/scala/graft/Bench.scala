package graft

import org.apache.spark.sql.SparkSession
import java.util.Locale

/** Per-round benchmark main. Runs every SparkEntry query against
  * SPARK_GRAFT_SF_DIR and prints ONE JSON line:
  *   {"metric":"total","value":N,"unit":"sec","queries":{...},"sf":...}
  *
  * Forcing is a `noop`-format write — the whole physical plan executes
  * (a count() would let Spark prune projections and skip most of the
  * work being measured).
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = HostCalib.cpus
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("graft-bench")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    // SPARK_GRAFT_WARM=N re-runs each query N extra times and reports the
    // fastest — steady-state data-path cost with parse/codegen/scheduling
    // constants amortized. Default 0 = cold-per-query, the driver's mode.
    val warm = sys.env.getOrElse("SPARK_GRAFT_WARM", "0").toInt

    def runOnce(name: String): Double = {
      val t0 = System.nanoTime()
      try {
        SparkEntry.queries(name)(spark, sfDir)
          .write.mode("overwrite").format("noop").save()
        val dt = (System.nanoTime() - t0) / 1e9
        // Deterministic between-query cleanup. clearCache() drops SQL-
        // cached frames, but localCheckpoint blocks (dedup/canonicalize
        // intermediates) are RDD-persisted and only freed when the GC +
        // ContextCleaner get around to them — letting them pile up across
        // the sweep makes cleaner/GC stalls land on whichever heavy query
        // runs next (measured: q45 5.4s → 34.8s in a full sweep without
        // this). The blocks are garbage once the query's write finished,
        // so free them synchronously here, OUTSIDE the timed window.
        spark.catalog.clearCache()
        spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
        // Broadcast blocks and codegen classloaders are freed by the
        // ContextCleaner only after a DRIVER GC notices they're
        // unreachable. Across a 60+ query sweep the backlog grows until
        // collection lands mid-query on whichever entry runs late in the
        // sweep (measured: q64 3.5 s fresh vs 71 s as sweep query #63,
        // with q51 298 s in the worst 8g-heap run). One explicit GC here,
        // OUTSIDE the timed window, drains the backlog each iteration.
        System.gc()
        dt
      } catch {
        case e: Throwable =>
          System.err.println(s"[bench] $name failed: ${e.getMessage}")
          -1.0
      }
    }

    def run(name: String): Double = {
      val times = (0 to warm).map(_ => runOnce(name))
      if (times.contains(-1.0)) -1.0 else times.min
    }

    // optional args = query-name filter (substring match), for fast
    // subset iteration: `sbt "runMain graft.Bench q40 q41"`
    val all = SparkEntry.queries.keys.toSeq.sorted
    val names =
      if (args.isEmpty) all
      else all.filter(n => args.exists(n.contains))
    // untimed warm-up: touch every table once (file listing, footer
    // reads, JVM/codegen baseline) so the first measured query isn't
    // charged the session's cold-start
    Seq("lineitem", "orders", "events", "documents", "embeddings", "part",
      "customer", "supplier", "nation", "region").foreach { t =>
      try { spark.read.parquet(s"$sfDir/$t.parquet").limit(1).count(); () }
      catch { case _: Throwable => () }
    }
    // environment fingerprint: machine load outside this JVM showed up as
    // 2.4x total-time swings between otherwise identical runs — recording
    // loadavg at both ends makes a contaminated run self-identifying
    // instead of a cross-round mystery.
    def loadavg(): String =
      try scala.io.Source.fromFile("/proc/loadavg").mkString.trim.split(" ")(0)
      catch { case _: Throwable => "-1" }
    val loadStart = loadavg()
    // fixed-query session warm-up (first catalog entry, NOT the filtered
    // head): with args filters the old names.head warm-up varied by
    // subset, making subset runs not strictly comparable to full sweeps
    run(all.head)
    // host-window stamp (see HostCalib): loadavg only counts runnable
    // processes, but r14 measured ~25% throughput drift at load ≈ 1 —
    // a fixed in-JVM probe at both ends makes a slow-window sweep
    // self-identifying without cross-referencing other artifacts
    val calibStart = HostCalib.seconds(spark)
    // Idle-window gate (r17 verdict item 8): a sweep started on a loaded
    // host produced a 252 s total and a 44.8 s q82 cell that two same-HEAD
    // pairing runs refuted — only the calib/load stamps rescued the
    // reading. Make the artifact self-adjudicating: compare calib_start
    // against the idle reference (~1.9 s at parallelism 32 — only
    // meaningful at that parallelism) and stamp `window_ok` into env.
    // SPARK_GRAFT_REQUIRE_IDLE=1 refuses outright (manual regen mode);
    // the default loudly marks so the driver's automated run never breaks.
    val idleRef = sys.env.getOrElse("SPARK_GRAFT_IDLE_REF", "1.9").toDouble
    val windowOk = spark.sparkContext.defaultParallelism != 32 ||
      calibStart <= idleRef * 1.15
    if (!windowOk) {
      System.err.println(f"[bench] WINDOW-CONTAMINATED calib_start=$calibStart%.3f " +
        f"> 1.15 x idle_ref=$idleRef%.2f — absolute cells from this sweep are " +
        "inflated; re-run on an idle host or read PAIRING ratios instead")
      if (sys.env.get("SPARK_GRAFT_REQUIRE_IDLE").contains("1")) {
        System.err.println("[bench] SPARK_GRAFT_REQUIRE_IDLE=1 — refusing to sweep")
        spark.stop(); sys.exit(3)
      }
    }
    val results = names.map(n => n -> run(n))
    // Variance instrument (r16 item 5, generalized per r17 verdict item
    // 1): single-shot sweep cells for cache-materializing and streaming
    // queries are window-variance-dominated (q82 read 44.8 s in the r17
    // sweep vs 2.56/2.79 s cold in both same-HEAD pairings — a reader of
    // BENCH alone would call it a 2.5x regression). Re-sample the heavy
    // tail — the 15 slowest sweep cells plus the streaming six — and
    // record min AND median so a regen diff self-adjudicates from the
    // artifact. Samples are HOMOGENEOUS single cold runs (r17 ADVICE):
    // in cold mode (warm=0) the sweep cell IS one runOnce and joins the
    // sample set; in warm mode it is a min-of-(warm+1) and is recorded
    // separately under "sweep", never mixed into min/median.
    val streamingFamily = Seq("q141_streaming_runs", "q145_streaming_hll",
      "q147_streaming_cms", "q148_streaming_dedup", "q149_streaming_bloom",
      "q150_streaming_quantile")
    val slowest15 = results.filter(_._2 >= 0).sortBy(-_._2).take(15).map(_._1)
    // SPARK_GRAFT_VARIANCE=0 skips the re-sampling entirely — the
    // pairing protocol runs SIX whole sweeps and takes mins across
    // them, so per-sweep variance re-runs are redundant cost there;
    // the driver's single-sweep BENCH run keeps the default (on).
    val varianceOn = sys.env.getOrElse("SPARK_GRAFT_VARIANCE", "1") != "0"
    val varianceTargets =
      if (!varianceOn) Seq.empty
      else (slowest15 ++ streamingFamily.filter(names.contains)).distinct.sorted
    val resultMap = results.toMap
    val queryVar = varianceTargets.flatMap { n =>
      val sweep = resultMap.getOrElse(n, -1.0)
      if (sweep < 0) None
      else {
        val extraRuns = if (warm == 0) 2 else 3
        val extras = (1 to extraRuns).map(_ => runOnce(n)).filter(_ >= 0)
        val samples = if (warm == 0) sweep +: extras else extras
        val sorted = samples.sorted
        val median =
          if (sorted.size % 2 == 1) sorted(sorted.size / 2)
          else (sorted(sorted.size / 2 - 1) + sorted(sorted.size / 2)) / 2.0
        Some(n -> (sweep, sorted.head, median, samples))
      }
    }
    val calibEnd = HostCalib.seconds(spark)
    val loadEnd = loadavg()

    def f(d: Double): String = "%.3f".formatLocal(Locale.ROOT, d)
    val queryVarJson = queryVar.map { case (n, (sw, mn, med, samples)) =>
      s""""$n":{"sweep":${f(sw)},"min":${f(mn)},"median":${f(med)},"samples":[${samples.map(f).mkString(",")}]}"""
    }.mkString("{", ",", "}")
    val qs = results.map { case (k, v) => s""""$k":${f(v)}""" }
      .mkString("{", ",", "}")
    val total = results.map(_._2).filter(_ >= 0).sum
    val env = s""""env":{"cpus":${Runtime.getRuntime.availableProcessors},""" +
      s""""warm":$warm,"load_start":$loadStart,"load_end":$loadEnd,""" +
      s""""calib_start":${f(calibStart)},"calib_end":${f(calibEnd)},""" +
      s""""calib_parallelism":${spark.sparkContext.defaultParallelism},""" +
      s""""window_ok":$windowOk,"idle_ref":$idleRef,""" +
      s""""calib_note":"HostCalib fixed ALU probe, seconds; idle-host reference ~1.9 AT parallelism 32 — stamps are only comparable at equal calib_parallelism (the probe partitions by it); window_ok = calib_start within 1.15x idle_ref"}"""
    val full =
      s"""{"metric":"total","value":${f(total)},"unit":"sec","queries":$qs,""" +
        s""""query_variance":$queryVarJson,"sf":"$sfDir",$env}"""
    // The FULL per-query map (140 queries ≈ 4 KB) overflows the ~2 KB
    // stdout tail the driver keeps, so its regex never recovered the
    // JSON (BENCH_r07/r08 "parsed": null). Write the full line to a
    // file and PRINT a short parseable line — same metric/total/sf,
    // `queries` truncated to the slowest entries (the ones a
    // regression read cares about), plus a pointer to the full map.
    val outPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "/tmp/graft_bench.json")
    try {
      java.nio.file.Files.write(java.nio.file.Paths.get(outPath),
        (full + "\n").getBytes("UTF-8"))
    } catch { case e: Throwable =>
      System.err.println(s"[bench] could not write $outPath: ${e.getMessage}")
    }
    val slowest = results.filter(_._2 >= 0).sortBy(-_._2).take(15)
      .map { case (k, v) => s""""$k":${f(v)}""" }.mkString("{", ",", "}")
    val queryVarShort = queryVar.map { case (n, (_, mn, med, _)) =>
      s""""$n":{"min":${f(mn)},"median":${f(med)}}"""
    }.mkString("{", ",", "}")
    println(s"""{"metric":"total","value":${f(total)},"unit":"sec",""" +
      s""""queries":$slowest,"queries_shown":"15 slowest of ${results.size}",""" +
      s""""query_variance":$queryVarShort,""" +
      s""""queries_file":"$outPath","sf":"$sfDir",$env}""")
    Tables.clear(spark)
    spark.stop()
  }
}
