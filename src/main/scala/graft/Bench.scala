package graft

import Harness.fmt3

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
    val spark = Harness.session("graft-bench")

    // SPARK_GRAFT_WARM=N re-runs each query N extra times and reports the
    // fastest — steady-state data-path cost with parse/codegen/scheduling
    // constants amortized. Default 0 = cold-per-query, the driver's mode.
    val warm = sys.env.getOrElse("SPARK_GRAFT_WARM", "0").toInt

    def runOnce(name: String): Double =
      try Harness.timeNoop(spark)(SparkEntry.queries(name)(spark, sfDir))
      catch {
        case e: Throwable =>
          System.err.println(s"[bench] $name failed: ${e.getMessage}")
          -1.0
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
    // fixed-query session warm-up (first catalog entry, NOT the filtered
    // head): with args filters the old names.head warm-up varied by
    // subset, making subset runs not strictly comparable to full sweeps
    run(all.head)
    // host-window stamp around the measured sweep: a sweep that shared
    // the host (steal, other processes) marks itself window_ok=false
    val window = Harness.HostWindow.start()
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
    val windowEnv = window.end(spark)

    val queryVarJson = queryVar.map { case (n, (sw, mn, med, samples)) =>
      s""""$n":{"sweep":${fmt3(sw)},"min":${fmt3(mn)},"median":${fmt3(med)},"samples":[${samples.map(fmt3).mkString(",")}]}"""
    }.mkString("{", ",", "}")
    val qs = results.map { case (k, v) => s""""$k":${fmt3(v)}""" }
      .mkString("{", ",", "}")
    val total = results.map(_._2).filter(_ >= 0).sum
    val env = s""""env":{"cpus":${Runtime.getRuntime.availableProcessors},""" +
      s""""warm":$warm,$windowEnv}"""
    val full =
      s"""{"metric":"total","value":${fmt3(total)},"unit":"sec","queries":$qs,""" +
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
      .map { case (k, v) => s""""$k":${fmt3(v)}""" }.mkString("{", ",", "}")
    val queryVarShort = queryVar.map { case (n, (_, mn, med, _)) =>
      s""""$n":{"min":${fmt3(mn)},"median":${fmt3(med)}}"""
    }.mkString("{", ",", "}")
    println(s"""{"metric":"total","value":${fmt3(total)},"unit":"sec",""" +
      s""""queries":$slowest,"queries_shown":"15 slowest of ${results.size}",""" +
      s""""query_variance":$queryVarShort,""" +
      s""""queries_file":"$outPath","sf":"$sfDir",$env}""")
    Tables.clear(spark)
    spark.stop()
  }
}
