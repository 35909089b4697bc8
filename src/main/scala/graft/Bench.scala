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

    val failed = Harness.Usage(-1.0, -1.0, -1.0)

    def runOnce(name: String): Harness.Usage =
      try Harness.measureNoop(spark)(SparkEntry.queries(name)(spark, sfDir))
      catch {
        case e: Throwable =>
          System.err.println(s"[bench] $name failed: ${e.getMessage}")
          failed
      }

    // a cell is its fastest run, with that run's CPU and JIT seconds
    def run(name: String): Harness.Usage = {
      val runs = (0 to warm).map(_ => runOnce(name))
      if (runs.contains(failed)) failed else runs.minBy(_.wall)
    }

    // optional args = query-name filter (substring match), for fast
    // subset iteration: `sbt "runMain graft.Bench q40 q41"`
    val all = SparkEntry.queries.keys.toSeq.sorted
    val names =
      if (args.isEmpty) all
      else all.filter(n => args.exists(n.contains))
    Harness.warmUp(spark, sfDir)
    // host-window stamp around the measured sweep: a sweep that shared
    // the host (steal, other processes) marks itself window_ok=false
    val window = Harness.HostWindow.start()
    val cells = names.map(n => n -> run(n))
    val results = cells.map { case (n, u) => n -> u.wall }
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
        val extras = (1 to extraRuns).map(_ => runOnce(n).wall).filter(_ >= 0)
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
    // each sweep cell's process CPU and JIT compilation seconds, over
    // the same run as its `queries` wall time (-1: the query failed)
    val usage = cells.map { case (k, u) =>
      s""""$k":{"cpu_s":${fmt3(u.cpu)},"jit_s":${fmt3(u.jit)}}"""
    }.mkString("{", ",", "}")
    val full =
      s"""{"metric":"total","value":${fmt3(total)},"unit":"sec","queries":$qs,""" +
        s""""query_variance":$queryVarJson,"sf":"$sfDir",$env,"query_usage":$usage}"""
    // The FULL per-query map (140 queries ≈ 4 KB) overflows the ~2 KB
    // stdout tail the driver keeps, so its regex never recovered the
    // JSON (`git show 88ba917:BENCH_r07.json`, "parsed": null). Write
    // the full line to a file and PRINT a short parseable line — same
    // metric/total/sf, `queries` truncated to the slowest entries (the
    // ones a regression read cares about), plus the file's absolute
    // path. The default file is in the checkout's target/ (the forked
    // run starts in the project directory), so two checkouts on one
    // host never overwrite each other's map.
    val outPath = java.nio.file.Paths.get(
      sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "target/graft_bench.json")).toAbsolutePath
    try {
      java.nio.file.Files.write(outPath, (full + "\n").getBytes("UTF-8"))
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
