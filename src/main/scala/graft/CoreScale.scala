package graft

import java.nio.file.{Files, Paths}

import Harness.fmt3

/** Core-scaling duel at a replicated factor (r19, verdict item 5).
  *
  * The driver's 8-vs-32-core bench twin at sf0.1 shows every ratio ≈ 1
  * — correctly: at that scale the suite is session-constant/JVM-bound
  * (~0.35 s per exchange), and several heavy cells are SCAN-parallelism
  * bound (e.g. q71's two md5 passes run as 3 tasks because a ~20 MB
  * parquet packs into 3 splits under the 4 MB open-cost floor), so core
  * count cannot matter. That leaves the 100 TB parallelism claim
  * resting on crossover slope artifacts alone. This main measures the
  * missing cell directly: the same queries over the SAME replicated
  * corpora ScaleBench/Crossover use (factor 10 by default — enough
  * bytes that scans split and exchanges carry real data), once per core
  * count, so the artifact shows compute-bound queries actually using
  * the cores.
  *
  * Protocol = Crossover's: 5 reps per query against the noop sink,
  * first dropped as warm-up, median of the remaining 4; cache-clear +
  * unpersist + GC between reps; one Harness.HostWindow stamp (its
  * single-thread calib loop reads the same at any core count). Core count
  * comes from SPARK_GRAFT_CPUS (master AND shuffle.partitions — the
  * bench's scale-adaptive convention, NOT a hardcoded 32, so the
  * 8-core run shuffles 8-wide like a real 8-core deployment would).
  *
  * Usage:  SPARK_GRAFT_CPUS=32 sbt "runMain graft.CoreScale <outFile> [factor]"
  * then once more with SPARK_GRAFT_CPUS=8; tools/corescale.sh runs both
  * and merges the per-core JSONs into CORESCALE_r{N}.json with ratios.
  */
object CoreScale {

  /** Heavy ABSOLUTE cells over the three replicable tables (documents /
    * lineitem / embeddings — the corpora ScaleBench can synthesize),
    * spanning the catalog's families: set-similarity, text aggregation,
    * dedup canonicalization, inverted index, source overlap, resample,
    * sketches, ANN. */
  val Cohort: Seq[String] = Seq(
    "q82_setsim_join",
    "q20_token_stats",
    "q45_dedup_canonical",
    "q88_inverted_index",
    "q97_source_overlap",
    "q146_dsir_resample",
    "q71_heavy_hitters",
    "q64_hll_distinct",
    "q72_hll_merge",
    "q42_knn_lsh")

  def main(args: Array[String]): Unit = {
    val outFile = args.headOption.getOrElse("/tmp/corescale.json")
    val factor = if (args.length > 1) args(1).toInt else 10
    val cpus = Harness.cpus
    val baseDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Harness.session("graft-corescale")

    val dirs = Seq(
      ScaleBench.ensureDocuments(spark, baseDir, factor),
      ScaleBench.ensureEmbeddings(spark, baseDir, factor),
      ScaleBench.ensureLineitem(spark, baseDir, factor))
    require(dirs.distinct.size == 1, s"corpus dirs diverged: $dirs")
    val dir = dirs.head

    // window stamp AFTER corpus synthesis (its I/O would contaminate)
    val window = Harness.HostWindow.start()

    val Reps = 5
    val cells = Cohort.flatMap { name =>
      try {
        spark.sparkContext.setJobDescription(s"corescale x$factor $name")
        val ts = (1 to Reps).map(_ =>
          Harness.timeNoop(spark)(SparkEntry.queries(name)(spark, dir)))
        val med = Harness.medianOfLast4(ts)
        println(s"[corescale] cores=$cpus x$factor $name median=${fmt3(med)} " +
          s"runs=${ts.map(fmt3).mkString(",")}")
        Some(name -> (med, ts))
      } catch { case e: Throwable =>
        println(s"[corescale] cores=$cpus x$factor $name FAILED: " +
          s"${Option(e.getMessage).getOrElse(e.toString).take(200)}")
        None
      }
    }
    val windowEnv = window.end(spark)

    val cellsJson = cells.map { case (n, (med, ts)) =>
      s""""$n":{"median":${fmt3(med)},"runs":[${ts.map(fmt3).mkString(",")}]}"""
    }.mkString("{", ",", "}")
    val json =
      s"""{"cores":$cpus,"factor":$factor,"reps":$Reps,"protocol":"drop-first median-of-4, noop sink, clear+gc between reps","cells":$cellsJson,""" +
        s""""env":{$windowEnv}}"""
    Files.write(Paths.get(outFile), (json + "\n").getBytes("UTF-8"))
    println(s"[corescale] wrote $outFile")
    Tables.clear(spark)
    spark.stop()
  }
}
