package graft

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.DataFrame
import Harness.{fmt3, jsonStr, medianOfLast4}

/** Spark half of the floor-resident crossover duel — the committed form
  * of round 13's decisive evidence (ARCHITECTURE.md "The crossover,
  * measured"): the queries that exceed the 2× pairing bar at sf0.1 do so
  * because their DuckDB oracles are sub-second there, i.e. the ratio
  * measures the local[32] session constant; on the SAME 10×/100×
  * replicated corpora both engines grow and the Spark plans win. This
  * main re-measures that claim so it re-certifies per round instead of
  * living as transcribed spark-shell medians:
  *
  *   - corpora: the exact ScaleBench replicated-documents parquet
  *     ([[ScaleBench.ensureDocuments]] — same cache, same synthesis
  *     version), so the crossover and the scaling table measure the
  *     same bytes;
  *   - cohort: the stable floor residents (q88, q97) plus the adjacent
  *     under-bar floor queries the round-10..12 carousel rotated
  *     through (q64, q72, q107);
  *   - timing: per (factor, query) five reps against the noop sink with
  *     cache-clear + GC between reps, first rep dropped as warmup,
  *     median of the remaining four (the round-13 duel protocol);
  *   - q107's support threshold scales with the factor
  *     ([[graft.queries.Relational.q107SqlWith]] — replication
  *     multiplies every pair's support by N, so N·MinPairSupport keeps
  *     the mined workload scale-invariant; a fixed threshold would
  *     promote the whole vocabulary into the frequent set at 100× and
  *     measure a vocabulary-quadratic blow-up on both engines);
  *   - output: `<outDir>/spark_crossover.json` with per-rep times AND
  *     the exact per-factor oracle SQL, which tools/crossover.sh feeds
  *     to DuckDB (min-of-5, documents view swapped to the same scaled
  *     parquet) and joins into CROSSOVER_r{N}.json.
  *
  * Run via tools/crossover.sh (which owns the DuckDB half and the
  * artifact), or directly:
  *   sbt "runMain graft.Crossover /tmp/crossover_r14 1 10 100"
  */
object Crossover {

  /** The floor cohort: pairing residue + the adjacent under-bar
    * residents that rotated through the over-2× set on oracle variance
    * in rounds 10–12, extended (round 14) with the remaining queries
    * hovering within 1.4–2× of the warm bar (q42/q71/q146) so any
    * future flutter over 2× already has its crossover adjudication on
    * file. A query that FAILS at some factor (e.g. a self-gate raising
    * on a replicated corpus) is recorded as absent for that factor,
    * never aborts the duel. */
  val Cohort: Seq[String] = Seq(
    "q88_inverted_index",
    "q97_source_overlap",
    "q64_hll_distinct",
    "q72_hll_merge",
    "q107_frequent_pairs",
    "q42_knn_lsh",
    "q71_heavy_hitters",
    "q146_dsir_resample")

  def main(args: Array[String]): Unit = {
    val outDir = args.headOption.getOrElse("/tmp/crossover")
    val factors =
      if (args.length > 1) args.drop(1).map(_.toInt).toSeq else Seq(1, 10, 100)
    // SPARK_GRAFT_CROSSOVER_COHORT=q72_hll_merge,q107_frequent_pairs
    // narrows the duel to the named queries — a focused re-cert at a
    // higher factor (e.g. 300x for a floor-crossing demonstration)
    // shouldn't pay for the whole cohort at that scale. Unset = full
    // cohort, the per-round artifact mode.
    val cohort = sys.env.get("SPARK_GRAFT_CROSSOVER_COHORT") match {
      case Some(csv) =>
        val want = csv.split(",").map(_.trim).filter(_.nonEmpty).toSet
        val unknown = want -- Cohort.toSet
        require(unknown.isEmpty, s"unknown cohort entries: $unknown")
        Cohort.filter(want)
      case None => Cohort
    }
    val baseDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = Harness.cpus
    val spark = Harness.session("graft-crossover")

    // q88/q97/q107/q146 read documents, q64/q72/q71 lineitem, q42
    // embeddings — all in the shared per-factor corpus dir so the duck
    // half can swap views per-table by existence
    val corpora = factors.map { f =>
      ScaleBench.ensureDocuments(spark, baseDir, f)
      ScaleBench.ensureEmbeddings(spark, baseDir, f)
      f -> ScaleBench.ensureLineitem(spark, baseDir, f)
    }.toMap

    def buildQuery(name: String, factor: Int, dir: String): DataFrame =
      if (name == "q107_frequent_pairs")
        graft.queries.Relational.frequentPairsTiered(spark, dir,
          graft.queries.Relational.FreqLiteralCap,
          graft.queries.Relational.MinPairSupport * factor)
      else SparkEntry.queries(name)(spark, dir)

    def oracleSqlFor(name: String, factor: Int): String =
      if (name == "q107_frequent_pairs")
        graft.queries.Relational.q107SqlWith(
          graft.queries.Relational.MinPairSupport * factor)
      else SparkEntry.oracleSql(name)

    // host-window stamp after the corpora are ensured (synthesis I/O
    // would contaminate the reading)
    val window = Harness.HostWindow.start()

    val Reps = 5 // first dropped as warmup, median of the remaining 4
    val runs = scala.collection.mutable.LinkedHashMap[(String, Int), Seq[Double]]()
    factors.foreach { factor =>
      cohort.foreach { name =>
        val dir = corpora(factor)
        try {
          val ts = (1 to Reps).map(_ =>
            Harness.timeNoop(spark)(buildQuery(name, factor, dir)))
          runs((name, factor)) = ts
          println(s"[crossover] x$factor $name median=${fmt3(medianOfLast4(ts))} " +
            s"runs=${ts.map(fmt3).mkString(",")}")
        } catch { case e: Throwable =>
          // a self-gated query may legitimately refuse a replicated
          // corpus (e.g. a recall floor over duplicate ties); record
          // the absence, keep the duel alive
          println(s"[crossover] x$factor $name FAILED: " +
            s"${Option(e.getMessage).getOrElse(e.toString).take(200)}")
        }
      }
    }

    val windowEnv = window.end(spark)
    val done: Seq[String] = cohort.filter(n => factors.exists(f => runs.contains((n, f))))
    val sparkJson = done.map { name =>
      val perFactor = factors.flatMap { f =>
        runs.get((name, f)).map { ts =>
          s""""x$f": {"median": ${fmt3(medianOfLast4(ts))}, "runs": [${ts.map(fmt3).mkString(", ")}]}"""
        }
      }.mkString(", ")
      s"${jsonStr(name)}: {$perFactor}"
    }.mkString(",\n  ")
    val sqlJson = done.map { name =>
      val perFactor = factors.flatMap { f =>
        if (runs.contains((name, f)))
          Some(s""""x$f": ${jsonStr(oracleSqlFor(name, f))}""")
        else None
      }.mkString(", ")
      s"${jsonStr(name)}: {$perFactor}"
    }.mkString(",\n  ")
    val corporaJson = factors
      .map(f => s""""x$f": ${jsonStr(corpora(f))}""").mkString(", ")
    val out =
      s"""{
         |"base": ${jsonStr(baseDir)},
         |"factors": [${factors.mkString(", ")}],
         |"cohort": [${cohort.map(jsonStr).mkString(", ")}],
         |"protocol": {
         |  "spark": "local[$cpus], shuffle.partitions=$cpus, AQE, noop sink, 5 reps (first dropped as warmup) -> median of 4, clearCache+unpersist+System.gc between reps",
         |  "q107_support": "MinPairSupport * factor (replication multiplies every pair's support by the factor; a fixed threshold would promote the whole vocabulary into the frequent set)",
         |  "corpora": "ScaleBench replicated documents (synth v${ScaleBench.SynthVersion}), same cache as the scaling table"
         |},
         |"corpora": {$corporaJson},
         |"env": {"cpus": ${Runtime.getRuntime.availableProcessors()}, $windowEnv},
         |"spark": {
         |  $sparkJson
         |},
         |"sql": {
         |  $sqlJson
         |}
         |}""".stripMargin
    new java.io.File(outDir).mkdirs()
    Files.writeString(Paths.get(s"$outDir/spark_crossover.json"), out)
    println(s"[crossover] wrote $outDir/spark_crossover.json")
    Tables.clear(spark)
    spark.stop()
  }
}
