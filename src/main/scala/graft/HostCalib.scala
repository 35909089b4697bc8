package graft

import org.apache.spark.sql.SparkSession

/** Fixed host-window calibration probe for the measuring mains.
  *
  * Round 14 documented ~25% host-level throughput drift across hours
  * (four same-HEAD serial cold sweeps 147.8–158.8 s vs idle-start
  * 186–243 s later the same day, uniform per-query inflation at
  * load_start ≈ 1.1) — so `load_start` alone no longer identifies a
  * valid sweep window. This probe is a fixed, data-independent codegen
  * kernel (pure long arithmetic over `spark.range`, one partition per
  * core, no I/O, no shuffle beyond the final 1-row aggregate) timed
  * inside the same JVM as the sweep: its seconds scale with the host's
  * effective CPU throughput at that moment, so every BENCH/CROSSOVER
  * artifact carries a self-contained window signal a reader can use to
  * reject a slow-window run without cross-referencing other artifacts.
  * The PAIRING ratio remains the chain instrument (ratios cancel the
  * window entirely); the probe is what demotes a contaminated absolute
  * sweep from "mystery" to "self-identified".
  *
  * Calibrated on this container (local[32], idle): ~1.5–2 s. Interpret
  * RELATIVE to the round's other stamps, not as an absolute constant.
  */
object HostCalib {
  /** Fixed probe size — never change between rounds, or the stamps
    * stop being comparable across artifacts. */
  val Rows = 9_000_000_000L

  /** Core count of the measuring mains: `SPARK_GRAFT_CPUS` when set,
    * else the cores the JVM sees. */
  def cpus: String = sys.env.getOrElse("SPARK_GRAFT_CPUS",
    Runtime.getRuntime.availableProcessors.toString)

  private val warmed = new java.util.concurrent.atomic.AtomicBoolean(false)

  def seconds(spark: SparkSession): Double = {
    // first call per JVM pays codegen compile + C2 for the probe loop
    // (measured: 4.2 s vs 1.9 s steady) — drain it with a 1% untimed
    // warm-up so calib_start and calib_end read the same kernel
    if (warmed.compareAndSet(false, true)) {
      spark.range(0L, Rows / 100, 1L, spark.sparkContext.defaultParallelism)
        .selectExpr("sum((id % 1000003) * 2654435761 % 97)").collect()
    }
    val t0 = System.nanoTime()
    // Knuth-style multiplicative hash + mods keeps the loop from being
    // folded to a closed form by codegen while staying pure ALU work;
    // the inner % bounds keep every product and the running sum inside
    // a long under ANSI mode (max term 96, sum < 1.2e12)
    spark.range(0L, Rows, 1L, spark.sparkContext.defaultParallelism)
      .selectExpr("sum((id % 1000003) * 2654435761 % 97)")
      .collect()
    (System.nanoTime() - t0) / 1e9
  }

  /** Standalone sizing/inspection entry: prints one probe value. */
  def main(args: Array[String]): Unit = {
    val spark = Harness.session("graft-hostcalib")
    // one untimed warm-up drains JIT/codegen cold start from the stamp
    seconds(spark)
    (1 to 3).foreach(i => println(f"calib[$i] ${seconds(spark)}%.3f s"))
    spark.stop()
  }
}
