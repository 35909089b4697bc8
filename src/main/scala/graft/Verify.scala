package graft
import Harness.jsonStr
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. Runs at
  * `local[SPARK_GRAFT_CPUS]`, default the host's cores. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args.take(2)
    // optional extra args: substring filters for fast single-query
    // iteration (the driver always passes exactly two args = full run)
    val filters = args.drop(2)
    def selected(name: String): Boolean =
      filters.isEmpty || filters.exists(name.contains)
    val spark = Harness.session("graft-verify")
    new java.io.File(outDir).mkdirs()
    SparkEntry.queries.filter(q => selected(q._1)).foreach { case (name, fn) =>
      try {
        fn(spark, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
      } catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      } finally Harness.cleanup(spark)
    }
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${jsonStr(k)}: ${jsonStr(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    Tables.clear(spark)
    spark.stop()
  }
}
