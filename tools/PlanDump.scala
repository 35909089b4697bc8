package graft

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.execution.ExplainMode

/** Dump `.explain("formatted")` for named catalog queries to files.
  *
  * Usage: runMain graft.PlanDump <dataDir> <outDir> <suffix> <q1> [q2 ...]
  * Writes <outDir>/<qname>_<suffix>.txt per query. Lives in tools/ (not
  * compiled); copy under src/main/scala/graft/ to run.
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val dataDir = args(0)
    val outDir  = Paths.get(args(1))
    val suffix  = args(2)
    val names   = args.drop(3).toSeq
    Files.createDirectories(outDir)

    // Bench's session, so plans match what the bench executes
    val spark = Harness.session("graft-plandump")

    val catalog = SparkEntry.queries
    names.foreach { n =>
      val df   = catalog(n)(spark, dataDir)
      val plan = df.queryExecution.explainString(ExplainMode.fromString("formatted"))
      val out  = outDir.resolve(s"${n}_$suffix.txt")
      Files.write(out, plan.getBytes(StandardCharsets.UTF_8))
      println(s"wrote $out (${plan.length} chars)")
    }
    spark.stop()
  }
}
