package graft.tools

/** Scratch: dump a catalog query's generated code units to /tmp for
  * method-size inspection (used to adjudicate the r18 q53b NEAR-LIMIT
  * entry). Not part of the library — copy under src/ to run. */
object CgDump {
  def main(args: Array[String]): Unit = {
    val name = args.headOption.getOrElse("q53b_pos_hmm_dist")
    sys.props("spark.sql.adaptive.enabled") = "false" // as in CodegenAudit
    val spark = graft.Harness.session("cg-dump", cpus = "4")
    val df = graft.SparkEntry.queries(name)(spark, "/root/testdata/sf0.001")
    val codes = org.apache.spark.sql.execution.debug.codegenStringSeq(
      df.queryExecution.executedPlan)
    codes.zipWithIndex.foreach { case ((subtree, code, stats), i) =>
      val p = s"/tmp/cg_${name}_unit$i.java"
      java.nio.file.Files.write(java.nio.file.Paths.get(p),
        (s"/* SUBTREE:\n$subtree\n*/\n" + code).getBytes("UTF-8"))
      println(s"$p  ${code.length} chars  maxMethodBytecode=${stats.maxMethodCodeSize}")
    }
    spark.stop()
  }
}
