package graft

import org.apache.spark.sql.DataFrame

/** r15 audit, r16 round-gate: walk every catalog query's plan,
  * janino-compile its whole-stage-codegen units, and report the three
  * tiers of the silent-interpretation disease:
  *
  *  - FAILED-COMPILE: a unit janino rejects (method > 65535 bytes) —
  *    the whole stage silently runs interpreted (q42's fate for ten
  *    rounds: the composed 32-plane signature generated ~80 KB, 95% of
  *    the 100× wall time in an interpreter the plan called codegen);
  *  - HUGE-METHOD: compiles, but a method exceeds HotSpot's 8 KB
  *    `DontCompileHugeMethods` ceiling, so it runs bytecode-interpreted
  *    (the r15 PQ family: 42.9 KB ADC table build, fused in r16);
  *  - NEAR-LIMIT: a unit's source within sight of janino's 65535 —
  *    the exact precursor state of both shipped bugs, flagged before
  *    the next constant-table growth crosses the cliff.
  *
  * Run at sf0.001 (plan shapes are SF-independent). Writes
  * `CODEGEN_AUDIT.json` (per-query stats + summary lists) so the
  * round close commits a machine-checkable zero-failed-compiles
  * invariant; CodegenAuditSpec keeps the detector honest (a
  * deliberately oversized expression must trip it) and pins the ANN
  * hot-path family inside both budgets.
  */
object CodegenAudit {

  /** janino's per-method bytecode ceiling; units whose max generated
    * method source length approaches it get a NEAR-LIMIT warning. */
  val JaninoNearLimitSrc = 60000
  /** HotSpot -XX:DontCompileHugeMethods refuses to JIT methods over
    * 8000 bytes of bytecode — over this, a compiled unit still runs
    * in the bytecode interpreter. */
  val JitBudgetBytes = 8000

  /** `sources` holds each distinct unit's source once: a unit reached
    * twice (a subquery's, or one inner plan behind two scans) is one
    * compile, as Spark's compile cache keys units by their source. */
  final case class UnitStats(srcMax: Int, byteMax: Int, failed: Boolean,
                             opaque: Int = 0, sources: Set[String] = Set.empty) {
    def huge: Boolean = !failed && byteMax > JitBudgetBytes
    def nearLimit: Boolean = srcMax > JaninoNearLimitSrc
    /** Total source length of the query's distinct units. */
    def srcSum: Long = sources.iterator.map(_.length.toLong).sum
    def units: Int = sources.size
    def merge(o: UnitStats): UnitStats = UnitStats(
      math.max(srcMax, o.srcMax), math.max(byteMax, o.byteMax),
      failed || o.failed, opaque + o.opaque, sources ++ o.sources)
    // the sources run to hundreds of KB per query; messages show their sum
    override def toString: String =
      s"UnitStats($srcMax, $byteMax, $failed, $opaque, srcSum=$srcSum, units=$units)"
  }

  /** Compile every whole-stage unit of `df`'s physical plan through
    * janino (the real compiler, not a size heuristic) and fold:
    * max unit source length, max method bytecode size, whether any
    * unit FAILED to compile (CodeStats.maxMethodCodeSize == -1 — that
    * stage will run interpreted), and the distinct units' sources, whose
    * total length and count are `srcSum` and `units`. Requires AQE off
    * on the session: AQE wraps the plan and codegenToSeq sees nothing.
    *
    * Plan-hiding leaves are audited THROUGH, not skipped:
    *
    *  - RDDScanExec: a registered localCheckpoint or graph-kernel
    *    createDataFrame boundary (GraftSqlBridge.localCheckpointAudited
    *    / createDataFrameAudited) carries its whole upstream pipeline
    *    inside an inner QueryExecution that codegenStringSeq cannot
    *    see — the bridge's registry hands the source frames back and
    *    their stats merge in, so the round-gate invariant covers the
    *    stages on BOTH sides of the barrier. An RDD-scan leaf the
    *    registry does NOT know is counted in `opaque` and reported,
    *    never silently passed.
    *  - InMemoryTableScanExec: a `.cache()` leaf hides the cached
    *    subtree (the plan that FILLS the cache still codegens and
    *    runs once) — recurse into `relation.cachedPlan` directly.
    *  - ExternalRDDScanExec (createDataset over a typed RDD): no
    *    registry exists for it and no catalog query uses one today —
    *    counted `opaque` so a future unregistered boundary is
    *    reported rather than passed (r16 ADVICE).
    *
    * Leaf accounting covers SUBQUERY plans too (r17 ADVICE): the main
    * `plan.collect` walks only the main tree, so auditPlan also
    * recurses over every node's `subqueries` — a plan-hiding leaf
    * inside a scalar/IN/EXISTS subquery gets the same
    * audited-through/opaque treatment as a main-tree one. */
  def audit(df: DataFrame): UnitStats = auditPlan(df.queryExecution.executedPlan)

  private def auditPlan(plan: org.apache.spark.sql.execution.SparkPlan): UnitStats = {
    import org.apache.spark.sql.execution.debug
    val units = debug.codegenStringSeq(plan)
    val srcMax = if (units.isEmpty) 0 else units.map(_._2.length).max
    val byteMax = units.map(_._3.maxMethodCodeSize) match {
      case s if s.isEmpty => 0
      case s => s.max
    }
    val outer = UnitStats(srcMax, byteMax,
      units.exists(_._3.maxMethodCodeSize < 0), sources = units.map(_._2).toSet)
    val leafStats = plan.collect {
      case org.apache.spark.sql.execution.RDDScanExec(_, rdd, _, _, _, _) =>
        org.apache.spark.sql.GraftSqlBridge.innerPlansOf(rdd) match {
          case inner if inner.nonEmpty =>
            inner.map(audit).reduce(_ merge _)
          case _ => UnitStats(0, 0, failed = false, opaque = 1)
        }
      case im: org.apache.spark.sql.execution.columnar.InMemoryTableScanExec =>
        auditPlan(im.relation.cachedPlan)
      case _: org.apache.spark.sql.execution.ExternalRDDScanExec[_] =>
        UnitStats(0, 0, failed = false, opaque = 1)
    }
    // Subquery plans (scalar/IN/EXISTS): codegenStringSeq already
    // recurses into them in Spark 4.x, so their UNITS are in `outer` —
    // but `plan.collect` walks only the main tree, so an RDD-scan /
    // cache leaf EMBEDDED IN a subquery would be silently passed
    // rather than audited-through or opaque-counted (r17 ADVICE).
    // Recurse auditPlan over each node's immediate subqueries (nested
    // subqueries are reached by the recursion); the unit stats come
    // back a second time, which the max/or/set merge absorbs, while the
    // leaf accounting becomes tree-complete.
    val subStats = plan.collect { case p => p.subqueries }.flatten.map(auditPlan)
    (leafStats ++ subStats).foldLeft(outer)(_ merge _)
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")
    val outPath = sys.env.getOrElse("GRAFT_AUDIT_OUT", "CODEGEN_AUDIT.json")
    // AQE wraps the plan and codegenToSeq sees nothing. Set as a JVM
    // property before the session exists, so it lands in the SparkConf
    // that the streaming entries' per-query session clones
    // (StreamStage.streamSession) start from; a conf.set on the returned
    // session would not reach them.
    sys.props("spark.sql.adaptive.enabled") = "false"
    // pinned at SparkSpec's local[4], the parallelism CODEGEN_AUDIT.json
    // and CodegenAuditSpec share
    val spark = Harness.session("graft-codegen-audit", cpus = "4")
    var rows = List.empty[(String, UnitStats)]
    var skipped = List.empty[String]
    SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
      try {
        val st = audit(fn(spark, sfDir))
        rows ::= (name, st)
        if (st.failed) println(s"[audit] FAILED-COMPILE $name (src ${st.srcMax})")
        else if (st.huge)
          println(s"[audit] HUGE-METHOD $name maxMethodBytecode=${st.byteMax} " +
            s"(src ${st.srcMax}; >${JitBudgetBytes} disables JIT)")
        else if (st.nearLimit)
          println(s"[audit] NEAR-LIMIT $name src=${st.srcMax} " +
            s"(janino method ceiling 65535 — the q42/q13-PQ precursor state)")
        if (st.opaque > 0)
          println(s"[audit] OPAQUE-LEAF $name (${st.opaque} unregistered " +
            "RDD scan(s) — upstream pipeline NOT covered by this audit)")
      } catch { case e: Throwable =>
        skipped ::= name
        println(s"[audit] SKIP $name: ${Option(e.getMessage).getOrElse(e).toString.take(80)}")
      }
    }
    println("[audit] top 10 by codegen unit size:")
    rows.sortBy(-_._2.srcMax).take(10).foreach { case (n, s) =>
      println(f"[audit]   ${s.srcMax}%6d  $n")
    }
    val sorted = rows.sortBy(_._1)
    def list(p: UnitStats => Boolean): String =
      sorted.collect { case (n, s) if p(s) => "\"" + n + "\"" }.mkString("[", ",", "]")
    val perQuery = sorted.map { case (n, s) =>
      s"""  "$n": {"srcMax": ${s.srcMax}, "byteMax": ${s.byteMax}, "failed": ${s.failed}, "opaque": ${s.opaque}, "srcSum": ${s.srcSum}, "units": ${s.units}}"""
    }.mkString(",\n")
    val json =
      s"""{
         |"summary": {
         |  "queries": ${sorted.size},
         |  "skipped": ${skipped.sorted.map("\"" + _ + "\"").mkString("[", ",", "]")},
         |  "failed_compiles": ${list(_.failed)},
         |  "huge_methods": ${list(_.huge)},
         |  "near_limit": ${list(_.nearLimit)},
         |  "opaque_leaves": ${list(_.opaque > 0)},
         |  "jit_budget_bytes": $JitBudgetBytes,
         |  "near_limit_src": $JaninoNearLimitSrc
         |},
         |"queries": {
         |$perQuery
         |}
         |}
         |""".stripMargin
    java.nio.file.Files.write(java.nio.file.Paths.get(outPath),
      json.getBytes("UTF-8"))
    println(s"[audit] wrote $outPath")
    spark.stop()
  }
}
