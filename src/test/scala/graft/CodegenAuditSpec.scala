package graft

import graft.operators.Similarity
import graft.plans.VectorExpressions
import org.apache.spark.sql.functions._

/** The round-gate teeth for graft.CodegenAudit (r15 verdict item 2):
  * the same disease shipped twice undetected (r13 PQ 64 KB janino
  * overflow, r15 LSH 80 KB — ten rounds with a hot stage silently
  * interpreted), so the detector itself must be pinned: a deliberately
  * oversized expression MUST trip it, and the ANN hot-path family MUST
  * sit inside both budgets (janino compiles, every method JIT-able).
  */
class CodegenAuditSpec extends SparkSpec {

  /** codegenToSeq sees nothing under AQE; flip it off per-plan. */
  private def audited(df: org.apache.spark.sql.DataFrame): CodegenAudit.UnitStats = {
    val key = "spark.sql.adaptive.enabled"
    val prev = spark.conf.get(key)
    spark.conf.set(key, "false")
    try CodegenAudit.audit(df) finally spark.conf.set(key, prev)
  }

  private lazy val emb = Tables(spark, sf).embeddings

  test("detector trips on a deliberately janino-oversized expression") {
    // one expression whose SINGLE generated method is past janino's
    // 65535-byte ceiling — un-splittable by construction, the exact
    // failure class that ran q42 interpreted for ten rounds. The audit
    // must see maxMethodCodeSize == -1 (FAILED-COMPILE), never a clean
    // pass. If this stops tripping, the detector (not the expression)
    // broke.
    val big = org.apache.spark.sql.GraftSqlBridge.column(
      CodegenAuditSpec.OversizedCodegen(12000))
    val df = spark.range(1).select(big.as("v"))
    val st = audited(df)
    assert(st.failed,
      s"deliberately oversized method no longer trips FAILED-COMPILE: $st")
  }

  test("srcSum and units count each unit once, a scalar subquery's included") {
    // codegenStringSeq already lists the subquery's units and auditPlan
    // walks the subquery again for its leaves: no unit counts twice
    val df = spark.sql("SELECT id + (SELECT max(id * 2) FROM range(10)) AS w FROM range(5)")
    val st = audited(df)
    val codes = org.apache.spark.sql.execution.debug
      .codegenStringSeq(df.queryExecution.executedPlan).map(_._2)
    assert(st.units >= 2 && st.units == codes.size, s"$st against ${codes.size} units")
    assert(st.srcSum == codes.map(_.length.toLong).sum && st.srcSum >= st.srcMax, st)
  }

  test("composed pqStage reference is the documented HUGE-METHOD case") {
    // the reason pqQueryTable's fused kernel exists: the composed
    // reference compiles but its table-build method is far past the
    // 8 KB JIT ceiling. Pinning it keeps the reference form honest as
    // a regression yardstick (if Catalyst ever learns to split it,
    // this test tells us the fusion is no longer load-bearing).
    val composed = Similarity.pqStage(emb.limit(5))
      .select(col("vec_id"), flatten(array(
        (0 until Similarity.PqSubspaces).map(s => col(s"d$s")): _*)).as("qtab"))
    val st = audited(composed)
    assert(!st.failed, s"composed pqStage should compile (it did in r15): $st")
    assert(st.byteMax > CodegenAudit.JitBudgetBytes,
      s"composed pqStage no longer huge ($st) — revisit whether the fused kernel is still needed")
  }

  test("audit sees THROUGH a registered checkpoint; foreign RDD scans read opaque") {
    // the r16 review's finding: a materializing barrier bakes the
    // upstream pipeline into a LogicalRDD that codegenToSeq cannot
    // walk, so without the bridge registry an oversized upstream
    // expression would pass the round gate while running interpreted.
    // Pin both directions: a FAILED-COMPILE upstream of a
    // localCheckpointAudited boundary (the registry's main user) must
    // surface through it, and an RDD scan the bridge did NOT produce
    // must be counted as opaque, never silently passed.
    import graft.Checkpoints._
    val big = org.apache.spark.sql.GraftSqlBridge.column(
      CodegenAuditSpec.OversizedCodegen(12000))
    val behind = spark.range(1).select(big.as("v")).localCheckpointAudited()
    val st = audited(behind.select(col("v") + 1))
    assert(st.failed && st.opaque == 0,
      s"oversized method behind the checkpoint must surface as FAILED-COMPILE: $st")
    // q42's capped path runs in Spark's own operators: nothing opaque
    val fn = SparkEntry.queries("q42_knn_lsh")
    assert(audited(fn(spark, sf)).opaque == 0,
      "q42's bucket cap must leave no opaque leaf")
    // a foreign RDD scan (not from the bridge) is opaque by contract
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val foreign = spark.createDataFrame(
      spark.sparkContext.parallelize(Seq(Row(0L), Row(1L), Row(2L))),
      StructType(Seq(StructField("id", LongType, nullable = false))))
    assert(audited(foreign).opaque == 1,
      "an unregistered RDD scan must be reported opaque")
  }

  test("NEAR-LIMIT watch-list stays many-small-methods: a refactor that unsplits trips loudly") {
    // r16 verdict item: q135 (91 KB unit SOURCE), q132, q82 are the
    // largest generated units in the catalog, safe ONLY because
    // Catalyst splits them into many sub-JIT-budget methods (byteMax
    // 0.7–1.7 KB at r16 HEAD). Pin a per-method budget on exactly
    // those entries so a refactor that accidentally collapses the
    // split — a single consumeDoConsume body past 8 KB — turns the
    // suite red instead of shipping an interpreted hot stage.
    // q53b joined the tier in r18: the bilateral OOV decode lands in
    // the tag-rollup's hashAgg consume method (the window barrier puts
    // the whole join+decode chain in one unit), reading 114 KB source /
    // 7.8 KB bytecode at adoption — under the 8 KB JIT budget but with
    // the thinnest margin in the catalog, exactly what this tripwire
    // exists to watch. (Its first cut DID trip the audit at 441 KB /
    // 30 KB from an exponentially-inlined argmax; the score columns
    // are materialized now — see LexiconTagger's lever comment.)
    val watchList = Seq("q132_profile", "q135_hll_growth",
      "q53b_pos_hmm_dist", "q82_setsim_join")
    watchList.foreach { name =>
      val fn = SparkEntry.queries.getOrElse(name,
        fail(s"catalog entry $name missing"))
      val st = audited(fn(spark, sf))
      assert(!st.failed, s"$name: FAILED-COMPILE ($st)")
      assert(st.byteMax <= CodegenAudit.JitBudgetBytes,
        s"$name: single method ${st.byteMax} B over the " +
          s"${CodegenAudit.JitBudgetBytes} B JIT budget — the many-small-" +
          s"methods split that made its ${st.srcMax} B unit safe is gone")
    }
    // red direction: a unit of comparable SOURCE size whose statements
    // sit in ONE method must read HUGE — proves the byteMax probe
    // distinguishes split from unsplit, not just big from small.
    val unsplit = org.apache.spark.sql.GraftSqlBridge.column(
      CodegenAuditSpec.OversizedCodegen(2000))
    val st = audited(spark.range(1).select(unsplit.as("v")))
    assert(!st.failed && st.byteMax > CodegenAudit.JitBudgetBytes,
      s"deliberately unsplit 2000-statement method no longer reads HUGE: $st — detector broke")
  }

  test("cached subtrees are audited through InMemoryTableScanExec; typed RDD scans read opaque") {
    // r16 ADVICE: a .cache() leaf (InMemoryTableScanExec) hides the
    // plan that fills the cache; an ExternalRDDScanExec (createDataset
    // over a typed RDD) has no registry. Pin both directions: a
    // FAILED-COMPILE expression under a cache must surface through the
    // leaf, and a typed-RDD scan must count opaque, never pass.
    val big = org.apache.spark.sql.GraftSqlBridge.column(
      CodegenAuditSpec.OversizedCodegen(12000))
    val cached = spark.range(1).select(big.as("v")).cache()
    try {
      val st = audited(cached.select(col("v") + 1))
      assert(st.failed && st.opaque == 0,
        s"oversized method under .cache() must surface as FAILED-COMPILE: $st")
    } finally cached.unpersist()
    val typed = spark.createDataset(spark.sparkContext.parallelize(Seq(1L, 2L)))(
      org.apache.spark.sql.Encoders.scalaLong)
    assert(audited(typed.toDF("id")).opaque == 1,
      "an ExternalRDDScanExec leaf must be reported opaque")
  }

  test("subquery-embedded leaves get the same audited-through/opaque treatment") {
    // r17 ADVICE: auditPlan's leaf collect walked only the main tree,
    // so a plan-hiding leaf inside a scalar subquery was silently
    // passed (its codegen UNITS were covered — Spark 4.x
    // codegenStringSeq recurses into subqueries — but the
    // audited-through/opaque accounting was main-tree-only). Pin both
    // directions through a scalar subquery: an unregistered typed-RDD
    // leaf must opaque-count, and a FAILED-COMPILE expression under a
    // .cache() must surface through the subquery's cache leaf.
    val typed = spark.createDataset(spark.sparkContext.parallelize(Seq(1L, 2L)))(
      org.apache.spark.sql.Encoders.scalaLong).toDF("v")
    typed.createOrReplaceTempView("audit_sub_typed")
    try {
      val df = spark.range(3).selectExpr("id",
        "(select max(v) from audit_sub_typed) as m")
      assert(audited(df).opaque == 1,
        "an ExternalRDDScanExec inside a scalar subquery must be opaque-counted")
    } finally spark.catalog.dropTempView("audit_sub_typed")

    val big = org.apache.spark.sql.GraftSqlBridge.column(
      CodegenAuditSpec.OversizedCodegen(12000))
    val cached = spark.range(1).select(big.as("v")).cache()
    cached.createOrReplaceTempView("audit_sub_cached")
    try {
      val df = spark.range(3).selectExpr("id",
        "(select max(v) from audit_sub_cached) as m")
      val st = audited(df)
      assert(st.failed && st.opaque == 0,
        s"FAILED-COMPILE under a cache inside a subquery must surface: $st")
    } finally {
      spark.catalog.dropTempView("audit_sub_cached")
      cached.unpersist()
    }
  }

  test("ANN hot-path family: zero failed compiles, every method JIT-able") {
    // the budget the r16 fusion establishes; names are catalog entries.
    // q42 (fused LSH signature), q62/q63 (PQ encode / ADC), q73/q142
    // (IVF+PQ, persisted index) — the paths that ran interpreted for
    // rounds before the audit existed.
    val family = Seq("q42_knn_lsh", "q62_pq_encode", "q63_pq_adc_knn",
      "q73_ivfpq_knn", "q142_ivfpq_index_persist")
    family.foreach { name =>
      val fn = SparkEntry.queries.getOrElse(name,
        fail(s"catalog entry $name missing"))
      val st = audited(fn(spark, sf))
      assert(!st.failed, s"$name: FAILED-COMPILE ($st)")
      assert(st.byteMax <= CodegenAudit.JitBudgetBytes,
        s"$name: method ${st.byteMax} B over the ${CodegenAudit.JitBudgetBytes} B JIT ceiling — runs interpreted")
    }
  }
}

object CodegenAuditSpec {
  import org.apache.spark.sql.catalyst.InternalRow
  import org.apache.spark.sql.catalyst.expressions.LeafExpression
  import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode, FalseLiteral}
  import org.apache.spark.sql.catalyst.expressions.codegen.Block._
  import org.apache.spark.sql.types.{DataType, DoubleType}

  /** Test-only: emits `statements` straight-line adds in ONE method —
    * un-splittable, deliberately past janino's 65535-byte method
    * ceiling at the default 12000 (~15 B bytecode each). */
  case class OversizedCodegen(statements: Int) extends LeafExpression {
    override def dataType: DataType = DoubleType
    override def nullable: Boolean = false
    override def eval(input: InternalRow): Any =
      (0 until statements).map(_.toDouble).sum
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val acc = ctx.freshName("acc")
      val body = (0 until statements).map(i => s"$acc += $i.0;").mkString("\n")
      ev.copy(
        code = code"""
          |double $acc = 0.0;
          |$body
          |double ${ev.value} = $acc;
          """.stripMargin,
        isNull = FalseLiteral)
    }
  }
}
