package graft

import graft.plans.VectorExpressions
import org.apache.spark.sql.functions._
import scala.util.Random

/** The custom codegen'd ArrayDotProduct must be a DROP-IN for the
  * higher-order-function fold it replaces — same values bit-for-bit
  * (ascending-index IEEE sum), same null semantics (null array, length
  * mismatch, null element), in both codegen and interpreted paths. */
class VectorExpressionSpec extends SparkSpec {

  import spark.implicits._

  private def hofDot = (a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column) =>
    aggregate(zip_with(a, b, (x, y) => x * y), lit(0.0), (acc, x) => acc + x)

  test("dot product matches the higher-order fold bit-for-bit on random data") {
    val rnd = new Random(11)
    val rows = (1 to 200).map { i =>
      (i.toLong,
        Seq.fill(64)(rnd.nextDouble() * 2 - 1),
        Seq.fill(64)(rnd.nextDouble() * 2 - 1))
    }
    val df = rows.toDF("id", "a", "b")
    val out = df.select(
      VectorExpressions.dotProduct($"a", $"b").as("native"),
      hofDot($"a", $"b").as("hof")).collect()
    out.foreach { r =>
      // bit-identical, not approximately equal: same IEEE fold order
      assert(java.lang.Double.doubleToLongBits(r.getDouble(0)) ==
        java.lang.Double.doubleToLongBits(r.getDouble(1)))
    }
  }

  test("null semantics: null array, length mismatch, null element") {
    val df = Seq(
      (1L, Some(Seq[java.lang.Double](1.0, 2.0)), Some(Seq[java.lang.Double](3.0, 4.0))),
      (2L, None, Some(Seq[java.lang.Double](3.0, 4.0))),
      (3L, Some(Seq[java.lang.Double](1.0, 2.0, 5.0)), Some(Seq[java.lang.Double](3.0, 4.0))),
      (4L, Some(Seq[java.lang.Double](1.0, null)), Some(Seq[java.lang.Double](3.0, 4.0))),
      (5L, Some(Seq[java.lang.Double](Double.NaN, 2.0)), Some(Seq[java.lang.Double](3.0, 4.0)))
    ).toDF("id", "a", "b")
    def check(): Unit = {
      val out = df.select($"id", VectorExpressions.dotProduct($"a", $"b").as("d"))
        .orderBy("id").collect()
      assert(out(0).getDouble(1) == 11.0)
      assert(out(1).isNullAt(1)) // null array
      assert(out(2).isNullAt(1)) // length mismatch (zip_with would null-pad)
      assert(out(3).isNullAt(1)) // null element
      assert(out(4).getDouble(1).isNaN) // a NaN element: a NaN product, not null
    }
    check()
    withSQLConf("spark.sql.codegen.wholeStage" -> "false",
                "spark.sql.codegen.factoryMode" -> "NO_CODEGEN") { check() }
  }

  test("optimizer rule rewrites the HOF dot-product pattern to the native kernel") {
    // non-foldable input (derived from range), or ConstantFolding
    // collapses the whole projection before our rule could be observed
    val base = spark.range(2).select(
      array($"id".cast("double"), lit(2.0)).as("a"),
      array(lit(3.0), lit(4.0)).as("b"))
    val df = base.select(hofDot($"a", $"b").as("d"))
    val optimized = df.queryExecution.optimizedPlan
    val rewritten = optimized.expressions.exists(_.exists(
      _.isInstanceOf[graft.plans.ArrayDotProduct]))
    assert(rewritten, s"expected ArrayDotProduct in:\n$optimized")
    assert(df.orderBy("d").collect().map(_.getDouble(0)).toSeq == Seq(8.0, 11.0))
    // a non-dot fold (different zero) must NOT be rewritten
    val other = base.select(aggregate(zip_with($"a", $"b", (x, y) => x * y),
      lit(1.0), (acc, x) => acc + x).as("d"))
    assert(!other.queryExecution.optimizedPlan.expressions.exists(_.exists(
      _.isInstanceOf[graft.plans.ArrayDotProduct])))
    assert(other.orderBy("d").collect().map(_.getDouble(0)).toSeq == Seq(9.0, 12.0))
    // a -0.0 seed is numerically 0.0 but NOT bit-identical to the
    // kernel's +0.0 accumulator (empty arrays fold to the seed itself),
    // so the rewrite must leave it alone
    val negZero = base.select(aggregate(zip_with($"a", $"b", (x, y) => x * y),
      lit(-0.0), (acc, x) => acc + x).as("d"))
    assert(!negZero.queryExecution.optimizedPlan.expressions.exists(_.exists(
      _.isInstanceOf[graft.plans.ArrayDotProduct])))
  }

  test("array_dot_product is SQL-callable via the session extension") {
    Seq((Seq(1.0, 2.0, 3.0), Seq(4.0, 5.0, 6.0))).toDF("a", "b")
      .createOrReplaceTempView("vex")
    val v = spark.sql("SELECT array_dot_product(a, b) AS d FROM vex")
      .first().getDouble(0)
    assert(v == 32.0)
  }

  test("NGramArray matches the composed HOF form on random token arrays") {
    val rnd = new Random(5)
    val vocab = Vector("a", "bb", "ccc", "dd", "e")
    val rows = (1 to 100).map(i =>
      (i, Seq.fill(rnd.nextInt(8))(vocab(rnd.nextInt(vocab.size)))))
    val df = rows.toDF("id", "toks")
    Seq(1, 2, 3, 5).foreach { n =>
      val out = df.select(
        graft.plans.NGramArray($"toks", n).as("native"),
        when(size($"toks") >= n,
          transform(sequence(lit(1), size($"toks") - lit(n - 1)),
            i => concat_ws(" ", slice($"toks", i, lit(n)))))
          .otherwise(array().cast("array<string>")).as("hof")).collect()
      out.foreach { r =>
        assert(r.getSeq[String](0) == r.getSeq[String](1), s"n=$n")
      }
    }
    // null elements are skipped inside a gram, like concat_ws
    val withNull = Seq(Tuple1(Seq("x", null, "y"))).toDF("toks")
    assert(withNull.select(graft.plans.NGramArray($"toks", 2))
      .first().getSeq[String](0) == Seq("x", "y"))
    // null INPUT array propagates to null (unary null propagation —
    // deliberate divergence from the composed form's otherwise(array()),
    // documented on NGramArray)
    val nullArr = Seq(Tuple1(null: Seq[String])).toDF("toks")
    assert(nullArr.select(graft.plans.NGramArray($"toks", 2)).first().isNullAt(0))
  }

  test("interpreted path (eval) agrees with codegen") {
    val df = Seq((Seq(1.0, 2.0, 3.0), Seq(4.0, 5.0, 6.0))).toDF("a", "b")
    // force the interpreted path by evaluating through a filter on the
    // expression in a context where codegen is disabled
    withSQLConf("spark.sql.codegen.wholeStage" -> "false",
                "spark.sql.codegen.factoryMode" -> "NO_CODEGEN") {
      val v = df.select(VectorExpressions.dotProduct($"a", $"b")).first().getDouble(0)
      assert(v == 32.0)
    }
  }

  test("Md5Hash60Expr == composed conv(substring(md5)) form, all input shapes") {
    import graft.functions.TextFunctions.{md5Hash60, md5Hash60Composed}
    // random ASCII, unicode, empty, long, and null inputs — the native
    // byte-path kernel must equal the hex-string-parsing composed form
    // (which is also what every DuckDB oracle states) bit-for-bit
    val rows = (0 until 2000).map { i =>
      if (i % 97 == 0) null
      else if (i % 31 == 0) s"übergrößé-∆-$i-" + ("x" * (i % 257))
      else if (i % 13 == 0) ""
      else s"key-$i-${i * 2654435761L}"
    }
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(rows.map(org.apache.spark.sql.Row(_)), 4),
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("s",
          org.apache.spark.sql.types.StringType, nullable = true))))
    val mismatches = df
      .select(md5Hash60(col("s")).as("native"),
        md5Hash60Composed(col("s")).as("composed"))
      .filter(!(col("native") <=> col("composed")))
      .count()
    assert(mismatches == 0)
    // interpreted path (codegen off) agrees too
    withSQLConf("spark.sql.codegen.wholeStage" -> "false",
      "spark.sql.codegen.factoryMode" -> "NO_CODEGEN") {
      val m2 = df
        .select(md5Hash60(col("s")).as("native"),
          md5Hash60Composed(col("s")).as("composed"))
        .filter(!(col("native") <=> col("composed")))
        .count()
      assert(m2 == 0)
    }
  }

  test("ShingleHash60Expr == composed render + md5Hash60, all input shapes") {
    import graft.functions.TextFunctions.{md5Hash60, shingleHashes60}
    // the exact chain q95/q97 used before the kernel: k-window concat
    // render, then the 60-bit hash of each shingle string
    val k = 8
    val parts = (0 until k)
      .map(j => if (j == 0) "element_at(l, i)" else s"element_at(l, i + $j)")
      .mkString(", ' ', ")
    val composedRender =
      s"if(size(l) < $k, array(), transform(sequence(1, size(l) - ${k - 1}), " +
        s"i -> concat($parts)))"
    val rnd = new Random(23)
    val rows = (0 until 400).map { i =>
      if (i % 53 == 0) null
      else {
        val n = i % 19 // includes n < k (empty result) and n == 0
        Seq.fill(n)(
          if (rnd.nextInt(5) == 0) s"übergrößé∆${rnd.nextInt(100)}"
          else s"tok${rnd.nextInt(1000)}").mkString(" ")
      }
    }
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(rows.map(org.apache.spark.sql.Row(_)), 4),
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("text",
          org.apache.spark.sql.types.StringType, nullable = true))))
      .select(when(col("text").isNotNull, split(col("text"), " ")).as("l"))
    def check(): Unit = {
      val bad = df
        .select(shingleHashes60(col("l"), k).as("native"),
          expr(composedRender).as("shingles"))
        .select(col("native"),
          transform(col("shingles"), s => md5Hash60(s)).as("composed"))
        .filter(!(col("native") <=> col("composed")))
        .count()
      assert(bad == 0)
    }
    check()
    // interpreted path (codegen off) agrees too
    withSQLConf("spark.sql.codegen.wholeStage" -> "false",
      "spark.sql.codegen.factoryMode" -> "NO_CODEGEN") {
      check()
    }
  }

  test("Md5SlicesExpr == composed hex-slice form per position") {
    // position r must equal conv(substring(md5(c), 8r+1, 8), 16, 10) % w
    // — the recipe every CMS/bloom oracle states in SQL
    val df = spark.range(3000)
      .select(concat(lit("cm|k"), col("id").cast("string")).as("s"))
    val w = 1024
    val arr = graft.plans.Md5SlicesExpr.column(col("s"), 4, w)
    val checks = (0 until 4).map { r =>
      (element_at(arr, r + 1) ===
        conv(substring(md5(col("s")), r * 8 + 1, 8), 16, 10).cast("long") % w)
        .as(s"ok$r")
    }
    val bad = df.select(checks: _*)
      .filter((0 until 4).map(r => !col(s"ok$r")).reduce(_ || _)).count()
    assert(bad == 0)
    // interpreted path agrees too
    withSQLConf("spark.sql.codegen.wholeStage" -> "false",
      "spark.sql.codegen.factoryMode" -> "NO_CODEGEN") {
      val bad2 = df.select(checks: _*)
        .filter((0 until 4).map(r => !col(s"ok$r")).reduce(_ || _)).count()
      assert(bad2 == 0)
    }
  }

  test("fused LSH signature: composed-form edge semantics preserved") {
    // the r15 fused expression (plans/LshSignatureExpr) replaced the
    // 32-term composed form that had silently fallen out of codegen;
    // these pin the edge contract the oracle never exercises.
    val rnd = new Random(7)
    // 1. matches a hand-computed reference on random data, both
    //    codegen and interpreted paths
    val rows = (1 to 50).map(i => (i.toLong, Seq.fill(64)(rnd.nextDouble() * 2 - 1)))
    val df = rows.toDF("id", "emb")
    val bits = 12
    val got = df.select($"id",
        graft.operators.Similarity.lshSignature($"emb", bits).as("sig"))
      .as[(Long, Long)].collect().toMap
    rows.foreach { case (id, emb) =>
      var expect = 0L
      (0 until bits).foreach { p =>
        var acc = 0.0
        (0 until 64).foreach(d =>
          acc += emb(d) * graft.operators.Similarity.planeComponent(p, d))
        if (java.lang.Double.compare(acc, 0.0) > 0) expect |= (1L << p)
      }
      assert(got(id) == expect, s"id=$id")
    }
    // 2. a null ELEMENT nulls every projection -> signature 0 (the
    //    composed form's when(null > 0).otherwise(0) behavior)
    val withNullElem = Seq((1L, (0 until 64).map(d =>
      if (d == 3) null.asInstanceOf[java.lang.Double]
      else java.lang.Double.valueOf(0.5)))).toDF("id", "emb")
    val sigNull = withNullElem.select(
        graft.operators.Similarity.lshSignature($"emb", bits).as("sig"))
      .as[Long].head()
    assert(sigNull == 0L)
    // 3. dim mismatch fails loudly with the composed form's message
    val short = Seq((1L, Seq.fill(10)(0.5))).toDF("id", "emb")
    val e = intercept[Exception] {
      short.select(graft.operators.Similarity.lshSignature($"emb", bits))
        .collect()
    }
    def messages(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x =>
        Option(x.getMessage).toSeq ++ messages(x.getCause))
    assert(messages(e).exists(_.contains("embedding dim != 64 (got 10)")), e.getMessage)
    // 4. null input fails loudly as dim -1 (never a silent null/0 row)
    val nullEmb = Seq((1L, null.asInstanceOf[Seq[Double]])).toDF("id", "emb")
    val e2 = intercept[Exception] {
      nullEmb.select(graft.operators.Similarity.lshSignature($"emb", bits))
        .collect()
    }
    assert(messages(e2).exists(_.contains("(got -1)")), e2.getMessage)
  }

  test("PqDistTable matches a hand-computed reference AND the composed form on random data") {
    // random magnitudes well outside the embedding distribution
    // (±10, tiny values) so the parity pin is not an artifact of the
    // test corpus's value range
    import graft.operators.Similarity
    val rnd = new Random(23)
    val rows = (1 to 150).map(i =>
      (i.toLong, Seq.fill(64)((rnd.nextDouble() * 2 - 1) *
        (if (i % 3 == 0) 10.0 else if (i % 3 == 1) 1.0 else 1e-3))))
    val df = rows.toDF("vec_id", "embedding")
    val fused = Similarity.pqQueryTable(df)
      .as[(Long, Seq[Double])].collect().toMap
    val composed = Similarity.pqStage(df)
      .select(col("vec_id"), flatten(array(
        (0 until Similarity.PqSubspaces).map(s => col(s"d$s")): _*)).as("qtab"))
      .as[(Long, Seq[Double])].collect().toMap
    // independent scalar reference: the documented arithmetic, written
    // here from scratch (ascending folds, quotient recomputed per use)
    def reference(emb: Seq[Double]): Array[Double] = {
      val dim = 64; val S = Similarity.PqSubspaces
      val K = Similarity.PqCodes; val D = Similarity.PqSubDim
      var nrm2 = 0.0
      (0 until dim).foreach(i => nrm2 += emb(i) * emb(i))
      val nrm = math.sqrt(nrm2)
      val out = new Array[Double](S * K)
      for (s <- 0 until S) {
        var xn2 = 0.0
        (0 until D).foreach { d =>
          val x = emb(s * D + d) / nrm; xn2 += x * x
        }
        for (k <- 0 until K) {
          var dot = 0.0
          (0 until D).foreach(d =>
            dot += (emb(s * D + d) / nrm) * Similarity.pqComponent(s, k, d))
          // ‖c‖² is the driver-side constant BOTH column forms embed
          // as a literal — the reference must add the same bits
          out(s * K + k) = (xn2 - 2.0 * dot) + Similarity.pqCodewordNorm2(s, k)
        }
      }
      out
    }
    rows.foreach { case (id, emb) =>
      val f = fused(id); val c = composed(id); val r = reference(emb)
      assert(f.length == 128 && c.length == 128)
      (0 until 128).foreach { i =>
        assert(java.lang.Double.doubleToRawLongBits(f(i)) ==
          java.lang.Double.doubleToRawLongBits(c(i)),
          s"fused/composed diverge: vec $id idx $i ${f(i)} vs ${c(i)}")
        assert(java.lang.Double.doubleToRawLongBits(f(i)) ==
          java.lang.Double.doubleToRawLongBits(r(i)),
          s"fused/reference diverge: vec $id idx $i ${f(i)} vs ${r(i)}")
      }
    }
  }

}
