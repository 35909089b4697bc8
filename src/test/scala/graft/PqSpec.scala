package graft

import graft.operators.Similarity
import org.apache.spark.sql.functions._

class PqSpec extends SparkSpec {

  import spark.implicits._

  private lazy val emb = Tables(spark, sf).embeddings

  test("pq codes are in [0, PqCodes) and one per subspace") {
    val enc = Similarity.pqEncode(emb).cache()
    assert(enc.count() == emb.count())
    assert(enc.filter(size(col("codes")) =!= Similarity.PqSubspaces).count() == 0)
    val flat = enc.select(explode(col("codes")).as("c"))
    assert(flat.filter(col("c") < 0 || col("c") >= Similarity.PqCodes).count() == 0)
  }

  test("identical vectors encode to identical codes; recon_err is finite and >= 0") {
    val dup = emb.limit(1).select(lit(99999L).as("vec_id"), col("embedding"), col("label"))
    val enc = Similarity.pqEncode(emb.unionByName(dup))
    val a = enc.filter(col("vec_id") === emb.first().getAs[Long]("vec_id"))
      .select("codes").as[Seq[Long]].head()
    val b = enc.filter(col("vec_id") === 99999L).select("codes").as[Seq[Long]].head()
    assert(a == b)
    assert(enc.filter(col("recon_err") < 0 || isnan(col("recon_err"))).count() == 0)
  }

  test("adc knn: contiguous ranks, no self pairs, deterministic across runs") {
    val qs = emb.filter(col("vec_id") < 10)
    val r1 = Similarity.pqAdcKnn(emb, qs, 5).collect().toSet
    val r2 = Similarity.pqAdcKnn(emb, qs, 5).collect().toSet
    assert(r1 == r2)
    assert(r1.size == 50)
    assert(r1.forall(r => r.getAs[Long]("query_id") != r.getAs[Long]("neighbor_id")))
  }

  test("adc knn recall vs brute force: raw beats chance, re-ranked recovers most") {
    val qs = emb.filter(col("vec_id") < 20)
    val exact = Similarity.bruteForceKnn(emb, qs, 5)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    // raw 4-bit-code ranking: coarse by construction on near-orthogonal
    // random vectors — only pin "clearly better than chance" (~0.10)
    val adc = Similarity.pqAdcKnn(emb, qs, 5)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val rawRecall = (exact & adc).size.toDouble / exact.size
    assert(rawRecall > 0.12, s"raw recall=$rawRecall")
    // the production two-stage shape: 50 ADC candidates + exact re-rank
    val reranked = Similarity.pqAdcKnn(emb, qs, 5, rerank = 50)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val recall = (exact & reranked).size.toDouble / exact.size
    assert(recall > rawRecall, s"rerank $recall should beat raw $rawRecall")
    assert(recall > 0.5, s"reranked recall=$recall")
  }

  test("ivfpq with nprobe == numCells equals pqAdcKnn at the same rerank") {
    // the cell gate wide open passes every corpus row exactly once (a
    // vector lives in ONE cell), so the two-stage result must be
    // IDENTICAL to the ungated ADC scan — the gate only ever removes
    // candidates, never rescores them
    val qs = emb.filter(col("vec_id") < 10)
    val gated = Similarity.ivfPqKnn(emb, qs, k = 5,
      numCells = 8, nprobe = 8, rerank = 30).collect().toSet
    val ungated = Similarity.pqAdcKnn(emb, qs, k = 5, rerank = 30)
      .collect().toSet
    assert(gated == ungated)
  }

  test("ivfpq recall: gated two-stage still recovers most of brute force") {
    val qs = emb.filter(col("vec_id") < 20)
    val exact = Similarity.bruteForceKnn(emb, qs, 5)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val got = Similarity.ivfPqKnn(emb, qs, k = 5, numCells = 8,
        nprobe = 2, rerank = 30)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val recall = (exact & got).size.toDouble / exact.size
    // nprobe=2/8 caps attainable recall at the cell-coincidence rate;
    // the floor pins "the gate is routing related vectors together",
    // not brute-force parity
    assert(recall > 0.25, s"ivfpq recall=$recall")
    // every query still gets its full k
    assert(got.size == 100)
  }

  test("persisted index round-trip: indexed query equals the in-query form") {
    val qs = emb.filter(col("vec_id") < 20)
    val direct = Similarity.ivfPqKnn(emb, qs, k = 5, numCells = 8,
        nprobe = 2, rerank = 30)
      .as[(Long, Long, Long, Double)].collect().toSet
    val path = java.nio.file.Files
      .createTempDirectory("graft-pqspec-idx").toString + "/index"
    Similarity.ivfPqIndexWrite(emb, path, numCells = 8)
    val viaIndex = Similarity.ivfPqKnnIndexed(
        Similarity.ivfPqIndexRead(spark, path), emb, qs, k = 5,
        numCells = 8, nprobe = 2, rerank = 30)
      .as[(Long, Long, Long, Double)].collect().toSet
    assert(viaIndex == direct && direct.nonEmpty)
  }

  test("persisted index: probed-cell filter lands as a PARTITION filter on the scan") {
    val path = java.nio.file.Files
      .createTempDirectory("graft-pqspec-prune").toString + "/index"
    Similarity.ivfPqIndexWrite(emb, path, numCells = 8)
    // the shape ivfPqKnnIndexed(pruneCells = true) produces: a literal
    // IN-filter on the cell column, which for a partitionBy("cell")
    // artifact must prune at the FILE level, not post-scan
    val pruned = Similarity.ivfPqIndexRead(spark, path)
      .filter(col("cell").isin(0, 3))
    val scans = pruned.queryExecution.executedPlan.collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec => f
    }
    assert(scans.nonEmpty)
    assert(scans.head.partitionFilters.nonEmpty,
      "cell filter must reach partitionFilters (file-level pruning)")
    // and the pruned scan really reads a subset of the cells
    val cells = pruned.select("cell").distinct()
      .collect().map(_.getInt(0)).toSet
    assert(cells.subsetOf(Set(0, 3)))
  }

  test("fused qtab kernel is bit-identical to the composed pqStage form") {
    // the hash-safety proof for the r16 fusion: flatten(d0..d7) of the
    // composed reference (transform-normalize, slices, 128 literal dot
    // products) vs the one-loop PqDistTable kernel, compared at the
    // RAW BIT level per element — IEEE equality, not tolerance
    val sample = emb.limit(50)
    val composed = Similarity.pqStage(sample)
      .select(col("vec_id"), flatten(array(
        (0 until Similarity.PqSubspaces).map(s => col(s"d$s")): _*)).as("qtab"))
      .as[(Long, Seq[Double])].collect().toMap
    val fused = Similarity.pqQueryTable(sample)
      .as[(Long, Seq[Double])].collect().toMap
    assert(composed.keySet == fused.keySet && composed.nonEmpty)
    composed.foreach { case (id, cd) =>
      val fd = fused(id)
      assert(cd.length == Similarity.PqSubspaces * Similarity.PqCodes &&
        fd.length == cd.length)
      cd.indices.foreach { i =>
        assert(java.lang.Double.doubleToRawLongBits(cd(i)) ==
          java.lang.Double.doubleToRawLongBits(fd(i)),
          s"vec $id idx $i: composed ${cd(i)} vs fused ${fd(i)}")
      }
    }
  }

  test("fused qtab kernel: loud-failure edge contract") {
    // PqEncode's shared contract: null input -> null row; wrong length
    // or null element -> throw (never silent garbage distances)
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(StructField("vec_id", LongType),
      StructField("embedding", ArrayType(DoubleType, containsNull = true))))
    def df(rows: Seq[org.apache.spark.sql.Row]) =
      spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), schema)
    import org.apache.spark.sql.Row
    val nullIn = df(Seq(Row(1L, null)))
    assert(Similarity.pqQueryTable(nullIn).filter(col("qtab").isNull).count() == 1)
    val short = df(Seq(Row(1L, Seq.fill(8)(0.5))))
    val e1 = intercept[Exception] { Similarity.pqQueryTable(short).collect() }
    assert(e1.getMessage.contains("embedding length"), e1.getMessage)
    val hole = df(Seq(Row(1L, (0 until 64).map(i => if (i == 7) null else java.lang.Double.valueOf(0.5)))))
    val e2 = intercept[Exception] { Similarity.pqQueryTable(hole).collect() }
    assert(e2.getMessage.contains("null element"), e2.getMessage)
  }

  test("PqEncode is the first argmin and the ascending sum of minima of PqDistTable, ties planted") {
    // 3 subspaces x 4 codes x 2 dims: codes 0 and 2 of subspace 0 are
    // one codeword, all four of subspace 1 are, and codes 1 and 3 of
    // subspace 2 are, so their distances tie bit for bit
    val (subspaces, codes, subDim) = (3, 4, 2)
    val codebook = Array[Double](1, 0, 0, 1, 1, 0, -1, 0,
      0.5, 0.5, 0.5, 0.5, 0.5, 0.5, 0.5, 0.5,
      0, 1, 1, 0, 0, -1, 1, 0)
    val norms2 = codebook.grouped(subDim).map(_.map(x => x * x).sum).toArray
    val rnd = new scala.util.Random(7)
    val rows = Seq(Seq(2.0, 0.1, 1.0, 1.0, 3.0, 0.2), Seq.fill(6)(0.0)) ++
      Seq.fill(20)(Seq.fill(6)(rnd.nextGaussian()))
    val df = rows.map(Tuple1(_)).toDF("e").select(
      graft.plans.PqEncode(col("e"), codebook, norms2, subspaces, codes, subDim).as("enc"),
      graft.plans.PqDistTable(col("e"), codebook, norms2, subspaces, codes, subDim).as("tab"))
    def check(): Unit = {
      val got = df.select("enc.codes", "enc.recon_err", "tab")
        .as[(Seq[Long], Double, Seq[Double])].collect().toSeq
      assert(got.length == rows.length)
      got.foreach { case (enc, err, tab) =>
        var sum = 0.0
        val firstArgmin = (0 until subspaces).map { s =>
          var (best, bi) = (Double.PositiveInfinity, -1)
          (0 until codes).foreach { k =>
            if (tab(s * codes + k) < best) { best = tab(s * codes + k); bi = k }
          }
          sum += best
          bi.toLong
        }
        assert(enc == firstArgmin)
        assert(java.lang.Double.doubleToRawLongBits(err) ==
          java.lang.Double.doubleToRawLongBits(sum))
      }
      // the planted ties: the lowest of the tied codes wins
      assert(got.head._1 == Seq(0L, 0L, 1L))
      assert(got.head._3(0) == got.head._3(2) && got.head._3(9) == got.head._3(11))
      // a zero vector normalizes to NaN: no code, +inf error
      assert(got(1)._1 == Seq(-1L, -1L, -1L) && got(1)._2 == Double.PositiveInfinity)
    }
    check()
    withSQLConf("spark.sql.codegen.wholeStage" -> "false",
                "spark.sql.codegen.factoryMode" -> "NO_CODEGEN") { check() }
  }

  test("adc distance approximates true normalized-L2 distance") {
    // ADC(q, c) should correlate with 2-2cos(q, c); spot-check that for
    // one query the ADC-nearest neighbor is within the true top half
    val qs = emb.filter(col("vec_id") === 0)
    val exactRank = Similarity.bruteForceKnn(emb, qs, 1000)
      .select("neighbor_id", "rank").as[(Long, Long)].collect().toMap
    val top = Similarity.pqAdcKnn(emb, qs, 1).select("neighbor_id").as[Long].head()
    val n = exactRank.size
    assert(exactRank(top) <= n / 2, s"adc top-1 ranks ${exactRank(top)} of $n in truth")
  }
}
