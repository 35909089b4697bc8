package graft

import graft.operators.{Dedup, Similarity}
import org.apache.spark.sql.functions._

class SimilaritySpec extends SparkSpec {

  import spark.implicits._

  private lazy val emb = Tables(spark, sf).embeddings
  private lazy val docs = Tables(spark, sf).documents

  test("brute-force knn: rank 1..k, no self pairs, cos within [-1,1]") {
    val knn = Similarity.bruteForceKnn(emb, emb.filter(col("vec_id") < 10), 5).cache()
    assert(knn.count() == 50)
    assert(knn.filter(col("query_id") === col("neighbor_id")).count() == 0)
    assert(knn.filter(abs(col("cos_sim")) > 1.0 + 1e-9).count() == 0)
    // ranks are contiguous per query
    val perQ = knn.groupBy("query_id").agg(max("rank").as("mx"), count(lit(1)).as("k"))
    assert(perQ.filter(col("mx") =!= col("k")).count() == 0)
  }

  test("knn is symmetric with itself as ground truth on identical vectors") {
    // a vector duplicated must be its own nearest neighbor (cos = 1)
    val dup = emb.limit(1).select(lit(99999L).as("vec_id"), col("embedding"), col("label"))
    val corpus = emb.unionByName(dup)
    val knn = Similarity.bruteForceKnn(corpus, dup, 1)
    val top = knn.first()
    assert(top.getAs[Long]("neighbor_id") == emb.first().getAs[Long]("vec_id"))
    assert(math.abs(top.getAs[Double]("cos_sim") - 1.0) < 1e-12)
  }

  test("sign-LSH knn results are a subset of allowed ids with decent recall") {
    val exact = Similarity.bruteForceKnn(emb, emb.filter(col("vec_id") < 20), 5)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val approx = Similarity.signLshKnn(emb, emb.filter(col("vec_id") < 20), 5, bits = 4)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    // every approx neighbor is a real vector, not fabricated
    assert(approx.forall { case (q, n) => q != n })
    // recall is data-dependent; require non-trivial overlap at 4 bits
    val recall = (exact & approx).size.toDouble / exact.size
    assert(recall > 0.1, s"recall=$recall")
  }

  test("IVF with nprobe == numCells reproduces brute force exactly") {
    val qs = emb.filter(col("vec_id") < 10)
    val exact = Similarity.bruteForceKnn(emb, qs, 5)
      .select("query_id", "rank", "neighbor_id")
      .as[(Long, Long, Long)].collect().toSet
    val ivfFull = Similarity.ivfKnn(emb, qs, 5, numCells = 8, nprobe = 8)
      .select("query_id", "rank", "neighbor_id")
      .as[(Long, Long, Long)].collect().toSet
    assert(ivfFull == exact) // probing every cell == exhaustive search
  }

  test("full-probe ANN configurations reproduce brute force exactly, cosine ties by neighbor_id") {
    // every query vector planted twice more, at a lower and a higher id
    // than any real one: each query's two copies tie on cosine, and so
    // do the copies as neighbours of every other query
    val copies = emb.filter(col("vec_id") < 10)
    val corpus = emb
      .unionByName(copies.withColumn("vec_id", col("vec_id") + 5000L))
      .unionByName(copies.withColumn("vec_id", -col("vec_id") - 1L))
      .cache()
    val qs = corpus.filter(col("vec_id").between(0, 9))
    val all = corpus.count().toInt - 1 // re-rank depth that keeps every candidate
    def rows(df: org.apache.spark.sql.DataFrame): Seq[(Long, Long, Long, Double)] =
      df.select("query_id", "rank", "neighbor_id", "cos_sim")
        .as[(Long, Long, Long, Double)].collect().toSeq.sortBy(r => (r._1, r._2))
    val exact = rows(Similarity.bruteForceKnn(corpus, qs, 5))
    assert(exact.size == 50)
    // the ties are there, and brute force orders them by neighbor_id
    val ties = exact.groupBy(r => (r._1, r._4)).values.filter(_.size > 1).toSeq
    assert(ties.size >= 10, s"expected a tie per query, got $ties")
    ties.foreach(t => assert(t.sortBy(_._2).map(_._3) == t.map(_._3).sorted, t))
    Seq(
      "ivfKnn nprobe=numCells" -> Similarity.ivfKnn(corpus, qs, 5, numCells = 8, nprobe = 8),
      "ivfKnnDeterministic nprobe=numCells" ->
        Similarity.ivfKnnDeterministic(corpus, qs, 5, numCells = 8, nprobe = 8),
      "signLshKnn bits=1 multiProbe" ->
        Similarity.signLshKnn(corpus, qs, 5, bits = 1, multiProbe = true),
      s"pqAdcKnn rerank=$all" -> Similarity.pqAdcKnn(corpus, qs, 5, rerank = all),
      s"ivfPqKnn nprobe=numCells rerank=$all" ->
        Similarity.ivfPqKnn(corpus, qs, 5, numCells = 8, nprobe = 8, rerank = all)
    ).foreach { case (name, knn) => assert(rows(knn) == exact, name) }
    corpus.unpersist()
  }

  test("IVF with partial probing returns valid ranks and decent recall") {
    val qs = emb.filter(col("vec_id") < 10)
    val exact = Similarity.bruteForceKnn(emb, qs, 5)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val ivf = Similarity.ivfKnn(emb, qs, 5, numCells = 8, nprobe = 4)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val recall = (exact & ivf).size.toDouble / exact.size
    assert(recall > 0.2, s"recall=$recall")
  }

  test("deterministic IVF with nprobe == numCells reproduces brute force exactly") {
    val qs = emb.filter(col("vec_id") < 10)
    val exact = Similarity.bruteForceKnn(emb, qs, 5)
      .select("query_id", "rank", "neighbor_id")
      .as[(Long, Long, Long)].collect().toSet
    val ivfFull = Similarity.ivfKnnDeterministic(emb, qs, 5, numCells = 8, nprobe = 8)
      .select("query_id", "rank", "neighbor_id")
      .as[(Long, Long, Long)].collect().toSet
    assert(ivfFull == exact) // probing every cell == exhaustive search
  }

  test("deterministic IVF partial probing returns valid ranks and decent recall") {
    val qs = emb.filter(col("vec_id") < 10)
    val exact = Similarity.bruteForceKnn(emb, qs, 5)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val ivf = Similarity.ivfKnnDeterministic(emb, qs, 5, numCells = 8, nprobe = 4)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    assert(ivf.forall { case (q, n) => q != n })
    val recall = (exact & ivf).size.toDouble / exact.size
    assert(recall > 0.2, s"recall=$recall")
  }

  test("minhash LSH finds all exact duplicates (jaccard 1.0 pairs)") {
    // plant two exact dup docs; LSH must surface the pair
    val planted = docs.limit(2)
      .withColumn("doc_id", col("doc_id") + 1000000L)
    val corpus = docs.unionByName(planted)
    val pairs = Dedup.minhashNearDups(corpus, 8, 4, threshold = 0.999)
      .as[(Long, Long, Double)].collect()
    val ids = pairs.map(p => (p._1, p._2)).toSet
    assert(ids.contains((0L, 1000000L)) && ids.contains((1L, 1000001L)),
      s"planted dup pairs missing from $ids")
  }

  test("minhash candidate generation never misses band-identical docs") {
    val sig = Dedup.shingleSets(docs, 3).filter(size(col("sh")) > 0)
    assert(sig.count() == docs.count()) // all test docs have >= 3 tokens
  }

  test("bucketCap that never fires is a no-op (q42's sf-scale contract)") {
    val qs = emb.filter(col("vec_id") < 20)
    def rows(cap: Option[Int]) =
      Similarity.signLshKnn(emb, qs, 5, bits = 4, tables = 8, bucketCap = cap)
        .select("query_id", "rank", "neighbor_id")
        .as[(Long, Long, Long)].collect().toSet
    assert(rows(Some(1 << 20)) == rows(None))
  }

  test("bucketCap keeps exactly the lowest-vec_id rows per bucket") {
    // 30 identical copies of one vector, ids 100..129: every copy
    // shares every signature slice, so each table has ONE hot bucket
    // holding all 30. cap=3 keeps ids {100,101,102}; querying id 100
    // must see exactly neighbors 101 and 102 (self excluded), cos 1.0.
    val one = emb.limit(1).select(col("embedding"))
    val copies = (0 until 30).map(i =>
      one.select(lit(100L + i).as("vec_id"), col("embedding")))
      .reduce(_ unionByName _)
    val q = copies.filter(col("vec_id") === 100L)
    val out = Similarity.signLshKnn(copies, q, 5, bits = 4, tables = 8,
        bucketCap = Some(3))
      .select("query_id", "rank", "neighbor_id", "cos_sim")
      .as[(Long, Long, Long, Double)].collect().sortBy(_._2)
    assert(out.map(r => (r._1, r._2, r._3)).toSeq ==
      Seq((100L, 1L, 101L), (100L, 2L, 102L)))
    assert(out.forall(r => math.abs(r._4 - 1.0) < 1e-12))
    // uncapped: all 29 other copies are candidates; top-5 by id asc
    val full = Similarity.signLshKnn(copies, q, 5, bits = 4, tables = 8)
      .select("neighbor_id").as[Long].collect().sorted.toSeq
    assert(full == Seq(101L, 102L, 103L, 104L, 105L))
  }

  test("partial bucket cap bounds any window task's bucket rows (r16 two-stage)") {
    // adversarial shape: ONE bucket holds every row (100x the cap),
    // spread over 8 input partitions. The map-side stage must emit at
    // most numPartitions*cap rows for the bucket — the bound on what
    // any global-window task can receive — while keeping each
    // partition's lowest ids, so the globally lowest `cap` survive.
    val cap = 4
    val df = spark.range(800).select(col("id").as("vec_id"),
      lit(0).as("t"), lit(7L).as("s")).repartition(8)
    val partial = Similarity.partialBucketCap(df, cap)
    val cnt = partial.count()
    assert(cnt <= 8L * cap, s"partial output $cnt exceeds partitions*cap bound")
    assert(cnt >= cap)
    val ids = partial.select("vec_id").as[Long].collect().toSet
    assert((0L until cap.toLong).toSet.subsetOf(ids),
      s"global cap-lowest ids must survive the partial stage, got $ids")
    // the bound comes from Spark's WindowGroupLimit: on signLshKnn's
    // capped path a Partial limit runs in each input partition below
    // the (t, s) exchange, and a Final one above it. Checked at q42's
    // cap floor of 2048, above the 1000-row threshold up to which
    // Spark's InferWindowGroupLimit would insert the node by itself
    val planCap = 2048
    import org.apache.spark.sql.catalyst.expressions.{Attribute, Expression}
    import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.execution.window.{Final, Partial, WindowGroupLimitExec, WindowGroupLimitMode}
    object plans extends AdaptiveSparkPlanHelper
    def names(es: Seq[Expression]) = es.collect { case a: Attribute => a.name }
    def limits(p: SparkPlan, mode: WindowGroupLimitMode) = plans.collect(p) {
      case l: WindowGroupLimitExec
          if l.mode == mode && names(l.partitionSpec) == Seq("t", "s") && l.limit == planCap => l
    }
    val plan = Similarity.signLshKnn(emb, emb.filter(col("vec_id") < 10), 5,
      bits = 4, tables = 8, bucketCap = Some(planCap)).queryExecution.executedPlan
    val tsExchanges = limits(plan, Final).flatMap(f => plans.collect(f) {
      case e @ ShuffleExchangeExec(HashPartitioning(keys, _), _, _, _)
          if names(keys) == Seq("t", "s") => e
    })
    assert(tsExchanges.exists(e => limits(e, Partial).nonEmpty),
      s"expected WindowGroupLimit Partial under Exchange hashpartitioning(t, s) " +
        s"under WindowGroupLimit Final:\n$plan")
  }

  test("two-stage cap: 100x-cap hot bucket over many partitions keeps exactly the lowest ids") {
    // end-to-end bit-identity of the r16 two-stage with the r15
    // window-only semantics: 400 identical copies (one hot bucket per
    // table) across 8 partitions, cap 3 -> survivors {100,101,102},
    // query 100 sees exactly 101, 102.
    val one = emb.limit(1).select(col("embedding"))
    val copies = spark.range(400)
      .select((col("id") + 100L).as("vec_id")).crossJoin(one).repartition(8)
    val q = copies.filter(col("vec_id") === 100L)
    val out = Similarity.signLshKnn(copies, q, 5, bits = 4, tables = 8,
        bucketCap = Some(3))
      .select("query_id", "rank", "neighbor_id")
      .as[(Long, Long, Long)].collect().sortBy(_._2).toSeq
    assert(out == Seq((100L, 1L, 101L), (100L, 2L, 102L)))
  }

  test("q42's recall floor survives a 10x-replicated corpus under the cap") {
    // the ScaleBench synthesis shape (exact copies, vec_id + i*10M):
    // the keep-lowest-id cap retains the copies the brute-force gate
    // ranks first, so recall holds where a hash-ordered cap would sink
    // toward cap/bucket. Cap 150 vs hot buckets of ~10x the base
    // bucket census — the cap FIRES here (base max bucket > 15).
    val rep = (0 until 10).map(i =>
      emb.select((col("vec_id") + lit(i.toLong * 10_000_000L)).as("vec_id"),
        col("embedding")))
      .reduce(_ unionByName _)
    val qs = rep.filter(col("vec_id") < 10)
    val exact = Similarity.bruteForceKnn(rep, qs, 5)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val capped = Similarity.signLshKnn(rep, qs, 5, bits = 4, tables = 8,
        bucketCap = Some(150))
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val recall = (exact & capped).size.toDouble / exact.size
    assert(recall >= graft.queries.SimilarityQueries.Q42RecallFloor,
      s"capped recall=$recall")
  }

  test("multi-probe LSH recall dominates single-probe at equal bits") {
    val qs = emb.filter(col("vec_id") < 20)
    val exact = Similarity.bruteForceKnn(emb, qs, 5)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    def recall(multiProbe: Boolean): Double = {
      val approx = Similarity.signLshKnn(emb, qs, 5, bits = 4, multiProbe = multiProbe)
        .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
      (exact & approx).size.toDouble / exact.size
    }
    val single = recall(multiProbe = false)
    val multi = recall(multiProbe = true)
    assert(multi >= single, s"multi=$multi single=$single")
    assert(multi > 0.5, s"multi-probe recall too low: $multi")
  }

  test("minhash canonicalization maps duplicate clusters to one label") {
    // 5 exact copies of each of 40 docs, distinct id ranges
    val base = docs.limit(40)
    val corpus = (0 until 5).map(i =>
      base.withColumn("doc_id", col("doc_id") + lit(i * 1000000L)))
      .reduce(_ unionByName _)
    val labels = Dedup.minhashCanonicalize(corpus, iterations = 2)
      .as[(Long, Long)].collect()
    assert(labels.length == 200)
    // all 5 exact copies of a base doc must share one canonical label
    // (base docs themselves may merge further — some are genuine
    // near-dups of each other, which is correct behavior)
    labels.groupBy(_._1 % 1000000L).foreach { case (origId, members) =>
      val canons = members.map(_._2).toSet
      assert(canons.size == 1, s"doc $origId split: $canons")
      assert(canons.head <= origId) // min-label invariant
    }
    // output is linear: one row per doc, not a pair explosion
    assert(labels.map(_._1).distinct.length == 200)
  }

  test("simhash clusters cover all docs exactly once") {
    val cl = Dedup.simhashClusters(docs)
    val total = cl.agg(sum("cluster_size")).first().getLong(0)
    assert(total == docs.count())
  }

  test("embedding near-dups only returns pairs above threshold") {
    val nd = Dedup.embeddingNearDups(emb, threshold = 0.9, bits = 4)
    assert(nd.filter(col("cos_sim") < 0.9).count() == 0)
    assert(nd.filter(col("id_a") >= col("id_b")).count() == 0)
  }

  test("q99 histogram conserves the corpus: sum(size × clusters) = docs") {
    val hist = graft.queries.SimilarityQueries.q99DupClusterHistogram(spark, sf)
    val mass = hist.agg(sum(col("cluster_size") * col("n_clusters")))
      .first().getLong(0)
    assert(mass == docs.count())
  }

  test("q114 hard negatives carry a different label and top the rank") {
    val out = graft.queries.SimilarityQueries.q114HardNegatives(spark, sf)
      .cache()
    assert(out.count() == 20)
    assert(out.filter(col("q_label") === col("neg_label")).count() == 0)
    // the mined negative is at least as similar as ANY other
    // different-label vector (check against one recomputed query)
    val e = emb.select(col("vec_id"), col("label").cast("long").as("label"),
      graft.operators.Similarity.asDouble(col("embedding")).as("em"))
      .withColumn("nrm", graft.operators.Similarity.l2Norm(col("em")))
    val q0 = e.filter(col("vec_id") === 0).first()
    val best = out.filter(col("query_id") === 0).first()
    // recompute max different-label cosine for query 0 in the driver
    val q0e = q0.getAs[Seq[Double]]("em").toArray
    val q0n = q0.getAs[Double]("nrm")
    val maxCos = e.filter(col("label") =!= q0.getAs[Long]("label"))
      .select(col("em"), col("nrm")).collect().map { r =>
        val v = r.getAs[Seq[Double]]("em").toArray
        var s = 0.0; var i = 0
        while (i < v.length) { s += v(i) * q0e(i); i += 1 }
        s / (r.getAs[Double]("nrm") * q0n)
      }.max
    assert(math.abs(best.getAs[Double]("cos_sim") - maxCos) < 1e-12)
  }

  test("q113 keeps exactly one best doc per cluster") {
    val out = graft.queries.SimilarityQueries.q113KeepBest(spark, sf).cache()
    assert(out.count() == docs.count())
    // one kept per cluster
    val perCluster = out.groupBy("canonical_id")
      .agg(sum(when(col("kept"), 1L).otherwise(0L)).as("n_kept"))
    assert(perCluster.filter(col("n_kept") =!= 1L).count() == 0)
    // no cluster-mate strictly beats its kept doc on (n_distinct, -doc_id)
    val kept = out.filter(col("kept")).select(
      col("canonical_id"), col("n_distinct").as("kd"), col("doc_id").as("kid"))
    val beaten = out.join(kept, "canonical_id")
      .filter(col("n_distinct") > col("kd") ||
        (col("n_distinct") === col("kd") && col("doc_id") < col("kid")))
    assert(beaten.count() == 0)
  }

  test("semDedup: an exact duplicate is dropped, pointing at the lower id") {
    val dup = emb.filter(col("vec_id") === 0)
      .select(lit(99999L).as("vec_id"), col("embedding"), col("label"))
    val out = Similarity.semDedup(emb.unionByName(dup), tau = 0.999).cache()
    assert(out.count() == emb.count() + 1)
    val r = out.filter(col("vec_id") === 99999L).first()
    assert(!r.getAs[Boolean]("kept"))
    assert(r.getAs[Long]("dup_of") == 0L)
    // the original (globally smallest id) is always kept
    assert(out.filter(col("vec_id") === 0L).first().getAs[Boolean]("kept"))
  }

  test("semDedup: tau above the corpus max cosine keeps everything") {
    // this corpus's max pairwise cosine is ~0.48
    val out = Similarity.semDedup(emb, tau = 0.95)
    assert(out.filter(!col("kept")).count() == 0)
    assert(out.filter(col("dup_of") =!= -1L).count() == 0)
  }

  test("semDedup: cell minima kept; dropped rows point at smaller cell-mates") {
    val out = Similarity.semDedup(emb, tau = 0.30).cache()
    val cells = Similarity.assignCellsDeterministic(emb)
      .select(col("vec_id"), col("cell").cast("long").as("cell"))
    // one row per input vector
    assert(out.count() == emb.count())
    // the smallest id in every cell can have no smaller cell-mate
    val mins = cells.groupBy("cell").agg(min("vec_id").as("mn"))
    assert(out.join(mins, out("vec_id") === mins("mn"))
      .filter(!col("kept")).count() == 0)
    val dropped = out.filter(!col("kept")).cache()
    // greedy rule: dup_of is strictly smaller and in the SAME cell
    assert(dropped.filter(col("dup_of") >= col("vec_id")).count() == 0)
    val cellOf = cells.select(col("vec_id").as("dup_of"),
      col("cell").as("dup_cell"))
    assert(dropped.join(cellOf, "dup_of")
      .filter(col("cell") =!= col("dup_cell")).count() == 0)
    // tau=0.30 is below this corpus's max cosine: decision is non-trivial
    assert(dropped.count() > 0)
  }

  test("ANN recall gates read a pinned-constant query set (cost envelope)") {
    // the gate's brute-force yardstick must stay LINEAR in the corpus:
    // its query side is a fixed AnnGateQueries-id sample whose filter
    // reaches the parquet scan as a pushed predicate — never a corpus
    // fraction. If this plan stops carrying the pushed vec_id bound,
    // someone made the gate's cost grow with the data.
    val gate = graft.queries.SimilarityQueries.AnnGateQueries
    assert(gate <= 20, "gate query set must stay a small pinned constant")
    for (fn <- Seq(
        graft.queries.SimilarityQueries.q42KnnLsh _,
        graft.queries.SimilarityQueries.q42bKnnLshMultiProbe _,
        graft.queries.SimilarityQueries.q43KnnIvf _)) {
      val plan = fn(spark, sf).queryExecution.executedPlan.toString
      assert(plan.contains(s"LessThan(vec_id,$gate)"),
        s"pushed gate filter missing:\n${plan.take(2000)}")
    }
  }

  test("q42b multiprobe catalog entry holds a 0.5 recall@5 floor vs brute force") {
    // q42/q43 raise in-query below their floors; q42b's lift over
    // single-probe was spec'd but its ABSOLUTE floor lived nowhere a
    // runner could assert — this pins it on the catalog entry itself,
    // against the same AnnGateQueries query set the plan envelope pins.
    val qs = emb.filter(
      col("vec_id") < graft.queries.SimilarityQueries.AnnGateQueries)
    val exact = Similarity.bruteForceKnn(emb, qs, 5)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val got = graft.queries.SimilarityQueries.q42bKnnLshMultiProbe(spark, sf)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val recall = (exact & got).size.toDouble / exact.size
    assert(recall >= 0.5, s"q42b recall@5=$recall below the 0.5 floor")
  }
}
