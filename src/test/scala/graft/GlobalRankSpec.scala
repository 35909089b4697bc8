package graft

import graft.operators.GlobalRank
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import scala.util.Random

/** Pins the scale-safe global-order devices to their single-partition
  * window equivalents, the Murmur3 routing identity the bucket labels
  * stand on, and the catalog adopters' window-free plans. */
class GlobalRankSpec extends SparkSpec {

  import spark.implicits._

  private def randomScores(n: Int, seed: Int) = {
    val rnd = new Random(seed)
    // duplicate keys on purpose: ties must resolve via the tiebreak
    (1 to n).map(i => (rnd.nextInt(40) / 7.0, i.toLong)).toDF("key", "id")
  }

  test("withRowNumber == row_number() over a global window") {
    val df = randomScores(500, 11)
    val expected = df
      .withColumn("rk", row_number()
        .over(Window.orderBy(col("key"), col("id"))).cast("long"))
      .orderBy("id").collect()
    val got = GlobalRank.withRowNumber(
        df, Seq(col("key"), col("id")), "rk", numPartitions = 7)
      .orderBy("id").collect()
    assert(got.sameElements(expected))
  }

  test("withRowNumber handles desc keys and more partitions than rows") {
    val df = randomScores(5, 3)
    val expected = df
      .withColumn("rk", row_number()
        .over(Window.orderBy(col("key").desc, col("id"))).cast("long"))
      .orderBy("id").collect()
    val got = GlobalRank.withRowNumber(
        df, Seq(col("key").desc, col("id")), "rk", numPartitions = 16)
      .orderBy("id").collect()
    assert(got.sameElements(expected))
  }

  test("withRowNumber at a size where every bucket holds real runs") {
    // 20k rows over 8 buckets: each partition receives ~2.5k rows, far
    // past the reservoir size — the regime where round-11's first
    // (RangePartitioner) design produced duplicate/gapped ranks until
    // checkpointed, and where a wrong bucket→offset mapping cannot
    // hide. Ranks must be an exact permutation of 1..n.
    val got = GlobalRank.withRowNumber(
        randomScores(20000, 23), Seq(col("key"), col("id")), "rk",
        numPartitions = 8)
      .select("rk").as[Long].collect().sorted
    assert(got.head == 1L && got.last == 20000L &&
      got.distinct.length == 20000)
  }

  test("withRowNumbers: three ranks over one relation == three windows") {
    val df = randomScores(3000, 5)
      .withColumn("key2", (col("id") * 7919L) % 101L)
    val expected = df
      .withColumn("a", row_number()
        .over(Window.orderBy(col("key"), col("id"))).cast("long"))
      .withColumn("b", row_number()
        .over(Window.orderBy(col("key").desc, col("id"))).cast("long"))
      .withColumn("c", row_number()
        .over(Window.orderBy(col("key2"), col("id").desc)).cast("long"))
      .orderBy("id").collect()
    // no explicit numPartitions: the adaptive path ranks 3k rows in
    // ONE partition with no boundaries and no census job — the small
    // end of the size-adaptive plan
    val (ranked, n) = GlobalRank.withRowNumbersCounted(df, Seq(
        "a" -> Seq(col("key"), col("id")),
        "b" -> Seq(col("key").desc, col("id")),
        "c" -> Seq(col("key2"), col("id").desc)))
    assert(n == 3000L)
    val got = ranked
      .select("key", "id", "key2", "a", "b", "c")
      .orderBy("id").collect()
    assert(got.sameElements(expected))
  }

  test("GlobalRank evaluates its input once") {
    // the key column counts its own evaluations; 8 explicit partitions
    // make the sample, census and rank passes all run, and each would
    // re-run the key UDF if the operator did not materialize its input
    val calls = spark.sparkContext.longAccumulator("gr-key-calls")
    val countedKey = udf { (id: Long) => calls.add(1); (id * 7919L) % 1000L }
    val df = spark.range(20000).toDF("id").withColumn("k", countedKey(col("id")))
    val (ranked, n) = GlobalRank.withRowNumbersCounted(df, Seq(
        "a" -> Seq(col("k"), col("id")),
        "b" -> Seq(col("k").desc, col("id"))),
      numPartitions = 8)
    ranked.collect()
    assert(n == 20000L)
    assert(calls.value == 20000L, s"withRowNumbersCounted: ${calls.value} key calls")
    calls.reset()
    GlobalRank.withGroupRowNumber(df.withColumn("grp", col("id") % 5),
        Seq("grp"), Seq(col("k"), col("id")), "rk", countOut = "n",
        numPartitions = 8)
      .collect()
    assert(calls.value == 20000L, s"withGroupRowNumber: ${calls.value} key calls")
  }

  test("repartition(p, c) routes rows to pmod(hash(c), p) — the identity the bucket labels stand on") {
    // GlobalRank picks int labels so range-bucket b lands on shuffle
    // partition b. That works exactly while Spark's HashPartitioning
    // id expression is pmod(murmur3(col, seed = 42), p). Pin it from
    // both sides: the actual shuffle partition id vs pmod(hash), and
    // the SQL hash() vs the driver-side Murmur3_x86_32 the label
    // search evaluates.
    val p = 13
    val df = (1 to 2000).toDF("v")
    val routed = df.repartition(p, col("v"))
      .select(spark_partition_id().as("pid"),
        pmod(hash(col("v")), lit(p)).as("expected"))
      .collect()
    assert(routed.forall(r => r.getInt(0) == r.getInt(1)))
    val sqlHash = df.select(col("v"), hash(col("v"))).collect()
      .map(r => r.getInt(0) -> r.getInt(1)).toMap
    (1 to 2000).foreach { v =>
      assert(sqlHash(v) ==
        org.apache.spark.unsafe.hash.Murmur3_x86_32.hashInt(v, 42), s"v=$v")
    }
  }

  test("withGroupRowNumber == row_number() over a per-group window, n == group size") {
    // few groups, many rows per group — the skew regime the device is
    // for; desc sort keys and the countOut column both exercised
    val df = randomScores(4000, 17)
      .withColumn("grp", concat(lit("g"), (col("id") % 5).cast("string")))
    val w = Window.partitionBy("grp")
      .orderBy(col("key").desc, col("id"))
    val expected = df
      .withColumn("rk", row_number().over(w).cast("long"))
      .withColumn("n", count(lit(1))
        .over(Window.partitionBy("grp")).cast("long"))
      .orderBy("id").collect()
    val got = GlobalRank.withGroupRowNumber(df, Seq("grp"),
        Seq(col("key").desc, col("id")), "rk", countOut = "n")
      .select("key", "id", "grp", "rk", "n")
      .orderBy("id").collect()
    assert(got.sameElements(expected))
  }

  test("withGroupRowNumber refuses a high-cardinality group key loudly") {
    // the group census is a driver collect — a user_id-grade key here
    // would be a driver OOM at corpus scale, so the device must fail
    // fast instead. The guard fetches through limit(cap + 1), so even
    // this failing path ships a bounded row count to the driver.
    val df = (1 to GlobalRank.GroupCensusCap + 1).toDF("uid")
      .withColumn("key", col("uid") * 3 % 17)
    val e = intercept[IllegalArgumentException] {
      GlobalRank.withGroupRowNumber(
        df, Seq("uid"), Seq(col("key")), "rk").collect()
    }
    assert(e.getMessage.contains("distinct groups"))
    assert(e.getMessage.contains("plain per-group window"))
  }

  test("chained multi-rank frame is stable across re-evaluation (two actions, identical ranks)") {
    // The rank projection reads monotonically_increasing_id over the
    // spec-i sorted partition while spec i+1 re-exchanges the frame;
    // correctness rests on Catalyst never reordering that
    // nondeterministic projection across the next exchange, and on the
    // post-shuffle sort being TOTAL (tiebreak included) so arrival
    // order can't leak into the id. Pin the contract against future
    // Spark upgrades: chain three ranks with explicit multi-bucket
    // partitioning, run the SAME frame through two separate actions,
    // and require bit-identical ranks.
    val df = randomScores(20000, 41)
      .withColumn("key2", (col("id") * 6007L) % 251L)
    val ranked = GlobalRank.withRowNumbers(df, Seq(
        "a" -> Seq(col("key"), col("id")),
        "b" -> Seq(col("key").desc, col("id")),
        "c" -> Seq(col("key2"), col("id").desc)),
      numPartitions = 7)
      .select("id", "a", "b", "c")
    val first = ranked.orderBy("id").collect()
    val second = ranked.orderBy("id").collect()
    assert(first.sameElements(second))
    // and each rank column is an exact permutation of 1..n
    for (c <- Seq("a", "b", "c")) {
      val v = first.map(_.getAs[Long](c)).sorted
      assert(v.head == 1L && v.last == 20000L && v.distinct.length == 20000)
    }
  }

  test("boundary sampling balances buckets on skew-sized input partitions") {
    // one 200k-row partition + fifteen 100-row partitions: the regime
    // the round-12 sample-and-reweight fix exists for. The unweighted
    // merge gave every partition's fixed-size reservoir equal say, so
    // the fifteen tiny partitions' key range captured most quantile
    // boundaries and ~all 200k big-partition rows landed in ONE rank
    // bucket; with n/s weights the measured spread is 13.8k-34.2k
    // around the 25.2k mean (seeded reservoir — deterministic).
    // Ranks stay exact either way; this pins the BALANCE.
    val big = spark.sparkContext.parallelize(Seq(0), 1)
      .flatMap(_ => (0L until 200000L).iterator)
    val small = spark.sparkContext.parallelize(1 to 15, 15)
      .flatMap(i => (0 until 100).map(j => 10000000L + i * 1000L + j).iterator)
    val df = big.union(small).toDF("id")
    val ranked = GlobalRank.withRowNumber(
      df, Seq(col("id").asc), "rk", numPartitions = 8)
    val sizes = ranked.groupBy(spark_partition_id().as("pid")).count()
      .collect().map(_.getLong(1))
    val mean = 201500.0 / 8
    assert(sizes.length == 8, s"expected 8 occupied buckets: ${sizes.toSeq}")
    assert(sizes.max <= 2 * mean,
      s"bucket sizes ${sizes.toSeq} — max exceeds 2x the ${mean.toInt} mean")
  }

  test("topKBoundary is the k-th (key desc, id asc) pair exactly") {
    val df = randomScores(300, 7).repartition(5)
    val sorted = df.orderBy(col("key").desc, col("id"))
      .collect().map(r => (r.getDouble(0), r.getLong(1)))
    for (k <- Seq(1, 2, 17, 299, 300))
      assert(GlobalRank.topKBoundary(df, k).contains(sorted(k - 1)), s"k=$k")
    assert(GlobalRank.topKBoundary(df, 301).isEmpty)
  }

  test("q88/q107 round-12 replans hold structurally: no ObjectHashAggregate, no self-join, bounded exchanges") {
    // q88: the collect_list rollup left the plan — postings fold
    // per-doc in PostingsExpr, so no ObjectHashAggregate (collect_list
    // exits whole-stage codegen) and at most two shuffle exchanges
    // remain (the output's range order + the df census)
    val q88 = graft.queries.TextQueries.q88InvertedIndex(spark, sf)
      .queryExecution.executedPlan
    val q88Str = q88.toString
    assert(!q88Str.contains("ObjectHashAggregate"),
      "q88 regressed to a collect_list-style aggregate")
    val q88Shuffles = q88.collect {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
    }
    assert(q88Shuffles.size <= 2,
      s"q88 plans ${q88Shuffles.size} shuffles (expected <= 2)")
    // q107 kernel tier: pairs are generated in the scan, so the only
    // shuffle is the pair-census aggregate — no doc_id self-join
    // (SortMergeJoin/ShuffledHashJoin) anywhere in the plan
    val q107 = graft.queries.Relational.q107FrequentPairs(spark, sf)
      .queryExecution.executedPlan
    val q107Str = q107.toString
    assert(!q107Str.contains("SortMergeJoin") &&
      !q107Str.contains("ShuffledHashJoin"),
      "q107 kernel tier regressed to the self-join plan")
    val q107Shuffles = q107.collect {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
    }
    assert(q107Shuffles.size <= 1,
      s"q107 kernel tier plans ${q107Shuffles.size} shuffles (expected <= 1)")
  }

  test("q146/q152/q88/q110/q112/q119/q83/q106 plan no Window at all (global ranks and the skew-prone token window left the plan)") {
    for ((name, fn) <- Seq(
        "q146" -> graft.queries.TextQueries.q146DsirResample _,
        "q152" -> graft.queries.TextQueries.q152PerplexityBuckets _,
        "q88" -> graft.queries.TextQueries.q88InvertedIndex _,
        "q110" -> graft.queries.TextQueries.q110HybridRrf _,
        "q112" -> graft.queries.Relational.q112RfmSegments _,
        "q119" -> graft.queries.Relational.q119MadOutliers _,
        "q83" -> graft.queries.Relational.q83RankOutliers _,
        "q106" -> graft.queries.Relational.q106PercentileLadder _,
        "q129" -> graft.queries.StatsQueries.q129KeySkew _)) {
      val plan = fn(spark, sf).queryExecution.executedPlan
      val windows = plan.collect {
        case w: org.apache.spark.sql.execution.window.WindowExec => w
      }
      assert(windows.isEmpty, s"$name still plans a WindowExec")
    }
  }

  test("pickBoundaries holds the quantile target on duplicate keys (determineBounds contract)") {
    // RangePartitioner.determineBounds' duplicate-key rule: a target
    // crossed while the candidate equals the last emitted boundary is
    // NOT consumed — it waits for the next distinct key. A heavy key
    // spanning several quantile targets must cost ONE wide bucket, not
    // a cascade of silently merged ones.
    val ord = Ordering.by[Seq[Any], Int](_.head.asInstanceOf[Int])
    def k(i: Int): Seq[Any] = Seq(i)
    // 9 distinct light keys + one heavy key (weight 12 = 3 full
    // buckets' worth) in the middle; p = 8 buckets over total 21
    val sample: Seq[(Seq[Any], Double)] =
      (1 to 5).map(i => (k(i), 1.0)) ++ Seq((k(6), 12.0)) ++
        (7 to 10).map(i => (k(i), 1.0))
    val bs = graft.operators.GlobalRank
      .pickBoundaries(sample, ord, 8).map(_.head.asInstanceOf[Int])
    // strictly increasing, never more than p-1
    assert(bs == bs.sorted && bs.distinct == bs, s"boundaries $bs")
    assert(bs.size <= 7, s"boundaries $bs")
    // the heavy key consumes ONE boundary; the key right after it is
    // emitted for the next stale target instead of being skipped
    assert(bs.contains(6) && bs.contains(7), s"boundaries $bs")
    // degenerate: every sample identical -> at most one boundary
    val same = (1 to 20).map(_ => (k(5), 1.0))
    val one = graft.operators.GlobalRank.pickBoundaries(same, ord, 8)
    assert(one.size <= 1, s"duplicate-only sample gave $one")
  }
}
