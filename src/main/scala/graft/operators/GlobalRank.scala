package graft.operators

import scala.util.Random
import org.apache.spark.sql.{Column, DataFrame, GraftSqlBridge, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.hash.Murmur3_x86_32
import graft.Checkpoints._

/** Scale-safe replacements for the two global-total-order steps a
  * single-partition `Window.orderBy(...)` would otherwise pay — the one
  * plan shape in the catalog that cannot survive a 100× corpus (every
  * row funnels through ONE task's sort buffer).
  *
  * Two devices, both exact (not approximations):
  *
  *  1. [[withRowNumber]] / [[withRowNumbers]] — distributed total-order
  *     rank as a PURE PROJECTION over one hash exchange: sample the sort
  *     key ONCE on the driver (a bounded reservoir per input partition),
  *     freeze P−1 split tuples as literals, and derive each row's range
  *     bucket with a codegen'd lexicographic comparison against those
  *     literals. Because the bucket is a deterministic function of the
  *     row — unlike `repartitionByRange`, whose RangePartitioner
  *     re-samples split points with an RDD-id-seeded RNG on every job —
  *     the census job and the consuming job agree on partition contents
  *     BY CONSTRUCTION, and no materialization is needed to reconcile
  *     them (the input checkpoint below only saves work). Each bucket
  *     is then routed to its own partition through
  *     `repartition(p, label)` using a label chosen so Spark's Murmur3
  *     hash lands bucket b exactly on partition b (bijective —
  *     range-partition balance, hash-partition determinism; the
  *     `pmod(hash(x), p)` identity is pinned by spec).
  *     rank = bucket offset (an `element_at` over a ≤P-long literal
  *     array, from one map-side-combined census) + the low 33 bits of
  *     `monotonically_increasing_id()` over the sorted partition. No
  *     window, no join, no RDD round trip for data rows: over the
  *     materialized input the final plan is Exchange → Sort → Project.
  *
  *  2. [[topKBoundary]] — when only "is this row in the global top k?"
  *     is needed (selection, not ranking), a full sort is overkill:
  *     an ordered `limit(k)` (TakeOrderedAndProject: per-partition
  *     bounded heaps of ≤ k rows, merged on collect) yields the
  *     k-th order statistic, and membership becomes a broadcast-free
  *     comparison against that boundary literal. O(n) scan, O(k)
  *     state, zero shuffles of data rows.
  *
  * Contracts: sort keys must be non-null atomic orderable values (the
  * boundary literals and the driver-side sample ordering both compare
  * raw values), and should form a total order (give a unique tiebreak)
  * — ties rank in partition-sort order, like the window form's own tie
  * behavior. Each ranking entry point checkpoints its input once and
  * runs every pass (sample, census, rank, group census) over that
  * frame — separate jobs that would each re-run the upstream plan —
  * so callers pass plain plans. Eager checkpoint, not persist: q152 at
  * sf0.1 (min of 6) ran 1.15 s against 1.79 s for a lazy persist.
  */
object GlobalRank {

  private case class Key(col: Column, asc: Boolean)

  /** Split `.asc`/`.desc` sort Columns into (value column, direction);
    * bare columns default to ascending, as the window form does. */
  private def keysOf(sortExprs: Seq[Column]): Seq[Key] =
    sortExprs.map { c =>
      val (valueCol, asc) = GraftSqlBridge.sortKey(c)
      Key(valueCol, asc)
    }

  private def cmpAny(a: Any, b: Any): Int = (a, b) match {
    case (x: java.lang.Comparable[_], y: AnyRef) =>
      x.asInstanceOf[java.lang.Comparable[AnyRef]].compareTo(y)
    case _ => throw new IllegalArgumentException(
      s"GlobalRank keys must be non-null Comparable values, got ($a, $b)")
  }

  private def tupleOrdering(asc: Seq[Boolean]): Ordering[Seq[Any]] =
    (x: Seq[Any], y: Seq[Any]) => {
      var i = 0
      var r = 0
      while (r == 0 && i < asc.length) {
        val c = cmpAny(x(i), y(i))
        r = if (asc(i)) c else -c
        i += 1
      }
      r
    }

  /** One bounded-reservoir pass over `proj`: ~16·p sampled key tuples
    * to the driver (the same budget RangePartitioner spends; the only
    * data-path rows that ever leave Tungsten here). The pass sees every
    * row anyway, so it also returns the EXACT total count — callers use
    * it to size the bucket count and skip the census entirely when one
    * task can rank the whole relation. Each sampled tuple carries a
    * weight n_i/s_i (partition row count over rows kept), the
    * sample-and-reweight RangePartitioner's sketch uses: a fixed-size
    * reservoir from a 10M-row partition stands for more rows than one
    * from a 10k-row partition, and unweighted merging would bias the
    * quantiles toward the small partitions (ranks stay exact either
    * way — the boundaries only steer bucket BALANCE). */
  private def sampleTuples(proj: DataFrame, width: Int,
      p: Int): (Seq[(Seq[Any], Double)], Long) = {
    val rdd = proj.rdd
    val parts = math.max(rdd.getNumPartitions, 1)
    val perPart = math.max(64, (p * 16 + parts - 1) / parts)
    val perPartition = rdd.mapPartitionsWithIndex { (idx, it) =>
      val rnd = new Random(0x9e3779b97f4a7c15L ^ idx)
      val buf = new Array[Row](perPart)
      var n = 0L
      while (it.hasNext) {
        val r = it.next()
        if (n < perPart) buf(n.toInt) = r
        else {
          val j = (rnd.nextDouble() * (n + 1)).toLong
          if (j < perPart) buf(j.toInt) = r
        }
        n += 1
      }
      Iterator.single(
        (n, buf.take(math.min(n, perPart.toLong).toInt).toSeq))
    }.collect()
    val weighted = perPartition.toSeq.flatMap { case (n, rows) =>
      val w = if (rows.isEmpty) 0.0 else n.toDouble / rows.size
      rows.map(r => (Seq.tabulate(width)(r.get), w))
    }
    (weighted, perPartition.map(_._1).sum)
  }

  /** ≤ p−1 strictly increasing split tuples at even WEIGHTED sample
    * quantiles (weights from [[sampleTuples]]'s per-partition
    * reweighting). Duplicate-key handling mirrors Spark's
    * `RangePartitioner.determineBounds` (Partitioner.scala): a quantile
    * target is only CONSUMED when a boundary is actually emitted, so a
    * heavily duplicated key holds the target until the next distinct
    * tuple instead of silently dropping boundaries — heavy keys then
    * cost one wide bucket, not a cascade of merged ones (balance only;
    * ranks are exact regardless of boundary placement). */
  private[graft] def pickBoundaries(sample: Seq[(Seq[Any], Double)],
      ord: Ordering[Seq[Any]], p: Int): Seq[Seq[Any]] = {
    val sorted = sample.sortBy(_._1)(ord)
    if (sorted.isEmpty) return Seq.empty
    val total = sorted.iterator.map(_._2).sum
    val step = total / p
    val out = scala.collection.mutable.ArrayBuffer[Seq[Any]]()
    var cum = 0.0
    var target = step
    val it = sorted.iterator
    while (it.hasNext && out.size < p - 1) {
      val (t, w) = it.next()
      cum += w
      if (cum >= target && (out.isEmpty || ord.compare(out.last, t) < 0)) {
        out += t
        target += step
      }
    }
    out.toSeq
  }

  /** bucket = #boundaries strictly below this row's key tuple — a
    * codegen'd sum of lexicographic comparisons against literals,
    * monotone in the sort order by construction. The boundary constants
    * are [[graft.plans.StableLit]]s, NOT plain literals: boundary values
    * come from a row-order-dependent sample and change between runs, and
    * inlined primitives would make every run's generated source unique —
    * a codegen-cache miss plus a fresh JIT warm-up per run (r19: q82's
    * bimodal in-JVM reps traced to exactly this). StableLit routes the
    * value through the references array, so the source text — and the
    * compiled, JIT-warm class — is shared across runs. */
  private def bucketExpr(keys: Seq[Key], boundaries: Seq[Seq[Any]]): Column = {
    def gtBoundary(b: Seq[Any]): Column = {
      def rec(i: Int): Column = {
        val k = keys(i)
        val l = graft.plans.StableLit.column(b(i))
        val strict = if (k.asc) k.col > l else k.col < l
        if (i == keys.size - 1) strict
        else strict || (k.col === l && rec(i + 1))
      }
      rec(0)
    }
    boundaries.map(b => when(gtBoundary(b), 1).otherwise(0))
      .reduceOption(_ + _).getOrElse(lit(0))
  }

  /** For each bucket b < buckets, an int label x with
    * pmod(murmur3_32(x, 42), p) == b, so `repartition(p, label)` routes
    * bucket b exactly to shuffle partition b — range balance with a
    * deterministic hash exchange. The driver-side Murmur3_x86_32 here
    * and the Murmur3Hash Spark evaluates inside HashPartitioning are
    * the same function with the same seed (spec-pinned); the scan stops
    * after ~p·ln p probes (coupon collector), bounded by require. */
  private def partitionLabels(buckets: Int, p: Int): Array[Int] = {
    val found = new Array[Int](buckets)
    val have = new Array[Boolean](buckets)
    var needed = buckets
    var x = 0
    while (needed > 0) {
      require(x < (1 << 24), s"partitionLabels($buckets, $p): no convergence")
      val h = Murmur3_x86_32.hashInt(x, 42)
      val pid = ((h % p) + p) % p
      if (pid < buckets && !have(pid)) {
        found(pid) = x; have(pid) = true; needed -= 1
      }
      x += 1
    }
    found
  }

  /** Exact `row_number() OVER (ORDER BY sortExprs)` (1-based) without a
    * single-partition window — see the object scaladoc for the shape. */
  def withRowNumber(df: DataFrame, sortExprs: Seq[Column], out: String,
      numPartitions: Int = 0): DataFrame =
    withRowNumbersCounted(df, Seq(out -> sortExprs), numPartitions)._1

  /** [[withRowNumber]], also returning the relation's exact row count —
    * already paid for by the census, so rank-arithmetic callers (ntile
    * cuts, median selection) skip their own count job. */
  def withRowNumberCounted(df: DataFrame, sortExprs: Seq[Column],
      out: String, numPartitions: Int = 0): (DataFrame, Long) =
    withRowNumbersCounted(df, Seq(out -> sortExprs), numPartitions)

  /** Several exact global ranks over the same relation (q112's RFM
    * computes three), sharing ONE sample pass and ONE census pass; the
    * per-rank exchanges chain lazily inside the caller's terminal job.
    * `specs` = (output column, sort keys) per rank. */
  def withRowNumbers(df: DataFrame, specs: Seq[(String, Seq[Column])],
      numPartitions: Int = 0): DataFrame =
    withRowNumbersCounted(df, specs, numPartitions)._1

  /** Rows-per-task target for the adaptive partition count. Two
    * measured failure modes bound it: 32 one-task stages on a 15k-row
    * relation cost ~1.3 s of pure scheduling (so small relations must
    * collapse to one task), while ONE task sorting a 500k-row relation
    * serialized a 30 s ScaleBench run on one core (so mid-size
    * relations must fan out). 64k rows/task keeps a 15k-row aggregate
    * in one task, gives a 500k-row frame 8 parallel sorts, and clamps
    * to conf.numShufflePartitions — the operator-sized parallelism —
    * long before corpus scale. */
  private val RowsPerRankTask = 1L << 16

  /** [[withRowNumbers]] + the exact row count from the shared census. */
  def withRowNumbersCounted(df: DataFrame, specs: Seq[(String, Seq[Column])],
      numPartitions: Int = 0): (DataFrame, Long) = {
    val (_, ranked, total) = rank(df, specs, numPartitions)
    (ranked, total)
  }

  /** Checkpoints `input` once and runs the sample, census and rank
    * passes over it: (the materialized input, the ranked frame, the
    * exact row count). */
  private def rank(input: DataFrame, specs: Seq[(String, Seq[Column])],
      numPartitions: Int): (DataFrame, DataFrame, Long) = {
    require(specs.nonEmpty, "withRowNumbers: no rank specs")
    val df = input.localCheckpointAudited()
    val spark = df.sparkSession
    val conf = if (numPartitions > 0) numPartitions
      else spark.sessionState.conf.numShufflePartitions
    val allKeys = specs.map { case (_, se) => keysOf(se) }
    // one uniform row reservoir serves every spec: sample the union of
    // key columns, then slice each spec's tuple out of the sampled row
    val flat = allKeys.flatMap(_.map(_.col))
    val slices = allKeys.scanLeft(0)(_ + _.size)
    val (sample, total) = sampleTuples(df.select(flat: _*), flat.size, conf)
    // partition count sized from the MEASURED total: a small relation
    // ranks in one task (no boundaries, no census job) while a
    // corpus-sized one fans out to the session's shuffle parallelism;
    // an explicit numPartitions pins the count, for specs
    val p = if (numPartitions > 0) numPartitions
      else math.max(1L, math.min(conf.toLong,
        (total + RowsPerRankTask - 1) / RowsPerRankTask)).toInt
    val boundariesPerSpec: Seq[Seq[Seq[Any]]] = specs.indices.map { i =>
      val picked = pickBoundaries(
        sample.map { case (t, w) => (t.slice(slices(i), slices(i + 1)), w) },
        tupleOrdering(allKeys(i).map(_.asc)), p)
      // Pad to a FIXED arity of p−1 by repeating the last boundary
      // (r19): pickBoundaries can emit fewer splits when duplicated
      // keys hold a quantile target, and since the emitted count sets
      // the NUMBER of comparison branches in bucketExpr, a run-varying
      // count changes the generated source and re-pays janino + JIT
      // warm-up even with StableLit values (arity is outside what a
      // reference can stabilize). A repeated boundary is harmless for
      // EXACTNESS: bucket = #boundaries strictly below the key stays
      // monotone, the duplicate merely leaves an empty bucket whose
      // census count is 0 and whose offset collapses onto its
      // neighbor's. Balance is whatever the sample gave, as before.
      if (picked.isEmpty) picked
      else picked ++ Seq.fill(p - 1 - picked.size)(picked.last)
    }
    val bucketCols = specs.indices.map(i => s"_gr_bucket_$i")
    val bucketed = specs.indices.foldLeft(df) { (d, i) =>
      d.withColumn(bucketCols(i), bucketExpr(allKeys(i), boundariesPerSpec(i)))
    }
    // ONE census job for every spec: ≤ specs·p rows to the driver,
    // map-side combined (the explode is specs small structs per row).
    // With a single bucket everywhere the offsets are all zero and the
    // job is skipped outright.
    val census: Map[(Int, Int), Long] =
      if (boundariesPerSpec.forall(_.isEmpty)) Map.empty
      else {
        val censusCol = explode(array(specs.indices.map(i =>
          struct(lit(i).as("d"), col(bucketCols(i)).as("b"))): _*))
        bucketed.select(censusCol.as("x"))
          .groupBy(col("x.d").as("d"), col("x.b").as("b")).count()
          .collect().map(r => (r.getInt(0), r.getInt(1)) -> r.getLong(2))
          .toMap
      }
    val ranked = specs.indices.foldLeft(bucketed) { (d, i) =>
      val (outCol, sortExprs) = specs(i)
      val buckets = boundariesPerSpec(i).size + 1
      val labels = partitionLabels(buckets, p)
      val offsets = new Array[Long](buckets)
      var acc = 0L
      (0 until buckets).foreach { b =>
        offsets(b) = acc; acc += census.getOrElse((i, b), 0L)
      }
      d.withColumn("_gr_label",
          element_at(typedLit(labels.toSeq), col(bucketCols(i)) + 1))
        .repartition(p, col("_gr_label"))
        .sortWithinPartitions(sortExprs: _*)
        .withColumn(outCol,
          element_at(typedLit(offsets.toSeq), col(bucketCols(i)) + 1) +
            monotonically_increasing_id().bitwiseAND(lit((1L << 33) - 1)) +
            lit(1L))
        .drop("_gr_label")
    }
    (df, bucketCols.foldLeft(ranked)(_ drop _), total)
  }

  /** Exact `row_number() OVER (PARTITION BY groupCols ORDER BY
    * sortExprs)` for LOW-CARDINALITY groups — the skew regime where a
    * plain per-group window is a scale-killer (five market segments ⟹
    * one task buffering a fifth of all customers). Rank globally over
    * (groupCols asc, sortExprs) as [[withRowNumber]] does; groups are
    * contiguous under that order, so the group rank is the global rank
    * minus the group's offset — one map-side-combined group census,
    * collected IN SPARK'S OWN SORT ORDER (orderBy before collect — the
    * driver never compares keys, so UTF8-binary vs UTF-16 collation
    * divergence cannot misassign offsets) and broadcast back as a
    * ≤|groups|-row join that also carries each group's size in
    * `countOut` (when non-empty). High-cardinality group keys (users,
    * documents) should KEEP the plain window — their partitions are
    * bounded; this device is for the handful-of-groups censuses, and
    * it REFUSES more than [[GroupCensusCap]] distinct groups (the
    * census is a driver collect: a user_id-grade key here would be a
    * driver OOM, so the misuse fails loud instead). The guard itself
    * is collect-bounded — the census is fetched through a
    * `limit(cap + 1)` (TakeOrderedAndProject), so even the failing
    * path ships at most cap + 1 rows to the driver. */
  val GroupCensusCap = 1000

  def withGroupRowNumber(df: DataFrame, groupCols: Seq[String],
      sortExprs: Seq[Column], out: String, countOut: String = "",
      numPartitions: Int = 0): DataFrame = {
    require(groupCols.nonEmpty, "withGroupRowNumber: no group columns")
    val keys = groupCols.map(col(_).asc) ++ sortExprs
    val (m, ranked, _) = rank(df, Seq(out -> keys), numPartitions)
    val censusRows = m.groupBy(groupCols.map(col): _*).count()
      .orderBy(groupCols.map(col(_).asc): _*)
      .limit(GroupCensusCap + 1)
      .collect()
    require(censusRows.length <= GroupCensusCap,
      s"withGroupRowNumber: over $GroupCensusCap distinct groups on " +
        s"(${groupCols.mkString(", ")}) — this device is for " +
        "handful-of-groups regimes; use a plain per-group window for " +
        "high-cardinality keys (their partitions are bounded)")
    var acc = 0L
    val offRows = censusRows.map { r =>
      val c = r.getLong(groupCols.size)
      val o = acc; acc += c
      Row.fromSeq(r.toSeq.dropRight(1) ++ Seq(o, c))
    }
    val spark = df.sparkSession
    val censusSchema = org.apache.spark.sql.types.StructType(
      df.select(groupCols.map(col): _*).schema.fields.toSeq ++ Seq(
        org.apache.spark.sql.types.StructField("_gr_goff",
          org.apache.spark.sql.types.LongType, nullable = false),
        org.apache.spark.sql.types.StructField("_gr_gcnt",
          org.apache.spark.sql.types.LongType, nullable = false)))
    val offDf = spark.createDataFrame(
      java.util.Arrays.asList(offRows: _*), censusSchema)
    val joined = ranked.join(broadcast(offDf), groupCols)
      .withColumn(out, col(out) - col("_gr_goff"))
    (if (countOut.nonEmpty) joined.withColumn(countOut, col("_gr_gcnt"))
     else joined).drop("_gr_goff", "_gr_gcnt")
  }

  /** The k-th largest (key, tie) pair under (key DESC, tie ASC) — the
    * exact boundary of the global top-k set. Returns None when the
    * relation has fewer than k rows (then everything is in the top k).
    *
    * `df` must have exactly two columns: a numeric key castable to
    * double and a long tiebreak, in that order. The ordered `limit(k)`
    * plans as TakeOrderedAndProject: each partition keeps a bounded
    * k-row heap and collect merges them, so at most k rows per
    * partition leave the executors.
    */
  def topKBoundary(df: DataFrame, k: Int): Option[(Double, Long)] = {
    import org.apache.spark.sql.functions.col
    require(k > 0, s"topKBoundary: k must be positive, got $k")
    val top = df
      .select(col(df.columns(0)).cast("double").as("key"),
        col(df.columns(1)).cast("long").as("tie"))
      .orderBy(col("key").desc, col("tie").asc).limit(k).collect()
    if (top.length < k) None else Some((top.last.getDouble(0), top.last.getLong(1)))
  }
}
