package graft.queries

import graft.Checkpoints._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.functions.TextFunctions.whitespaceTokens
import graft.operators.Sketches

/** Sketch and chunking queries: HyperLogLog distinct (q64), bloom-filter
  * membership pre-filter (q65), and fixed-window document chunking with
  * stride (q57). All three are fully oracle-checked — the sketches'
  * md5-integer discipline (see Sketches.scala) makes even the
  * "approximate" estimates bit-reproducible in DuckDB.
  */
object SketchQueries {

  // ---------------------------------------------------------------- q57
  /** Fixed-window chunking with overlap — the inverse of q54's packing:
    * long documents become (chunk_len=32, stride=24)-token windows, the
    * standard preprocessing for embedding models / RAG indexing where a
    * doc exceeds the encoder's context. Pure per-row explode: no
    * shuffle at all until the presentation sort, so at 100 TB it is one
    * narrow pass whose output feeds the embedding stage directly. The
    * last window keeps its natural short length (no padding) and a doc
    * shorter than one window emits exactly one chunk. */
  val ChunkLen = 32
  val ChunkStride = 24

  def q57DocChunk(spark: SparkSession, dir: String): DataFrame = {
    // integer ceil-division: DIV keeps both engines in exact long math
    val nChunks = expr(s"(greatest(size(toks) - $ChunkLen, 0)" +
      s" + ${ChunkStride - 1}) DIV $ChunkStride + 1")
    val start = (col("chunk_id") * ChunkStride).cast("int")
    Tables(spark, dir).documents
      .select(col("doc_id"), whitespaceTokens(col("text")).as("toks"))
      .select(col("doc_id"), col("toks"),
        explode(sequence(lit(0L), nChunks - 1L)).as("chunk_id"))
      .select(col("doc_id"), col("chunk_id"),
        slice(col("toks"), start + 1, lit(ChunkLen)).as("chunk"))
      .select(col("doc_id"), col("chunk_id"),
        size(col("chunk")).cast("long").as("n_tokens"),
        array_join(col("chunk"), " ").as("chunk_text"))
      .orderBy("doc_id", "chunk_id")
  }

  /** `(greatest(n−len,0) + stride−1) // stride + 1` = number of stride
    * steps to cover the tail, +1 for the first window — same integer
    * form in both engines. DuckDB list slice `l[a:b]` is 1-based
    * end-INCLUSIVE and clamps past the end, matching Spark's
    * `slice(l, a, len)` for `b = a + len − 1`. */
  val q57Sql: String =
    s"""WITH t AS (
       |  SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
       |n AS (
       |  SELECT doc_id, toks, CAST(len(toks) AS BIGINT) AS n FROM t),
       |c AS (
       |  SELECT doc_id, toks,
       |    unnest(range(0,
       |      (greatest(n - $ChunkLen, 0) + ${ChunkStride - 1}) // $ChunkStride
       |        + 1)) AS chunk_id
       |  FROM n)
       |SELECT doc_id, chunk_id,
       |  CAST(len(toks[chunk_id * $ChunkStride + 1 :
       |    chunk_id * $ChunkStride + $ChunkLen]) AS BIGINT) AS n_tokens,
       |  array_to_string(toks[chunk_id * $ChunkStride + 1 :
       |    chunk_id * $ChunkStride + $ChunkLen], ' ') AS chunk_text
       |FROM c ORDER BY doc_id, chunk_id""".stripMargin

  // ---------------------------------------------------------------- q64
  /** HLL distinct parts per return flag, next to the exact count the
    * small SF can still afford. At 100 TB the exact branch is the one
    * that dies (it shuffles every distinct value); the HLL branch
    * shuffles ≤ 3×256 register rows after map-side combine. The
    * estimate itself is oracle-checked bit-for-bit — registers are
    * exact integers, see Sketches.hllDistinct. */
  def q64HllDistinct(spark: SparkSession, dir: String): DataFrame = {
    // FUSED single pipeline (r17 duel, -11/-14% median at 1x/10x over
    // the r8-16 shape): the register aggregation over the deduped
    // pairs carries count(*) per bucket and the estimate pass sums it
    // back into the exact count — which deletes the localCheckpoint
    // materialization job, the second aggregation branch, and the join
    // the old dedup->checkpoint->{hll,exact}->join form paid. Output
    // bit-identical (register max is idempotent; SketchesSpec pins the
    // equality). Remaining gap to DuckDB's 0.3 s exact-distinct is the
    // documented floor — see ARCHITECTURE.md's q64 decomposition.
    Sketches.hllDistinctExact(Tables(spark, dir).lineitem,
        col("l_partkey"), Seq("l_returnflag"))
      .select(col("l_returnflag"), col("hll_distinct"),
        col("hll_buckets_used"), col("exact_distinct"),
        round(abs(col("hll_distinct") - col("exact_distinct")) /
          col("exact_distinct").cast("double"), 4).as("rel_err"))
      .orderBy("l_returnflag")
  }

  val q64Sql: String = {
    val m = Sketches.HllBuckets
    s"""WITH h AS (
       |  SELECT l_returnflag,
       |    CAST(('0x' || substr(md5('hll|' || CAST(l_partkey AS VARCHAR)), 1, 15))
       |      AS BIGINT) AS h
       |  FROM lineitem),
       |r AS (
       |  SELECT l_returnflag, h % $m AS bucket,
       |    max(CASE WHEN h // $m = 0 THEN 53
       |        ELSE 53 - length(bin(h // $m)) END) AS m
       |  FROM h GROUP BY 1, 2),
       |filled AS (
       |  SELECT g.l_returnflag, b.bucket, coalesce(r.m, 0) AS m
       |  FROM (SELECT DISTINCT l_returnflag FROM h) g
       |  CROSS JOIN range(0, $m) b(bucket)
       |  LEFT JOIN r ON r.l_returnflag = g.l_returnflag AND r.bucket = b.bucket),
       |agg AS (
       |  SELECT l_returnflag,
       |    sum(CAST(1 AS BIGINT) << (53 - m)) AS s,
       |    sum(CASE WHEN m = 0 THEN 1 ELSE 0 END) AS zeros,
       |    CAST(sum(CASE WHEN m > 0 THEN 1 ELSE 0 END) AS BIGINT)
       |      AS hll_buckets_used
       |  FROM filled GROUP BY 1),
       |est AS (
       |  SELECT l_returnflag, hll_buckets_used,
       |    round(CASE WHEN ${Sketches.HllAlphaScaled} / CAST(s AS DOUBLE)
       |                    <= ${2.5 * m} AND zeros > 0
       |      THEN CAST($m AS DOUBLE) * ln(CAST($m AS DOUBLE) / CAST(zeros AS DOUBLE))
       |      ELSE ${Sketches.HllAlphaScaled} / CAST(s AS DOUBLE) END, 4)
       |      AS hll_distinct
       |  FROM agg),
       |exact AS (
       |  SELECT l_returnflag,
       |    CAST(count(DISTINCT l_partkey) AS BIGINT) AS exact_distinct
       |  FROM lineitem GROUP BY 1)
       |SELECT e.l_returnflag, hll_distinct, hll_buckets_used, exact_distinct,
       |  round(abs(hll_distinct - exact_distinct) / CAST(exact_distinct AS DOUBLE), 4)
       |    AS rel_err
       |FROM est e JOIN exact USING (l_returnflag)
       |ORDER BY l_returnflag""".stripMargin
  }

  // --------------------------------------------------------------- q143
  /** Persisted-sketch lifecycle: BUILD q64's HLL registers once
    * (Sketches.hllRegistersWrite — a ≤ groups×256-row parquet artifact,
    * whatever the corpus size), READ the artifact back, and answer the
    * distinct-count question from it (hllEstimateRegisters) — the
    * estimate hash-matches q64's oracle because registers are exact
    * integers and persistence is identity. This is the shape a 100 TB
    * deployment actually runs: per-split register artifacts
    * materialized once (per day/shard/source), any union answered by
    * max-merge + estimate without ever rescanning rows; the exact
    * countDistinct branch here exists only to oracle-check the
    * artifact's error, same as q64. */
  def q143HllIndexPersist(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables(spark, dir).lineitem
    val path = graft.sources.TempDirs
      .create("graft-hll-regs").toString + "/registers"
    Sketches.hllRegistersWrite(
      Sketches.hllRegisters(li, col("l_partkey"), Seq("l_returnflag")), path)
    val regs = Sketches.hllRegistersRead(spark, path)
    val hll = Sketches.hllEstimateRegisters(regs, Seq("l_returnflag"))
    val exact = li.groupBy("l_returnflag")
      .agg(countDistinct("l_partkey").as("exact_distinct"))
    hll.join(exact, Seq("l_returnflag"))
      .select(col("l_returnflag"), col("hll_distinct"),
        col("hll_buckets_used"), col("exact_distinct"),
        round(abs(col("hll_distinct") - col("exact_distinct")) /
          col("exact_distinct").cast("double"), 4).as("rel_err"))
      .orderBy("l_returnflag")
  }

  /** Persistence is identity: the oracle IS q64's. */
  val q143Sql: String = q64Sql

  // ---------------------------------------------------------------- q65
  /** Bloom pre-filtered membership census: large parts (p_size ≥ 45)
    * form the build side; every lineitem row is bloom-probed and then
    * exactly verified, and the query reports the confusion counts. The
    * interesting row is `n_false_neg = 0` (structural bloom guarantee,
    * now oracle-checked) and a measured false-positive count. In a real
    * pipeline the bloom gate drops ~90% of probe rows before the exact
    * join ever shuffles; here both branches run to census the filter
    * itself. (For pure perf Spark's AQE runtime bloom filter does this
    * automatically — this operator is the portable, auditable form.) */
  def q65BloomSemijoin(spark: SparkSession, dir: String): DataFrame = {
    val t = Tables(spark, dir)
    val build = t.part.filter(col("p_size") >= 45).select("p_partkey")
    val filter = Sketches.bloomBuild(build, col("p_partkey"))
    val probed = Sketches.bloomProbe(
      t.lineitem.select("l_orderkey", "l_linenumber", "l_partkey"),
      col("l_partkey"), filter)
    val withTruth = probed.join(
      broadcast(build.select(col("p_partkey"), lit(true).as("_present"))),
      col("l_partkey") === col("p_partkey"), "left")
      .withColumn("present", col("_present").isNotNull)
    withTruth.agg(
      count(lit(1)).as("n_probe"),
      sum(when(col("bloom_pass"), 1L).otherwise(0L)).as("n_pass"),
      sum(when(col("present"), 1L).otherwise(0L)).as("n_present"),
      sum(when(col("bloom_pass") && !col("present"), 1L).otherwise(0L))
        .as("n_false_pos"),
      sum(when(col("present") && !col("bloom_pass"), 1L).otherwise(0L))
        .as("n_false_neg"))
  }

  val q65Sql: String = {
    val m = Sketches.BloomBits
    // hash i reads hex digits [8i+1, 8i+8] of ONE md5 per key — must
    // mirror Sketches.bloomSlices digit-for-digit
    s"""WITH build AS (
       |  SELECT p_partkey FROM part WHERE p_size >= 45),
       |pos AS (
       |  SELECT DISTINCT
       |    CAST(('0x' || substr(md5('bloom|' || CAST(p_partkey AS VARCHAR)),
       |      1 + 8 * i, 8)) AS BIGINT) % $m AS pos
       |  FROM build, range(0, ${Sketches.BloomHashes}) t(i)),
       |ph AS (
       |  SELECT l_partkey,
       |${(0 until Sketches.BloomHashes).map(i =>
        s"    CAST(('0x' || substr(md5('bloom|' || CAST(l_partkey AS VARCHAR)), ${8 * i + 1}, 8)) AS BIGINT) % $m AS pp$i")
        .mkString("", ",\n", "")}
       |  FROM lineitem),
       |f AS (
       |  SELECT ${(0 until Sketches.BloomHashes)
        .map(i => s"pp$i IN (SELECT pos FROM pos)").mkString(" AND ")}
       |      AS bloom_pass,
       |    l_partkey IN (SELECT p_partkey FROM build) AS present
       |  FROM ph)
       |SELECT CAST(count(*) AS BIGINT) AS n_probe,
       |  CAST(sum(CASE WHEN bloom_pass THEN 1 ELSE 0 END) AS BIGINT) AS n_pass,
       |  CAST(sum(CASE WHEN present THEN 1 ELSE 0 END) AS BIGINT) AS n_present,
       |  CAST(sum(CASE WHEN bloom_pass AND NOT present THEN 1 ELSE 0 END)
       |    AS BIGINT) AS n_false_pos,
       |  CAST(sum(CASE WHEN present AND NOT bloom_pass THEN 1 ELSE 0 END)
       |    AS BIGINT) AS n_false_neg
       |FROM f""".stripMargin
  }

  // ---------------------------------------------------------------- q66
  /** Histogram-quantile sketch: p50/p90/p99 of l_extendedprice per
    * return flag from a fixed-width histogram — the mergeable quantile
    * sketch. An exact distributed quantile needs a global sort (or
    * per-group collect); the histogram needs ONE map-side-combined
    * shuffle of ≤ groups×bins count rows, mergeable across any data
    * split, which is what a 100 TB percentile dashboard runs. Within-bin
    * linear interpolation; error bounded by bin width. Every arithmetic
    * step (floor-div binning, integer cumulative counts, `lo +
    * width·(t−cb)/c` with a single rounding per op in fixed order) is
    * reproduced by the oracle, so the ESTIMATE hash-matches, not just
    * sane-matches. */
  val HistWidth = 100.0 // dollars per bin; prices ~[900, 105k) → ~1k bins
  val HistQuantiles: Seq[Double] = Seq(0.5, 0.9, 0.99)

  def q66QuantileSketch(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val li = Tables(spark, dir).lineitem
    val hist = li
      .groupBy(col("l_returnflag"),
        floor(col("l_extendedprice") / HistWidth).as("bin"))
      .agg(count(lit(1)).as("c"))
    val w = Window.partitionBy("l_returnflag").orderBy("bin")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cum = hist
      .withColumn("cum", sum("c").over(w))
      .withColumn("n", sum("c").over(Window.partitionBy("l_returnflag")))
    cum.crossJoin(
      spark.range(1).select(explode(array(HistQuantiles.map(lit): _*)).as("q")))
      .withColumn("target", floor(col("q") * col("n")) + 1)
      .filter(col("cum") >= col("target") &&
        col("cum") - col("c") < col("target"))
      .select(col("l_returnflag"), col("q"),
        (col("bin") * HistWidth +
          (lit(HistWidth) * (col("target") - (col("cum") - col("c")))) /
            col("c")).as("quantile_est"),
        col("n").as("n_rows"))
      .orderBy("l_returnflag", "q")
  }

  val q66Sql: String = {
    // CAST each q: a bare 0.9 parses as DECIMAL in DuckDB, and decimal
    // q*n would floor differently from Spark's IEEE double product
    val qs = HistQuantiles.map(q => s"CAST($q AS DOUBLE)").mkString(", ")
    s"""WITH hist AS (
       |  SELECT l_returnflag, floor(l_extendedprice / $HistWidth) AS bin,
       |    count(*) AS c
       |  FROM lineitem GROUP BY 1, 2),
       |cum AS (
       |  SELECT l_returnflag, bin, c,
       |    sum(c) OVER (PARTITION BY l_returnflag ORDER BY bin
       |      ROWS UNBOUNDED PRECEDING) AS cum,
       |    sum(c) OVER (PARTITION BY l_returnflag) AS n
       |  FROM hist),
       |t AS (
       |  SELECT cum.*, q, floor(q * n) + 1 AS target
       |  FROM cum CROSS JOIN (SELECT unnest([$qs]) AS q) qq)
       |SELECT l_returnflag, q,
       |  bin * $HistWidth + ($HistWidth * (target - (cum - c))) / c
       |    AS quantile_est,
       |  CAST(n AS BIGINT) AS n_rows
       |FROM t
       |WHERE cum >= target AND cum - c < target
       |ORDER BY l_returnflag, q""".stripMargin
  }

  // ---------------------------------------------------------------- q67
  /** Count-min frequency census: corpus token counts estimated from a
    * d×w sketch, probed for every distinct token of the first five
    * documents, next to the exact counts. The sketch is the mergeable
    * ≤ d·w-row artifact a 100 TB frequency service ships (the exact
    * branch shuffles every distinct token and exists here as the
    * yardstick). The structural law `cm_count ≥ exact_count` (CMS never
    * undercounts) is part of the oracle-checked output. */
  def q67CountMin(spark: SparkSession, dir: String): DataFrame = {
    val toks = Tables(spark, dir).documents
      .select(col("doc_id"), explode(whitespaceTokens(col("text"))).as("token"))
    val sketch = Sketches.countMinBuild(toks, col("token"))
    val probes = toks.filter(col("doc_id") < 5).select("token").distinct()
    val exact = toks.groupBy("token").agg(count(lit(1)).as("exact_count"))
    Sketches.countMinProbe(probes, col("token"), sketch)
      .join(exact, Seq("token"))
      .select(col("token"), col("cm_count"), col("exact_count"),
        (col("cm_count") - col("exact_count")).as("overcount"))
      .orderBy("token")
  }

  // --------------------------------------------------------------- q144
  /** Persisted count-min lifecycle: q67's sketch built once, written as
    * a ≤ d·w-row parquet artifact (Sketches.countMinWrite), read back,
    * and probed — completing the persisted-sketch trio next to q142
    * (PQ index) and q143 (HLL registers). The probe collects the
    * ARTIFACT (not the corpus) into the d×w literal and runs as a pure
    * projection, so a later session answers frequency queries without
    * the build scan; the exact-count yardstick here exists only for
    * the oracle's never-undercounts law, same as q67. */
  def q144CmsIndexPersist(spark: SparkSession, dir: String): DataFrame = {
    val toks = Tables(spark, dir).documents
      .select(col("doc_id"), explode(whitespaceTokens(col("text"))).as("token"))
    val path = graft.sources.TempDirs
      .create("graft-cms").toString + "/sketch"
    Sketches.countMinWrite(Sketches.countMinBuild(toks, col("token")), path)
    val sketch = Sketches.countMinRead(spark, path)
    val probes = toks.filter(col("doc_id") < 5).select("token").distinct()
    val exact = toks.groupBy("token").agg(count(lit(1)).as("exact_count"))
    Sketches.countMinProbe(probes, col("token"), sketch)
      .join(exact, Seq("token"))
      .select(col("token"), col("cm_count"), col("exact_count"),
        (col("cm_count") - col("exact_count")).as("overcount"))
      .orderBy("token")
  }

  val q67Sql: String = {
    val d = Sketches.CmDepth; val w = Sketches.CmWidth
    // row r reads hex digits [8r+1, 8r+8] of ONE md5 per value — must
    // mirror Sketches.cmHashes digit-for-digit
    def h(r: String, v: String) =
      s"CAST(('0x' || substr(md5('cm|' || $v), 1 + 8 * ($r), 8)) AS BIGINT) % $w"
    s"""WITH t AS (
       |  SELECT doc_id, unnest(string_split(text, ' ')) AS token
       |  FROM documents),
       |s AS (
       |  SELECT r, ${h("r", "token")} AS col,
       |    count(*) AS c
       |  FROM t, range(0, $d) rr(r) GROUP BY 1, 2),
       |p AS (
       |  SELECT DISTINCT token FROM t WHERE doc_id < 5),
       |ph AS (
       |  SELECT token, r, ${h("r", "token")} AS col
       |  FROM p, range(0, $d) rr(r)),
       |est AS (
       |  SELECT ph.token, min(coalesce(s.c, 0)) AS cm_count
       |  FROM ph LEFT JOIN s ON s.r = ph.r AND s.col = ph.col
       |  GROUP BY 1),
       |exact AS (
       |  SELECT token, count(*) AS exact_count FROM t GROUP BY 1)
       |SELECT token, CAST(cm_count AS BIGINT) AS cm_count,
       |  CAST(exact_count AS BIGINT) AS exact_count,
       |  CAST(cm_count - exact_count AS BIGINT) AS overcount
       |FROM est JOIN exact USING (token)
       |ORDER BY token""".stripMargin
  }

  // ---------------------------------------------------------------- q71
  /** Sketch-gated exact heavy hitters: every l_partkey with ≥ T
    * occurrences, with its EXACT count — found without ever shuffling
    * the full key space. Two passes: (1) build the d×w count-min census
    * (map-side combined, ≤ d·w-row broadcast artifact); (2) re-scan,
    * probe each occurrence against the broadcast sketch (d broadcast
    * joins — narrow, no shuffle), keep only rows whose estimate clears
    * T, and exact-count just those. CMS never undercounts, so the gate
    * passes a SUPERSET of the true heavy keys (the sf0.01 run has 2000
    * keys vs w=1024 counters — collisions guarantee real false
    * positives exercising the gate) and the exact filter then makes the
    * output exact. At 100 TB this is the frequent-URLs / hot-tokens
    * pattern: the only shuffle is the gated occurrences (heavy
    * candidates), not the full distinct-key space — vocabulary can be
    * billions of keys, the shuffle stays proportional to the heavies.
    * Output is exact → the oracle is plain GROUP BY/HAVING, and the
    * deterministic cm_count column doubles as a check that the gate
    * itself matches the oracle's sketch arithmetic. */
  val HhThreshold = 40L

  def q71HeavyHitters(spark: SparkSession, dir: String): DataFrame = {
    val keys = Tables(spark, dir).lineitem.select("l_partkey")
    val sketch = Sketches.countMinBuild(keys, col("l_partkey"))
    // Gate WITHOUT carrying cm_count through the shuffle: a carried
    // column gets its defining expression duplicated when Catalyst
    // pushes the gate predicate back through the projection (measured:
    // the gate stage ran the whole md5 probe twice, 3.3 s vs 1.7 s).
    // cm_count is a pure function of the key, so it is re-derived on
    // the handful of post-aggregation survivors instead — per-row work
    // once over the data, per-KEY work once over the candidates.
    val litS = Sketches.countMinLiteral(sketch)
    def cm = Sketches.countMinEstimate(litS, col("l_partkey"))
    keys.filter(cm >= HhThreshold)
      .groupBy("l_partkey").agg(count(lit(1)).as("exact_count"))
      .filter(col("exact_count") >= HhThreshold)
      .select(col("l_partkey"), cm.as("cm_count"), col("exact_count"))
      .orderBy(desc("exact_count"), col("l_partkey"))
  }

  val q71Sql: String = {
    val d = Sketches.CmDepth; val w = Sketches.CmWidth
    // same single-digest slicing as q67 / Sketches.cmHashes
    def h(r: String, v: String) =
      s"CAST(('0x' || substr(md5('cm|' || $v), 1 + 8 * ($r), 8)) AS BIGINT) % $w"
    s"""WITH s AS (
       |  SELECT r, ${h("r", "CAST(l_partkey AS VARCHAR)")} AS col,
       |    count(*) AS c
       |  FROM lineitem, range(0, $d) rr(r) GROUP BY 1, 2),
       |ph AS (
       |  SELECT l_partkey, r,
       |    ${h("r", "CAST(l_partkey AS VARCHAR)")} AS col
       |  FROM (SELECT DISTINCT l_partkey FROM lineitem), range(0, $d) rr(r)),
       |est AS (
       |  SELECT ph.l_partkey, min(coalesce(s.c, 0)) AS cm_count
       |  FROM ph LEFT JOIN s ON s.r = ph.r AND s.col = ph.col
       |  GROUP BY 1),
       |exact AS (
       |  SELECT l_partkey, count(*) AS exact_count FROM lineitem GROUP BY 1)
       |SELECT l_partkey, CAST(cm_count AS BIGINT) AS cm_count,
       |  CAST(exact_count AS BIGINT) AS exact_count
       |FROM est JOIN exact USING (l_partkey)
       |WHERE cm_count >= $HhThreshold AND exact_count >= $HhThreshold
       |ORDER BY exact_count DESC, l_partkey""".stripMargin
  }

  // ---------------------------------------------------------------- q72
  /** HLL register merge: per-return-flag register sets max-merged into
    * a global 'ALL' scope WITHOUT rescanning the data — the operation
    * that makes HLL the 100 TB distinct-count currency. A pipeline
    * materializes per-split sketches once (per day, per shard, even per
    * engine — the artifact is 256 small integers with a documented
    * hash), and any union is answered from the sketches alone: the
    * register for a value is a pure function of the value, so max-merge
    * of split registers IS the union's register set, and the merged
    * estimate is BIT-IDENTICAL to a direct sketch of the union (no
    * epsilon — HllMergeSpec pins it; here the oracle recomputes the
    * same merge in SQL and the hashes must match). Output: one row per
    * flag scope plus the merged ALL row, each next to its exact
    * distinct count and relative error. */
  def q72HllMerge(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables(spark, dir).lineitem
    // ONE lineitem scan: the staged distinct (flag, partkey) pairs feed
    // the register build AND both exact yardsticks (round-8 rescanned
    // lineitem four times for the same answers). Round-15 reshaped the
    // estimate side to the ORACLE's own form — union the per-flag
    // register frame with its 'ALL' relabeling, ONE merge agg, ONE
    // estimate agg — replacing the separate flagEst/allEst branches +
    // a 768-row localCheckpoint (duel in `git show d1198c1:tools/Q72Duel.scala`: min
    // 1.014 → 0.852 s at sf0.1, all variants bit-identical; the
    // per-flag scopes pass through the merge untouched because
    // (flag, bucket) rows are already unique, so max is the identity).
    // perFlag is NOT checkpointed: its two union consumers re-run a
    // map-side-combined agg over the checkpointed d, which measured
    // cheaper than the eager materialization it replaced.
    val d = li.select(col("l_returnflag"), col("l_partkey"))
      .distinct().localCheckpointAudited()
    val perFlag = Sketches.hllRegisters(d, col("l_partkey"), Seq("l_returnflag"))
    val regs = perFlag.select(col("l_returnflag").as("scope"),
        col("__hll_bucket"), col("__hll_m"))
      .unionByName(perFlag.select(lit("ALL").as("scope"),
        col("__hll_bucket"), col("__hll_m")))
    val est = Sketches.hllEstimateRegisters(
      Sketches.hllMergeRegisters(regs, Seq("scope")), Seq("scope"))
    val exact = d.groupBy(col("l_returnflag").as("scope"))
      .agg(count(lit(1)).as("exact_distinct"))
      .unionByName(d.select("l_partkey").distinct()
        .agg(count(lit(1)).as("exact_distinct"))
        .select(lit("ALL").as("scope"), col("exact_distinct")))
    est.join(exact, Seq("scope"))
      .select(col("scope"), col("hll_distinct"), col("hll_buckets_used"),
        col("exact_distinct"),
        round(abs(col("hll_distinct") - col("exact_distinct")) /
          col("exact_distinct").cast("double"), 4).as("rel_err"))
      .orderBy("scope")
  }

  /** Mirrors the arithmetic empty-register reconstruction of
    * `hllEstimateRegisters` (l_partkey is non-null, so the null-bucket
    * guards are vacuous): s and zeros are derived from the PRESENT
    * registers plus the count of absent ones — no 256-row fill frame in
    * either engine. */
  val q72Sql: String = {
    val m = Sketches.HllBuckets
    s"""WITH h AS (
       |  SELECT l_returnflag,
       |    CAST(('0x' || substr(md5('hll|' || CAST(l_partkey AS VARCHAR)), 1, 15))
       |      AS BIGINT) AS h
       |  FROM lineitem),
       |r AS (
       |  SELECT l_returnflag AS scope, h % $m AS bucket,
       |    max(CASE WHEN h // $m = 0 THEN 53
       |        ELSE 53 - length(bin(h // $m)) END) AS m
       |  FROM h GROUP BY 1, 2),
       |regs AS (
       |  SELECT * FROM r
       |  UNION ALL
       |  SELECT 'ALL' AS scope, bucket, max(m) AS m FROM r GROUP BY 2),
       |agg AS (
       |  SELECT scope,
       |    sum(CAST(1 AS BIGINT) << (53 - m))
       |      + (CAST($m AS BIGINT) - count(*)) * (CAST(1 AS BIGINT) << 53) AS s,
       |    sum(CASE WHEN m = 0 THEN 1 ELSE 0 END)
       |      + (CAST($m AS BIGINT) - count(*)) AS zeros,
       |    CAST(sum(CASE WHEN m > 0 THEN 1 ELSE 0 END) AS BIGINT)
       |      AS hll_buckets_used
       |  FROM regs GROUP BY 1),
       |est AS (
       |  SELECT scope, hll_buckets_used,
       |    round(CASE WHEN ${Sketches.HllAlphaScaled} / CAST(s AS DOUBLE)
       |                    <= ${2.5 * m} AND zeros > 0
       |      THEN CAST($m AS DOUBLE) * ln(CAST($m AS DOUBLE) / CAST(zeros AS DOUBLE))
       |      ELSE ${Sketches.HllAlphaScaled} / CAST(s AS DOUBLE) END, 4)
       |      AS hll_distinct
       |  FROM agg),
       |exact AS (
       |  SELECT l_returnflag AS scope,
       |    CAST(count(DISTINCT l_partkey) AS BIGINT) AS exact_distinct
       |  FROM lineitem GROUP BY 1
       |  UNION ALL
       |  SELECT 'ALL', CAST(count(DISTINCT l_partkey) AS BIGINT)
       |  FROM lineitem)
       |SELECT e.scope, hll_distinct, hll_buckets_used, exact_distinct,
       |  round(abs(hll_distinct - exact_distinct) / CAST(exact_distinct AS DOUBLE), 4)
       |    AS rel_err
       |FROM est e JOIN exact USING (scope)
       |ORDER BY scope""".stripMargin
  }

  // --------------------------------------------------------------- q135
  /** Cumulative distinct-user growth from DAILY HLL sketches — the
    * sketch-artifact twin of q127's exact first-occurrence curve, and
    * the pattern a 100 TB pipeline actually runs: per-day registers are
    * materialized ONCE (≤ days×256 rows however many events the day
    * held), and the curve for any day is answered from the artifacts
    * alone by prefix max-merge — no rescan of history, ever. The
    * prefix merge joins the ≤days-row day list against the ≤days×256
    * register relation (register-space work, independent of event
    * count); estimates then come from the shared arithmetic
    * reconstruction, next to the exact curve for measured rel_err. */
  def q135HllGrowth(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables(spark, dir).events
      .select(col("user_id"), expr("ts_ns DIV 86400000000000").as("day"))
    val daily = Sketches.hllRegisters(ev, col("user_id"), Seq("day"))
    val days = daily.select(col("day").as("as_of_day")).distinct()
    val cum = days.join(broadcast(daily), col("day") <= col("as_of_day"))
      .groupBy(col("as_of_day"), col("__hll_bucket"))
      .agg(max("__hll_m").as("__hll_m"))
    val est = Sketches.hllEstimateRegisters(cum, Seq("as_of_day"))
      .withColumnRenamed("hll_distinct", "hll_cum_users")
    val exact = {
      val firstDay = ev.groupBy("user_id").agg(min("day").as("day"))
        .groupBy("day").agg(count(lit(1)).as("n_new"))
      days.join(broadcast(firstDay), col("day") <= col("as_of_day"))
        .groupBy("as_of_day").agg(sum("n_new").as("exact_cum_users"))
    }
    est.join(exact, "as_of_day")
      .select(col("as_of_day"), col("hll_cum_users"),
        col("hll_buckets_used"), col("exact_cum_users"),
        round(abs(col("hll_cum_users") - col("exact_cum_users")) /
          col("exact_cum_users").cast("double"), 4).as("rel_err"))
      .orderBy("as_of_day")
  }

  /** Oracle mirrors the register recipe (q64/q72's md5 discipline), the
    * register-space prefix merge, and the arithmetic empty-register
    * reconstruction. user_id is non-null so the null-bucket guards are
    * vacuous. */
  val q135Sql: String = {
    val m = Sketches.HllBuckets
    s"""WITH e AS (
       |  SELECT user_id, epoch_ns(ts) // 86400000000000 AS day FROM events),
       |h AS (
       |  SELECT day,
       |    CAST(('0x' || substr(md5('hll|' || CAST(user_id AS VARCHAR)), 1, 15))
       |      AS BIGINT) AS h
       |  FROM e),
       |r AS (
       |  SELECT day, h % $m AS bucket,
       |    max(CASE WHEN h // $m = 0 THEN 53
       |        ELSE 53 - length(bin(h // $m)) END) AS mreg
       |  FROM h GROUP BY 1, 2),
       |days AS (SELECT DISTINCT day AS as_of_day FROM r),
       |cum AS (
       |  SELECT as_of_day, bucket, max(mreg) AS mreg
       |  FROM days JOIN r ON r.day <= as_of_day GROUP BY 1, 2),
       |agg AS (
       |  SELECT as_of_day,
       |    sum(CAST(1 AS BIGINT) << (53 - mreg))
       |      + (CAST($m AS BIGINT) - count(*)) * (CAST(1 AS BIGINT) << 53) AS s,
       |    sum(CASE WHEN mreg = 0 THEN 1 ELSE 0 END)
       |      + (CAST($m AS BIGINT) - count(*)) AS zeros,
       |    CAST(sum(CASE WHEN mreg > 0 THEN 1 ELSE 0 END) AS BIGINT)
       |      AS hll_buckets_used
       |  FROM cum GROUP BY 1),
       |est AS (
       |  SELECT as_of_day, hll_buckets_used,
       |    round(CASE WHEN ${Sketches.HllAlphaScaled} / CAST(s AS DOUBLE)
       |                    <= ${2.5 * m} AND zeros > 0
       |      THEN CAST($m AS DOUBLE) * ln(CAST($m AS DOUBLE) / CAST(zeros AS DOUBLE))
       |      ELSE ${Sketches.HllAlphaScaled} / CAST(s AS DOUBLE) END, 4)
       |      AS hll_cum_users
       |  FROM agg),
       |fd AS (
       |  SELECT day, CAST(count(*) AS BIGINT) AS n_new FROM (
       |    SELECT user_id, min(day) AS day FROM e GROUP BY 1) GROUP BY 1),
       |exact AS (
       |  SELECT as_of_day, CAST(sum(n_new) AS BIGINT) AS exact_cum_users
       |  FROM days JOIN fd ON fd.day <= as_of_day GROUP BY 1)
       |SELECT e2.as_of_day, hll_cum_users, hll_buckets_used,
       |  exact_cum_users,
       |  round(abs(hll_cum_users - exact_cum_users)
       |    / CAST(exact_cum_users AS DOUBLE), 4) AS rel_err
       |FROM est e2 JOIN exact USING (as_of_day)
       |ORDER BY as_of_day""".stripMargin
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q135_hll_growth" -> (q135HllGrowth _),
    "q57_doc_chunk" -> q57DocChunk,
    "q64_hll_distinct" -> q64HllDistinct,
    "q65_bloom_semijoin" -> q65BloomSemijoin,
    "q66_quantile_sketch" -> q66QuantileSketch,
    "q67_countmin" -> q67CountMin,
    "q71_heavy_hitters" -> q71HeavyHitters,
    "q72_hll_merge" -> q72HllMerge,
    "q143_hll_index_persist" -> (q143HllIndexPersist _),
    "q144_cms_index_persist" -> (q144CmsIndexPersist _))

  val oracles: Map[String, String] = Map(
    "q135_hll_growth" -> q135Sql,
    "q57_doc_chunk" -> q57Sql,
    "q64_hll_distinct" -> q64Sql,
    "q65_bloom_semijoin" -> q65Sql,
    "q66_quantile_sketch" -> q66Sql,
    "q67_countmin" -> q67Sql,
    "q71_heavy_hitters" -> q71Sql,
    "q72_hll_merge" -> q72Sql,
    "q143_hll_index_persist" -> q143Sql,
    "q144_cms_index_persist" -> q67Sql)
}
