package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.functions.TextFunctions.md5Hash60

/** Distributed sketch operators: HyperLogLog distinct counting and a
  * Bloom-filter membership pre-filter.
  *
  * Both follow this engine's determinism discipline (ARCHITECTURE.md
  * "Determinism and oracle discipline"):
  * every hash is an md5 slice with integer arithmetic, so the sketches
  * are reproducible across partitionings, engine versions, AND engines —
  * the identical sketch is expressible in ANSI SQL, which is what makes
  * q64/q65 hash-checkable against DuckDB. Spark's built-ins
  * (`approx_count_distinct` = HLL++, AQE's runtime bloom filter) cover
  * the same ground faster but their bit layouts are engine-internal;
  * these operators exist for when the sketch itself must be a portable,
  * auditable artifact (e.g. a dedup census shipped between engines).
  *
  * Scale shape (the reason sketches exist at all): a 100 TB exact
  * `count(distinct)` shuffles every distinct value; the HLL here shuffles
  * AT MOST `groups × 256` rows after map-side partial aggregation, and
  * the bloom pre-filter turns an arbitrarily large build side into a
  * ≤ m-row broadcast of set bit positions.
  */
object Sketches {

  /** HLL precision: p = 8 → m = 256 buckets, relative error
    * ≈ 1.04/√256 ≈ 6.5%. The md5 slice yields 60 usable bits: 8 route
    * to the bucket, the remaining 52 feed the leading-zero rank. */
  val HllBuckets = 256
  private val HllRankWidth = 53 // rank ∈ [1, 53]: 52 hash bits + "all zero"

  /** α_m·m²·2^53 for m=256 — the bias constant of Flajolet et al. 2007
    * ("HyperLogLog: the analysis of a near-optimal cardinality
    * estimation algorithm", public), pre-scaled by 2^53 because the
    * register sum below is kept as an EXACT long (see `hllDistinct`).
    * Computed once driver-side; the double literal round-trips exactly
    * through the plan and the oracle SQL. */
  val HllAlphaScaled: Double =
    0.7213 / (1.0 + 1.079 / HllBuckets) * HllBuckets.toDouble *
      HllBuckets.toDouble * 9007199254740992.0 // 2^53

  /** Per-group HLL distinct estimate of `valueCol` (any type; cast to
    * string for hashing). Returns one row per group:
    * `groupCols* , hll_distinct (double), hll_buckets_used (long)`.
    *
    * Register sums are EXACT: each register M_j contributes the integer
    * `2^(53 − M_j)`, so Σ ≤ 256·2^53 < 2^62 fits a long and the sum is
    * order-independent — no float fold to pin. The only float ops are
    * one division (and one `ln` on the linear-counting branch), applied
    * to exact integers, so both engines round identically; `round(…,4)`
    * absorbs the ≤1-ulp libm `ln` difference (q49's discipline).
    *
    * Plan shape: one narrow hash pass → partial-agg `max` per
    * (group, bucket) — the map-side combine reduces each task's output
    * to ≤ groups×256 rows regardless of input size — → a tiny
    * 256-row-per-group final agg. The empty-bucket fill joins a
    * `groups × 256` generated frame, all post-reduction. */
  def hllDistinct(df: DataFrame, valueCol: Column, groupCols: Seq[String],
                  salt: String = "hll"): DataFrame =
    hllEstimateRegisters(hllRegisters(df, valueCol, groupCols, salt), groupCols)

  /** [[hllDistinct]] fused with the EXACT distinct count — one pass,
    * zero extra exchanges. On the deduped (group, value) pairs the
    * register aggregation counts rows per bucket as it maxes ranks, and
    * the estimate aggregation sums those counts back into the exact
    * distinct (a value lands in exactly one bucket). Replaces the
    * dedup → localCheckpoint → {register branch, exact-count branch} →
    * join shape q64 carried through r16: same three logical steps
    * (dedup shuffle, register agg, estimate agg — the last two map-side
    * combine to ≤ groups×256 rows per task), but no checkpoint
    * materialization job, no second aggregation branch, no join.
    * Output is BIT-IDENTICAL to `hllDistinct ⋈ count(*) over dedup`
    * (register max is idempotent over duplicates; SketchesSpec pins the
    * equality). NULL values follow [[hllEstimateRegisters]]'s contract —
    * excluded from every register term — but do count one row into
    * `exact_distinct`, exactly as the old `count(*)` branch did. */
  def hllDistinctExact(df: DataFrame, valueCol: Column, groupCols: Seq[String],
                       salt: String = "hll"): DataFrame = {
    require(groupCols.nonEmpty,
      "hllDistinctExact needs >= 1 group column (use a lit constant for a global count)")
    val d = df.select(groupCols.map(col) :+ valueCol.as("__hll_v"): _*).distinct()
    hllEstimateExact(
      hllRegistersUnique(d, col("__hll_v"), groupCols, salt), groupCols)
  }

  /** [[hllRegisters]] PLUS the per-bucket row count `__hll_cnt` — the
    * exact-count currency of the fused forms. CONTRACT: the input's
    * (groupCols, value) rows must already be UNIQUE (a `distinct`
    * upstream, or rows unique by construction like q72's exploded
    * collect_set pairs); over duplicated rows the counts are garbage
    * while the registers stay right, which no output would flag —
    * hence the loud name AND the package-private visibility (r17
    * ADVICE): external callers go through [[hllDistinctExact]], which
    * encapsulates the distinct; in-package callers (q72's exploded
    * collect_set pairs, the duel tools) own the uniqueness proof. */
  private[graft] def hllRegistersUnique(dUnique: DataFrame, valueCol: Column,
      groupCols: Seq[String], salt: String = "hll"): DataFrame = {
    require(groupCols.nonEmpty,
      "hllRegistersUnique needs >= 1 group column (use a lit constant for a global count)")
    require(!groupCols.exists(_.startsWith("__hll_")),
      "hllRegistersUnique: the __hll_ column-name prefix is reserved for sketch internals")
    val g = groupCols.map(col)
    val h = md5Hash60(concat(lit(salt + "|"), valueCol.cast("string")))
    val hashed = dUnique.select(g :+ h.as("__hll_h"): _*)
      .select(g ++ Seq(
        (col("__hll_h") % HllBuckets).as("__hll_bucket"),
        expr(s"__hll_h DIV $HllBuckets").as("__hll_w")): _*)
    val rank = when(col("__hll_w") === 0, lit(HllRankWidth))
      .otherwise(lit(HllRankWidth) - length(bin(col("__hll_w"))))
    hashed
      .select(g ++ Seq(col("__hll_bucket"), rank.as("__hll_rho")): _*)
      .groupBy(g :+ col("__hll_bucket"): _*)
      .agg(max("__hll_rho").as("__hll_m"), count(lit(1)).as("__hll_cnt"))
  }

  /** Estimate from a [[hllRegistersUnique]] frame, with the exact
    * distinct count (`sum(__hll_cnt)` — a value lands in exactly one
    * bucket) riding the same pass as `exact_distinct`. */
  def hllEstimateExact(regs: DataFrame, groupCols: Seq[String]): DataFrame =
    hllEstimateWith(regs, groupCols,
      extraAggs = Seq(sum("__hll_cnt").as("exact_distinct")),
      extraOut = Seq(col("exact_distinct")))

  /** The sketch ARTIFACT: one `(groupCols*, __hll_bucket, __hll_m)` row
    * per non-empty register — ≤ groups×256 rows after map-side combine,
    * whatever the input size. This is the mergeable, shippable form: a
    * 100 TB pipeline materializes per-split registers (per day, per
    * shard, per engine) once, and any union of splits is answered by
    * [[hllMergeRegisters]] + [[hllEstimateRegisters]] without rescanning
    * rows — the register for a value is a pure function of the value, so
    * max-merge of split registers IS the register set of the union. */
  def hllRegisters(df: DataFrame, valueCol: Column, groupCols: Seq[String],
                   salt: String = "hll"): DataFrame = {
    require(groupCols.nonEmpty,
      "hllRegisters needs >= 1 group column (use a lit constant for a global count)")
    // Internal working columns are __hll_-prefixed so a caller grouping
    // by e.g. "bucket" or "m" cannot silently collide with them.
    require(!groupCols.exists(_.startsWith("__hll_")),
      "hllRegisters: the __hll_ column-name prefix is reserved for sketch internals")
    val g = groupCols.map(col)
    val h = md5Hash60(concat(lit(salt + "|"), valueCol.cast("string")))
    val hashed = df.select(g :+ h.as("__hll_h"): _*)
      .select(g ++ Seq(
        (col("__hll_h") % HllBuckets).as("__hll_bucket"),
        expr(s"__hll_h DIV $HllBuckets").as("__hll_w")): _*) // integer div: 52-bit remainder
    // rank of the leftmost 1-bit in the 52-bit window; bin() emits no
    // leading zeros in both engines, so bit_length = length(bin(w))
    val rank = when(col("__hll_w") === 0, lit(HllRankWidth))
      .otherwise(lit(HllRankWidth) - length(bin(col("__hll_w"))))
    hashed
      .select(g ++ Seq(col("__hll_bucket"), rank.as("__hll_rho")): _*)
      .groupBy(g :+ col("__hll_bucket"): _*)
      .agg(max("__hll_rho").as("__hll_m"))
  }

  /** Max-merge register frames onto (possibly remapped) group columns:
    * `union` the frames, relabel groups as needed, then call this. The
    * result is EXACTLY the register set a direct [[hllRegisters]] over
    * the concatenated input would produce (register = max of a pure
    * per-value function), so merged estimates are bit-identical to
    * direct ones — no epsilon, the law HllMergeSpec pins. */
  def hllMergeRegisters(regs: DataFrame, groupCols: Seq[String]): DataFrame =
    regs.groupBy(groupCols.map(col) :+ col("__hll_bucket"): _*)
      .agg(max("__hll_m").as("__hll_m"))

  /** Persist a register frame: the build-once half of the sketch
    * lifecycle. The artifact is ≤ groups×256 rows whatever the input
    * size, so the write is trivially cheap and any later session
    * answers distinct-count queries (including merged ones — registers
    * max-merge, [[hllMergeRegisters]]) WITHOUT rescanning the corpus.
    * Catalog entry q143 round-trips this against q64's oracle. */
  def hllRegistersWrite(regs: DataFrame, path: String): Unit =
    regs.write.mode("overwrite").parquet(path)

  /** Read a persisted [[hllRegistersWrite]] artifact. */
  def hllRegistersRead(spark: org.apache.spark.sql.SparkSession, path: String): DataFrame =
    Tables.parquet(spark, path)

  /** Estimate from a register frame ([[hllRegisters]] /
    * [[hllMergeRegisters]] output). Split out so sketches can be
    * stored, shipped, and merged between build and estimate. */
  def hllEstimateRegisters(regs: DataFrame, groupCols: Seq[String]): DataFrame =
    hllEstimateWith(regs, groupCols, Nil, Nil)

  /** [[hllEstimateRegisters]] with extra aggregates riding the same
    * (already tiny) estimate pass — how [[hllDistinctExact]] carries
    * the exact count without a second aggregation branch. */
  private def hllEstimateWith(regs: DataFrame, groupCols: Seq[String],
      extraAggs: Seq[Column], extraOut: Seq[Column]): DataFrame = {
    val g = groupCols.map(col)
    // Empty registers (M=0) each contribute exactly 2^HllRankWidth to
    // the sum and one zero — reconstructed ARITHMETICALLY from the
    // count of present buckets instead of materializing a groups×256
    // fill frame: the earlier distinct→explode→left-join formulation
    // produced identical integers through two extra small-data stages,
    // which at sf-scale were most of the query's wall time. Null-hash
    // rows (NULL value → NULL bucket) are excluded from every present-
    // bucket term, exactly as the old fill join dropped them; a group
    // with ONLY null values still emits its all-empty-register row.
    val present = col("__hll_bucket").isNotNull
    val aggCols = Seq(
      (sum(when(present,
        expr(s"shiftleft(CAST(1 AS BIGINT), ${HllRankWidth} - __hll_m)"))
        .otherwise(0L)) +
        (lit(HllBuckets.toLong) -
          sum(when(present, 1L).otherwise(0L))) * lit(1L << HllRankWidth))
        .as("__hll_s"),
      (sum(when(present && col("__hll_m") === 0, 1L).otherwise(0L)) +
        (lit(HllBuckets.toLong) - sum(when(present, 1L).otherwise(0L))))
        .as("__hll_zeros"),
      sum(when(present && col("__hll_m") > 0, 1L).otherwise(0L))
        .as("hll_buckets_used")) ++ extraAggs
    val agg = regs.groupBy(g: _*).agg(aggCols.head, aggCols.tail: _*)
    // raw estimate; linear counting below the standard 2.5m threshold
    val raw = lit(HllAlphaScaled) / col("__hll_s").cast("double")
    val est = when(raw <= lit(2.5 * HllBuckets) && col("__hll_zeros") > 0,
      lit(HllBuckets.toDouble) *
        log(lit(HllBuckets.toDouble) / col("__hll_zeros").cast("double")))
      .otherwise(raw)
    agg.select(g ++ Seq(round(est, 4).as("hll_distinct"),
      col("hll_buckets_used")) ++ extraOut: _*)
  }

  // ---------------------------------------------------------- JVM twin
  // The same register math as `hllDistinct`, as plain JVM functions —
  // the streaming operator (EventStreams.streamingHllDistinct) keeps a
  // 256-byte register array as flatMapGroupsWithState state and must
  // produce BIT-IDENTICAL estimates to the batch column formulation.

  /** JVM twin of TextFunctions.md5Hash60: first 15 hex digits of md5 as
    * a 60-bit long. */
  private[graft] def md5Hash60Jvm(s: String): Long = {
    val hex = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    java.lang.Long.parseLong(hex.take(15), 16)
  }

  /** Fold one value into a 256-register array (mutates `regs`).
    * `key` must already carry the salt prefix (`"hll|" + value`). */
  def hllUpdate(regs: Array[Byte], key: String): Unit = {
    val h = md5Hash60Jvm(key)
    val bucket = (h % HllBuckets).toInt
    val w = h / HllBuckets
    val rho = if (w == 0) HllRankWidth
      else HllRankWidth - (64 - java.lang.Long.numberOfLeadingZeros(w))
    if (rho > regs(bucket)) regs(bucket) = rho.toByte
  }

  /** Estimate from a register array — mirrors the column math operation
    * for operation: exact long register sum, one double division, the
    * linear-counting branch, and Spark's HALF_UP round(…,4) (which goes
    * through BigDecimal.valueOf, i.e. the shortest-decimal double
    * representation — `new BigDecimal(double)` would round differently). */
  def hllEstimate(regs: Array[Byte]): Double = {
    var s = 0L; var zeros = 0
    regs.foreach { m =>
      s += 1L << (HllRankWidth - m)
      if (m == 0) zeros += 1
    }
    val raw = HllAlphaScaled / s.toDouble
    val est = if (raw <= 2.5 * HllBuckets && zeros > 0)
      HllBuckets.toDouble * math.log(HllBuckets.toDouble / zeros)
    else raw
    java.math.BigDecimal.valueOf(est)
      .setScale(4, java.math.RoundingMode.HALF_UP).doubleValue()
  }

  /** JVM twin of the count-min update — one value folded into a flat
    * depth×width counter array (mutates `counters`). Hash recipe is
    * byte-identical to [[countMinBuild]]'s column form (disjoint 8-hex-
    * digit slices of ONE `md5("cm|" + value)` digest, each mod width),
    * so a streaming state built by repeated [[cmUpdate]] calls equals
    * the batch sketch on the same data — the reconciliation law
    * StreamingCountMinSpec pins. */
  def cmUpdate(counters: Array[Long], key: String,
               depth: Int = CmDepth, width: Int = CmWidth): Unit = {
    require(depth * 8 <= 32, s"cm depth $depth exceeds the 32 hex digits of md5")
    val hex = java.security.MessageDigest.getInstance("MD5")
      .digest(("cm|" + key).getBytes("UTF-8")).map("%02x".format(_)).mkString
    var r = 0
    while (r < depth) {
      val c = (java.lang.Long.parseLong(hex.substring(r * 8, r * 8 + 8), 16)
        % width).toInt
      counters(r * width + c) += 1
      r += 1
    }
  }

  /** JVM twin of the bloom build — fold one key's k bit positions into
    * an m-bit set stored as longs (mutates `bits`; size m/64). The hash
    * recipe is byte-identical to [[bloomBuild]]'s column form (disjoint
    * 8-hex-digit slices of ONE `md5("bloom|" + key)` digest, each mod
    * m), so a streaming state built by repeated [[bloomUpdate]] calls
    * emits exactly the position rows of the batch build on the same
    * keys — the law StreamingBloomSpec pins. */
  def bloomUpdate(bits: Array[Long], key: String,
                  m: Int = BloomBits, hashes: Int = BloomHashes): Unit = {
    require(hashes * 8 <= 32,
      s"bloom hashes $hashes exceeds the 32 hex digits of md5")
    val hex = java.security.MessageDigest.getInstance("MD5")
      .digest(("bloom|" + key).getBytes("UTF-8")).map("%02x".format(_)).mkString
    var i = 0
    while (i < hashes) {
      val pos = (java.lang.Long.parseLong(hex.substring(i * 8, i * 8 + 8), 16)
        % m).toInt
      bits(pos >> 6) |= 1L << (pos & 63)
      i += 1
    }
  }

  /** Set positions of a [[bloomUpdate]] bit set, ascending — the same
    * ≤ m rows of one int column that [[bloomBuild]] ships. */
  def bloomPositions(bits: Array[Long], m: Int = BloomBits): Seq[Int] =
    (0 until m).filter(p => (bits(p >> 6) & (1L << (p & 63))) != 0L)

  // ------------------------------------------------------------ count-min
  /** Count-min geometry: d independent hash rows × w counters. Point
    * estimates overcount by ≤ εN with ε = e/w at probability 1−(1/e)^d
    * (Cormode & Muthukrishnan 2005, "An improved data stream summary:
    * the count-min sketch and its applications", public). */
  val CmDepth = 4
  val CmWidth = 1024

  /** The d hash rows all derive from ONE md5 digest per value: row r
    * reads hex digits [8r+1, 8r+8] (32 independent bits) mod width.
    * Hashing the value once instead of d times is the standard
    * multiple-hashes-from-one-digest device (cf. Kirsch & Mitzenmacher
    * 2006, "Less hashing, same performance", public) and cuts the
    * dominant per-row cost of both build and probe by d×; the slices
    * stay disjoint so the rows behave as independent hash functions,
    * and the recipe remains one-line-expressible in the DuckDB oracle. */
  /** All depth hash positions of one value as ONE native array<long>
    * expression (graft.plans.Md5SlicesExpr): one md5, byte-sliced
    * positions, no hex-string materialization, no conv parse — and
    * because the whole recipe is a single expression, the build's
    * posexplode evaluates it exactly once per row (the earlier
    * hex-slice form needed a separate digest projection below the
    * Generate to dodge depth× recomputation). Bit-parity with the
    * oracle's `('0x' || substr(md5(…), 8r+1, 8))::BIGINT % w` is
    * pinned in VectorExpressionSpec. */
  private def cmHashArray(valueCol: Column, depth: Int, width: Int): Column = {
    require(depth * 8 <= 32, s"cm depth $depth exceeds the 32 hex digits of md5")
    graft.plans.Md5SlicesExpr.column(
      concat(lit("cm|"), valueCol.cast("string")), depth, width)
  }

  /** Build the sketch: one row per NON-ZERO (row, col) counter —
    * ≤ d·w rows regardless of input size, after a map-side-combined
    * shuffle of (row, col, partial count). The batch twin of the
    * streaming update loop; mergeable across any data split by plain
    * addition, which is what makes it the 100 TB frequency census. */
  def countMinBuild(df: DataFrame, valueCol: Column,
                    depth: Int = CmDepth, width: Int = CmWidth): DataFrame =
    df.select(posexplode(cmHashArray(valueCol, depth, width))
        .as(Seq("row", "col")))
      .groupBy("row", "col").agg(count(lit(1)).as("c"))

  /** Persist a count-min sketch frame: the build-once half of the CMS
    * lifecycle (HLL: [[hllRegistersWrite]]; PQ: Similarity
    * .ivfPqIndexWrite). The artifact is ≤ d·w (row, col, c) rows
    * whatever the input size; split sketches written per day/shard
    * merge downstream by plain `union` + `groupBy(row, col).sum(c)` —
    * counter addition, the CMS merge law. Catalog entry q144
    * round-trips this against q67's oracle. */
  def countMinWrite(sketch: DataFrame, path: String): Unit =
    sketch.write.mode("overwrite").parquet(path)

  /** Read a persisted [[countMinWrite]] artifact. */
  def countMinRead(spark: org.apache.spark.sql.SparkSession, path: String): DataFrame =
    Tables.parquet(spark, path)

  /** Sum-merge count-min sketch frames (counter addition — the CMS
    * merge law, the additive twin of [[hllMergeRegisters]]'s max): the
    * result is EXACTLY the sketch a direct [[countMinBuild]] over the
    * concatenated inputs would produce, because each cell is a plain
    * count of the rows hashing to it (SketchSpec pins the law). This is
    * what makes per-split artifacts (per day/shard/source) the 100 TB
    * form: any union of splits is answered from ≤ splits×d·w rows. */
  def countMinMerge(sketches: DataFrame*): DataFrame = {
    require(sketches.nonEmpty, "countMinMerge needs >= 1 sketch frame")
    sketches.reduce(_ unionByName _)
      .groupBy("row", "col").agg(sum("c").as("c"))
  }

  /** Point-estimate the count of each probe value: min over the d
    * counters the value hashes to. The sketch artifact is ≤ d·w
    * non-zero counters BY CONSTRUCTION (a few KB), so it is evaluated
    * ONCE here — collected driver-side into a dense d×w literal — and
    * probing becomes a PURE PROJECTION over the probe rows: zero joins,
    * zero shuffles, one `element_at` per hash row, all inside
    * whole-stage codegen. (The earlier formulation probed via d
    * broadcast joins against the un-materialized build frame; each join
    * re-ran the full build DAG, so a d=4 probe scanned the build input
    * four times — measured as q71's 32 s at sf0.1.) Missing counters
    * read as 0 (value never seen).
    *
    * NULL-key semantics: a NULL `keyCol` hashes to NULL, indexes to a
    * NULL estimate, and reads `cm_count = 0` — NULL counts as "never
    * seen", it is NOT tallied against the sketch's NULL bucket
    * (countMinBuild likewise drops NULL values: md5 of NULL is NULL, so
    * posexplode emits bins only for non-null inputs). Filter NULLs
    * beforehand if they matter. */
  def countMinProbe(probes: DataFrame, keyCol: Column, sketch: DataFrame,
                    depth: Int = CmDepth, width: Int = CmWidth): DataFrame =
    probes.withColumn("cm_count",
      countMinEstimate(countMinLiteral(sketch, depth, width), keyCol,
        depth, width))

  /** Materialize the sketch frame into a dense d×w nested-array literal
    * — ONE bounded-size collect (≤ d·w rows: the mergeable-census
    * design means the artifact, not the data, crosses to the driver,
    * the same shape a 100 TB pipeline ships between jobs). Callers that
    * probe the same sketch in several places (q71 gates rows AND
    * annotates survivors) share one literal instead of re-collecting. */
  def countMinLiteral(sketch: DataFrame, depth: Int = CmDepth,
                      width: Int = CmWidth): Column = {
    val dense = Array.fill(depth, width)(0L)
    sketch.select(col("row").cast("int"), col("col").cast("int"),
        col("c").cast("long"))
      .collect().foreach(r => dense(r.getInt(0))(r.getInt(1)) = r.getLong(2))
    typedLit(dense.map(_.toSeq).toSeq)
  }

  /** Point-estimate expression against a [[countMinLiteral]]: min over
    * the d counters the key hashes to — a pure projection usable in
    * filters and post-aggregation annotations alike. The repeated
    * hash-array subexpression is deduplicated by codegen CSE (it is
    * one deterministic expression). */
  def countMinEstimate(litSketch: Column, keyCol: Column,
                       depth: Int = CmDepth, width: Int = CmWidth): Column = {
    val hashes = cmHashArray(keyCol, depth, width)
    coalesce(least((0 until depth).map { r =>
      element_at(element_at(litSketch, r + 1),
        element_at(hashes, r + 1).cast("int") + 1)
    }: _*), lit(0L))
  }

  /** Bloom-filter geometry: m bits, k hash functions. k=3 and m=4096
    * give a false-positive rate ≈ (1−e^{−kn/m})^k ≈ 0.1% at n=500 keys;
    * both knobs are per-call so a 100 TB build side sizes m to its n. */
  val BloomBits = 4096
  val BloomHashes = 3

  /** The k bloom bit positions all derive from ONE md5 per key — same
    * native single-digest kernel as [[cmHashArray]], same
    * oracle-expressible recipe. */
  private def bloomHashArray(keyCol: Column, bits: Int, hashes: Int): Column = {
    require(hashes * 8 <= 32,
      s"bloom hashes $hashes exceeds the 32 hex digits of md5")
    graft.plans.Md5SlicesExpr.column(
      concat(lit("bloom|"), keyCol.cast("string")), hashes, bits)
  }

  /** The filter itself: the DISTINCT set bit positions of `keyCol` over
    * `build` — at most `min(k·n, m)` rows of one int column. THIS is
    * what makes the operator scale: the build side may be arbitrarily
    * large, but the artifact that ships to the probe side is ≤ m rows
    * (a few KB), always broadcastable. */
  def bloomBuild(build: DataFrame, keyCol: Column,
                 bits: Int = BloomBits, hashes: Int = BloomHashes): DataFrame =
    build.select(explode(bloomHashArray(keyCol, bits, hashes)).as("pos"))
      .distinct()

  /** Probe: marks each row of `probe` with `bloom_pass` — true iff ALL k
    * bit positions of `keyCol` are set in `filter` (no false negatives,
    * by construction). The ≤ m-row position set is evaluated ONCE —
    * collected into a dense m-slot boolean literal — and the probe is a
    * PURE PROJECTION: one md5 + k element_at per row, zero joins, zero
    * shuffles of the probe side. (The earlier formulation probed via k
    * broadcast left joins against the un-materialized build frame; each
    * join re-ran the whole build DAG — countMinProbe's round-8 defect,
    * same fix.)
    *
    * NULL-key semantics: a NULL `keyCol` hashes to NULL, indexes to a
    * NULL bit, and reads `bloom_pass = false` — consistent with
    * bloomBuild, which never sets bits for NULL keys (md5 of NULL is
    * NULL), so the no-false-negatives law holds over the non-null
    * domain. Filter NULLs beforehand if they need pass-through. */
  def bloomProbe(probe: DataFrame, keyCol: Column, filter: DataFrame,
                 bits: Int = BloomBits, hashes: Int = BloomHashes): DataFrame = {
    val dense = Array.fill(bits)(false)
    filter.select(col("pos").cast("int")).collect()
      .foreach(r => dense(r.getInt(0)) = true)
    val litBits = typedLit(dense.toSeq)
    val hashArr = bloomHashArray(keyCol, bits, hashes)
    val pass = (0 until hashes)
      .map(i => element_at(litBits, element_at(hashArr, i + 1).cast("int") + 1))
      .reduce(_ && _)
    probe.withColumn("bloom_pass", coalesce(pass, lit(false)))
  }

  // --------------------------------------------- histogram quantiles

  /** JVM twin of the batch histogram-quantile column pipeline
    * (SketchQueries.q66QuantileSketch): given (bin → count) cells with
    * `bin = floor(value / width)`, estimate each requested quantile by
    * linear interpolation within the target bin. Arithmetic reproduces
    * the column form operation-for-operation —
    * `target = floor(q·n) + 1` (IEEE double product, then floor to
    * long) and `est = bin·width + (width·(target − cumBefore)) / c` in
    * that association order — so a streaming sketch emitted through
    * this kernel reconciles BIT-identically with the batch query over
    * the same rows (asserted in StreamingQuantileSpec). */
  def histQuantiles(hist: Seq[(Long, Long)], width: Double,
                    qs: Seq[Double]): Seq[(Double, Double, Long)] = {
    val cells = hist.sortBy(_._1)
    val n = cells.foldLeft(0L)(_ + _._2)
    if (n == 0L) return Seq.empty
    qs.flatMap { q =>
      val target = math.floor(q * n.toDouble).toLong + 1L
      var cum = 0L
      var i = 0
      while (i < cells.size && cum + cells(i)._2 < target) {
        cum += cells(i)._2
        i += 1
      }
      if (i == cells.size) None // target > n (q >= 1): batch emits no row
      else {
        val (bin, c) = cells(i)
        Some((q, bin.toDouble * width +
          (width * (target - cum).toDouble) / c.toDouble, n))
      }
    }
  }
}
