package graft.queries

import graft.Tables
import graft.streaming.{EventStreams, StreamStage}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Statistics / temporal-modeling operators over the event stream and
  * the catalog tables: SCD2 run-length intervals, duplicate-event
  * suppression, a scalable 2-D skyline, per-group OLS trend lines, a
  * corpus Zipf-law fit, and salted exact distinct counts.
  *
  * Shared determinism discipline (ARCHITECTURE.md "Determinism and
  * oracle discipline"): integer-exact
  * aggregates wherever possible, ONE double expression in a pinned
  * association order mirrored by the oracle, `round(…, 4-6)` to absorb
  * ≤1-ulp libm divergence, and total orders on (ts_us, event_id) so
  * tie-breaks agree across engines.
  */
object StatsQueries {

  private def eventsUs(spark: SparkSession, dir: String): DataFrame =
    Tables(spark, dir).events
      .select(col("event_id"), col("user_id"), col("event_type"),
        col("value"), expr("ts_ns DIV 1000").as("ts_us"))

  // --------------------------------------------------------------- q121
  /** SCD type-2 interval assembly: collapse each user's event stream
    * into maximal runs of one event_type — the valid_from/valid_to
    * change-history shape a warehouse keeps for slowly-changing
    * attributes. Run boundaries come from ONE window pass (lag +
    * running sum of change flags over the same (user_id) partitioning,
    * so Spark plans a single exchange + sort for both functions), then
    * a key-partitioned groupBy on (user, run) builds the intervals.
    * Nothing is quadratic and no stage holds more than one user's
    * ordered slice. */
  def q121Scd2Runs(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
    val run = eventsUs(spark, dir)
      .withColumn("prev_type", lag("event_type", 1).over(w))
      .withColumn("chg",
        when(col("prev_type").isNull ||
          col("prev_type") =!= col("event_type"), 1L).otherwise(0L))
      .withColumn("run_id", sum("chg").over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    run.groupBy("user_id", "run_id")
      .agg(
        min("event_type").as("event_type"), // constant within a run
        min("ts_us").as("valid_from_us"),
        max("ts_us").as("valid_to_us"),
        count(lit(1)).as("n_events"))
      .select("user_id", "event_type", "valid_from_us", "valid_to_us",
        "n_events")
      // full output tuple as sort key: (user_id, valid_from_us,
      // event_type) is NOT a total order — 3+ same-microsecond events of
      // alternating types yield two runs agreeing on all three — so the
      // trailing keys stop the row order (hence the driver hash) from
      // being engine-dependent on such ties
      .orderBy("user_id", "valid_from_us", "event_type", "valid_to_us",
        "n_events")
  }

  val q121Sql: String =
    """WITH e AS (
      |  SELECT event_id, user_id, event_type, epoch_ns(ts) // 1000 AS ts_us
      |  FROM events),
      |r AS (
      |  SELECT *, CASE WHEN lag(event_type) OVER w IS NULL
      |      OR lag(event_type) OVER w <> event_type THEN 1 ELSE 0 END AS chg
      |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id)),
      |s AS (
      |  SELECT *, sum(chg) OVER (PARTITION BY user_id
      |    ORDER BY ts_us, event_id
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS run_id
      |  FROM r)
      |SELECT user_id, min(event_type) AS event_type,
      |  min(ts_us) AS valid_from_us, max(ts_us) AS valid_to_us,
      |  CAST(count(*) AS BIGINT) AS n_events
      |FROM s GROUP BY user_id, run_id
      |ORDER BY user_id, valid_from_us, event_type, valid_to_us, n_events""".stripMargin

  // --------------------------------------------------------------- q141
  /** The STREAMING kernel answering q121's batch question over the same
    * bounded source, hash-checked against the SAME oracle — the
    * batch-parity proof that moves the streaming twins from "spec" to
    * "pass". [[StreamStage.run]] feeds it the staged events in one
    * micro-batch and then fires every open run's event-time timer with
    * its far-future sentinels. Per-user arrival order within the batch
    * is whatever the files held, so the operator re-sorts each group by
    * (ts_us, event_id), q121's exact tie-break. The flush horizon is set
    * beyond the table's whole time span, so NO run is ever split by a
    * timeout — the documented equivalence precondition. The memory-sink
    * result is the closed-runs relation: each row was emitted by
    * flatMapGroupsWithState state transitions, not by a window pass,
    * yet the hash matches the batch islands oracle exactly. Sentinel
    * rows (user_id = -1) never reach the output. */
  def q141StreamingRuns(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    implicit val s: SparkSession = spark
    // flush horizon ≈ 200 years: longer than any gap inside the bounded
    // table, so only the sentinel-driven final flush closes open runs
    val flushMs = 6311520000000L
    StreamStage.run(spark, dir, "q141_runs", StreamStage.Sentinels)(stream =>
      EventStreams.streamingRuns(stream.as[EventStreams.RunEvent], flushMs))
      .filter(col("user_id") >= 0)
      .select("user_id", "event_type", "valid_from_us", "valid_to_us",
        "n_events")
      .orderBy("user_id", "valid_from_us", "event_type", "valid_to_us",
        "n_events")
  }

  /** The streaming kernel answers the BATCH oracle. */
  val q141Sql: String = q121Sql

  // --------------------------------------------------------------- q145
  /** Second streaming batch-parity entry: the WINDOWED STREAMING HLL
    * (EventStreams.streamingHllDistinct — 256 bytes of register state
    * per open hour×type, flatMapGroupsWithState) run over the bounded
    * events source, hash-checked against a plain batch SQL oracle that
    * recomputes every window's registers from scratch. Run by
    * [[StreamStage.run]] with its sentinels, which close every real
    * window (the sentinels' own windows never close and are filtered
    * by type). Window alignment is
    * floor(epoch_ms / 3600000) — identical to the oracle's truncating
    * `epoch_ns // 3600e9` on this table's positive-epoch domain (the
    * documented precondition; q13 states the same contract). The
    * estimate crossing engines bit-exactly is the register-integer
    * discipline (Sketches.scala): the streaming state, the batch
    * column pipeline, and the DuckDB SQL all produce the same exact
    * integer register sums, so the one rounded double agrees. */
  def q145StreamingHll(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    implicit val s: SparkSession = spark
    StreamStage.run(spark, dir, "q145_hll", StreamStage.Sentinels)(stream =>
      EventStreams.streamingHllDistinct(stream.as[EventStreams.UserEvent]))
      .filter(col("event_type") =!= "sentinel")
      .select(expr("unix_millis(window_start) DIV 1000").as("window_start_sec"),
        col("event_type"), round(col("hll_distinct"), 4).as("hll_distinct"))
      .orderBy("window_start_sec", "event_type")
  }

  /** Batch recomputation of every window's registers — q64's arithmetic
    * empty-register reconstruction keyed by (window, type). */
  val q145Sql: String = {
    val m = graft.operators.Sketches.HllBuckets
    s"""WITH e AS (
       |  SELECT (epoch_ns(ts) // 3600000000000) * 3600 AS window_start_sec,
       |    event_type, user_id FROM events),
       |h AS (
       |  SELECT window_start_sec, event_type,
       |    CAST(('0x' || substr(md5('hll|' || CAST(user_id AS VARCHAR)), 1, 15))
       |      AS BIGINT) AS h
       |  FROM e),
       |r AS (
       |  SELECT window_start_sec, event_type, h % $m AS bucket,
       |    max(CASE WHEN h // $m = 0 THEN 53
       |        ELSE 53 - length(bin(h // $m)) END) AS m
       |  FROM h GROUP BY 1, 2, 3),
       |agg AS (
       |  SELECT window_start_sec, event_type,
       |    sum(CAST(1 AS BIGINT) << (53 - m))
       |      + (CAST($m AS BIGINT) - count(*)) * (CAST(1 AS BIGINT) << 53) AS s,
       |    sum(CASE WHEN m = 0 THEN 1 ELSE 0 END)
       |      + (CAST($m AS BIGINT) - count(*)) AS zeros
       |  FROM r GROUP BY 1, 2)
       |SELECT window_start_sec, event_type,
       |  round(CASE WHEN ${graft.operators.Sketches.HllAlphaScaled} / CAST(s AS DOUBLE)
       |              <= ${2.5 * m} AND zeros > 0
       |    THEN CAST($m AS DOUBLE) * ln(CAST($m AS DOUBLE) / CAST(zeros AS DOUBLE))
       |    ELSE ${graft.operators.Sketches.HllAlphaScaled} / CAST(s AS DOUBLE) END, 4)
       |    AS hll_distinct
       |FROM agg ORDER BY window_start_sec, event_type""".stripMargin
  }

  // --------------------------------------------------------------- q122
  /** Duplicate-event suppression: drop an event when an identical
    * (user, type, value-cents) event arrived within the trailing
    * window — the idempotency pass that de-dupes client retries and
    * at-least-once delivery before events feed training counters.
    * One lag over the identity-key partitioning; value compares in
    * exact cents so the key is integer. Survivors = first event of
    * each duplicate burst. */
  val SuppressWindowUs = 600000000L // 10 minutes

  def q122DupSuppress(spark: SparkSession, dir: String): DataFrame = {
    val ev = eventsUs(spark, dir)
      .withColumn("cents", round(col("value") * 100).cast("long"))
    val w = Window.partitionBy("user_id", "event_type", "cents")
      .orderBy("ts_us", "event_id")
    ev.withColumn("prev_us", lag("ts_us", 1).over(w))
      .filter(col("prev_us").isNull ||
        col("ts_us") - col("prev_us") > lit(SuppressWindowUs))
      .select("event_id", "user_id", "event_type", "ts_us")
      .orderBy("event_id")
  }

  val q122Sql: String =
    s"""WITH e AS (
       |  SELECT event_id, user_id, event_type, epoch_ns(ts) // 1000 AS ts_us,
       |    CAST(round(value * 100) AS BIGINT) AS cents
       |  FROM events),
       |l AS (
       |  SELECT *, lag(ts_us) OVER (
       |    PARTITION BY user_id, event_type, cents
       |    ORDER BY ts_us, event_id) AS prev_us
       |  FROM e)
       |SELECT event_id, user_id, event_type, ts_us
       |FROM l WHERE prev_us IS NULL OR ts_us - prev_us > $SuppressWindowUs
       |ORDER BY event_id""".stripMargin

  // --------------------------------------------------------------- q123
  /** 2-D skyline (pareto front): parts not dominated on
    * (minimize price, maximize size). The naive formulation is an
    * all-pairs NOT EXISTS; this one is the scalable prefix-scan
    * decomposition: (1) best size per exact price (key-partitioned
    * agg), (2) best size per $100 price bin (tiny agg), (3) prefix max
    * over bins — a window over the ≤#bins-row frame, the only
    * single-partition step and it is O(bins), (4) within-bin running
    * max re-partitioned by bin, (5) a part is on the front iff its
    * size beats every strictly-cheaper price's best. The front is then
    * broadcast back against the part table to recover tied part keys.
    * Each step is a key-partitioned shuffle of an already-aggregated
    * frame, so the shape survives any row count; only step (3) is
    * global and it scales with the BIN count. */
  val SkylineBinCents = 10000L // $100 price bins

  def q123Skyline(spark: SparkSession, dir: String): DataFrame = {
    val p = Tables(spark, dir).part.select(
      col("p_partkey"), col("p_size"),
      round(col("p_retailprice") * 100).cast("long").as("price_cents"))
    val front = graft.operators.Skyline
      .paretoFront2D(p.select("price_cents", "p_size"),
        x = "price_cents", y = "p_size", binWidth = SkylineBinCents)
      // fresh names: front derives from p, so joining back on the raw
      // columns would collide attribute ids (self-join ambiguity)
      .select(col("price_cents").as("f_cents"), col("p_size").as("f_size"))
    p.join(broadcast(front),
        col("price_cents") === col("f_cents") &&
          col("p_size") === col("f_size"))
      .select("p_partkey", "price_cents", "p_size")
      .orderBy("price_cents", "p_partkey")
  }

  val q123Sql: String =
    """WITH p AS (
      |  SELECT p_partkey, p_size,
      |    CAST(round(p_retailprice * 100) AS BIGINT) AS price_cents
      |  FROM part)
      |SELECT p_partkey, price_cents, p_size FROM p r
      |WHERE NOT EXISTS (
      |  SELECT 1 FROM p s
      |  WHERE s.price_cents <= r.price_cents AND s.p_size >= r.p_size
      |    AND (s.price_cents < r.price_cents OR s.p_size > r.p_size))
      |ORDER BY price_cents, p_partkey""".stripMargin

  // --------------------------------------------------------------- q124
  /** Per-event-type traffic trend: OLS slope of daily event counts vs
    * epoch day, events/day². One map-side-combined daily rollup, then
    * the five OLS moments (n, Σx, Σy, Σxy, Σx²) as EXACT BIGINTs per
    * type — numerator n·Σxy − Σx·Σy and denominator n·Σx² − (Σx)² stay
    * integer (magnitudes ≤ ~2^40 here; at larger spans center x first),
    * so the slope is ONE double division both engines perform on
    * identical integers. */
  def q124TrendSlope(spark: SparkSession, dir: String): DataFrame = {
    val daily = Tables(spark, dir).events
      .select(col("event_type"), expr("ts_ns DIV 86400000000000").as("day"))
      .groupBy("event_type", "day").agg(count(lit(1)).as("c"))
    daily.groupBy("event_type")
      .agg(
        count(lit(1)).as("n_days"),
        sum("day").as("sx"),
        sum("c").as("sy"),
        sum(col("day") * col("c")).as("sxy"),
        sum(col("day") * col("day")).as("sxx"))
      .withColumn("num", col("n_days") * col("sxy") - col("sx") * col("sy"))
      .withColumn("den", col("n_days") * col("sxx") - col("sx") * col("sx"))
      .withColumn("slope_per_day",
        when(col("den") === 0L, lit(null).cast("double"))
          .otherwise(round(col("num").cast("double") / col("den"), 6)))
      .select("event_type", "n_days", "sy", "slope_per_day")
      .withColumnRenamed("sy", "n_events")
      .orderBy("event_type")
  }

  val q124Sql: String =
    """WITH daily AS (
      |  SELECT event_type, epoch_ns(ts) // 86400000000000 AS day,
      |    CAST(count(*) AS BIGINT) AS c
      |  FROM events GROUP BY 1, 2),
      |m AS (
      |  SELECT event_type,
      |    CAST(count(*) AS BIGINT) AS n_days,
      |    CAST(sum(day) AS BIGINT) AS sx,
      |    CAST(sum(c) AS BIGINT) AS sy,
      |    CAST(sum(day * c) AS BIGINT) AS sxy,
      |    CAST(sum(day * day) AS BIGINT) AS sxx
      |  FROM daily GROUP BY 1)
      |SELECT event_type, n_days, sy AS n_events,
      |  CASE WHEN n_days * sxx - sx * sx = 0 THEN NULL
      |    ELSE round(CAST(n_days * sxy - sx * sy AS DOUBLE)
      |      / (n_days * sxx - sx * sx), 6) END AS slope_per_day
      |FROM m ORDER BY event_type""".stripMargin

  // --------------------------------------------------------------- q125
  /** Zipf-law fit over the token frequency spectrum: OLS slope of
    * ln(freq) on ln(rank) for the top-K tokens — the corpus-health
    * number (≈ −1 for natural text) a pretraining pipeline tracks to
    * spot TEMPLATED or truncated-vocabulary data. The census is a
    * map-side-combined groupBy; the fit runs on the K-row head, folded
    * sequentially in rank order (sort_array + `aggregate`, the pinned-
    * association-order device — DuckDB mirrors with ordered `list` +
    * `list_reduce`, both left folds, so every partial sum associates
    * identically) and the final slope rounds to 4dp to absorb ≤1-ulp
    * `ln` divergence (q89's discipline). */
  val ZipfTopK = 500

  def q125ZipfSlope(spark: SparkSession, dir: String): DataFrame = {
    val freq = Tables(spark, dir).documents
      .select(explode(split(col("text"), " ")).as("tok"))
      .groupBy("tok").agg(count(lit(1)).as("c"))
    val ranked = freq
      .orderBy(desc("c"), col("tok")).limit(ZipfTopK)
      // global window is SAFE here: it ranks the post-limit ≤ZipfTopK
      // rows (a TakeOrdered result), never the token census
      .withColumn("r",
        row_number().over(Window.orderBy(desc("c"), col("tok"))).cast("long"))
    val folded = ranked
      .agg(sort_array(collect_list(struct(col("r"), col("c")))).as("a"))
      .withColumn("n", size(col("a")).cast("double"))
      .withColumn("sx", expr(
        "aggregate(a, 0D, (acc, s) -> acc + ln(CAST(s.r AS DOUBLE)))"))
      .withColumn("sy", expr(
        "aggregate(a, 0D, (acc, s) -> acc + ln(CAST(s.c AS DOUBLE)))"))
      .withColumn("sxy", expr(
        "aggregate(a, 0D, (acc, s) -> acc + ln(CAST(s.r AS DOUBLE)) " +
          "* ln(CAST(s.c AS DOUBLE)))"))
      .withColumn("sxx", expr(
        "aggregate(a, 0D, (acc, s) -> acc + ln(CAST(s.r AS DOUBLE)) " +
          "* ln(CAST(s.r AS DOUBLE)))"))
    // (n*sxy − sx*sy) / (n*sxx − sx*sx) in this exact association order
    folded.select(
      col("n").cast("long").as("n_top"),
      round((col("n") * col("sxy") - col("sx") * col("sy")) /
        (col("n") * col("sxx") - col("sx") * col("sx")), 4)
        .as("zipf_slope"))
  }

  val q125Sql: String =
    s"""WITH f AS (
       |  SELECT tok, CAST(count(*) AS BIGINT) AS c
       |  FROM (SELECT unnest(string_split(text, ' ')) AS tok FROM documents)
       |  GROUP BY 1),
       |top AS (
       |  SELECT c, CAST(row_number() OVER (ORDER BY c DESC, tok) AS BIGINT)
       |    AS r
       |  FROM f ORDER BY c DESC, tok LIMIT $ZipfTopK),
       |l AS (
       |  SELECT CAST(count(*) AS DOUBLE) AS n,
       |    list(ln(CAST(r AS DOUBLE)) ORDER BY r) AS lx,
       |    list(ln(CAST(c AS DOUBLE)) ORDER BY r) AS ly,
       |    list(ln(CAST(r AS DOUBLE)) * ln(CAST(c AS DOUBLE)) ORDER BY r)
       |      AS lxy,
       |    list(ln(CAST(r AS DOUBLE)) * ln(CAST(r AS DOUBLE)) ORDER BY r)
       |      AS lxx
       |  FROM top),
       |s AS (
       |  SELECT n,
       |    list_reduce(lx, (a, b) -> a + b) AS sx,
       |    list_reduce(ly, (a, b) -> a + b) AS sy,
       |    list_reduce(lxy, (a, b) -> a + b) AS sxy,
       |    list_reduce(lxx, (a, b) -> a + b) AS sxx
       |  FROM l)
       |SELECT CAST(n AS BIGINT) AS n_top,
       |  round((n * sxy - sx * sy) / (n * sxx - sx * sx), 4) AS zipf_slope
       |FROM s""".stripMargin

  // --------------------------------------------------------------- q126
  /** Exact distinct users per event type through the two-stage SALTED
    * aggregation (operators.Salting.saltedDistinctCount): partial
    * distinct on (key, hash(value) % salts), final sum on key. For an
    * algebraic count Catalyst's partial aggregation makes this
    * redundant; for exact DISTINCT it is the manual skew spread — one
    * hot event_type's users fan over `salts` tasks instead of one.
    * Value-hashed salting keeps partials disjoint, so the sum is exact
    * (oracle: plain COUNT(DISTINCT)). */
  def q126SaltedDistinct(spark: SparkSession, dir: String): DataFrame =
    graft.operators.Salting
      .saltedDistinctCount(
        Tables(spark, dir).events, key = "event_type",
        valueCol = "user_id", salts = 16)
      .withColumnRenamed("distinct_count", "n_users")
      .orderBy("event_type")

  val q126Sql: String =
    """SELECT event_type, CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
      |FROM events GROUP BY 1 ORDER BY event_type""".stripMargin

  // --------------------------------------------------------------- q127
  /** Cumulative distinct-user growth curve by day — the audience-growth
    * / vocabulary-growth query. The naive form (COUNT(DISTINCT) over an
    * expanding window) re-scans all history per day; the scalable form
    * maps each user to their FIRST day (one key-partitioned agg), counts
    * first-appearances per day, and prefix-sums the ≤#days-row result —
    * cumulative distinct without any expanding re-scan, the same
    * first-occurrence device as q92's n-gram novelty. */
  def q127DistinctGrowth(spark: SparkSession, dir: String): DataFrame = {
    val days = Tables(spark, dir).events
      .select(col("user_id"), expr("ts_ns DIV 86400000000000").as("day"))
    val newPerDay = days.groupBy("user_id").agg(min("day").as("day"))
      .groupBy("day").agg(count(lit(1)).as("n_new_users"))
    val allDays = days.select("day").distinct()
    allDays.join(newPerDay, Seq("day"), "left")
      .na.fill(0L, Seq("n_new_users"))
      // global window is SAFE here: the frame is the ≤|days|-row daily
      // rollup (calendar-bounded), never the event stream
      .withColumn("cum_users", sum("n_new_users").over(Window.orderBy("day")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .orderBy("day")
  }

  val q127Sql: String =
    """WITH e AS (
      |  SELECT user_id, epoch_ns(ts) // 86400000000000 AS day FROM events),
      |f AS (SELECT user_id, min(day) AS day FROM e GROUP BY 1),
      |n AS (SELECT day, CAST(count(*) AS BIGINT) AS n_new_users
      |      FROM f GROUP BY 1),
      |d AS (SELECT DISTINCT day FROM e)
      |SELECT d.day, coalesce(n.n_new_users, 0) AS n_new_users,
      |  CAST(sum(coalesce(n.n_new_users, 0)) OVER (ORDER BY d.day
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
      |    AS cum_users
      |FROM d LEFT JOIN n ON n.day = d.day ORDER BY d.day""".stripMargin

  // --------------------------------------------------------------- q128
  /** Recency-decayed user value: Σ cents·2^(−age_days) over the user's
    * last 30 days — the half-life-per-day featurization every ranking /
    * churn model wants. Exact across engines because the decay is
    * SCALED INTEGER arithmetic: weight 2^(30−age) is an exact BIGINT
    * (age ∈ [0,30] after the window filter), cents·weight sums exactly,
    * and one final division by 2^30 produces the only double. Overflow
    * headroom: cents ≤ 2^17 leaves 2^(63−17−30) = 2^16 max-value
    * same-day events per user; at bigger scale drop the scale exponent
    * or pre-aggregate per (user, day) first. */
  def q128DecayScore(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables(spark, dir).events.select(
      col("user_id"),
      round(col("value") * 100).cast("long").as("cents"),
      expr("ts_ns DIV 86400000000000").as("day"))
    val maxDay = ev.agg(max("day").as("max_day"))
    ev.crossJoin(broadcast(maxDay))
      .withColumn("age", col("max_day") - col("day"))
      .filter(col("age") <= 30)
      .withColumn("w", pow(lit(2.0), lit(30) - col("age")).cast("long"))
      .groupBy("user_id")
      .agg(count(lit(1)).as("n_events"),
        sum(col("cents") * col("w")).as("scaled"))
      .withColumn("decay_cents",
        round(col("scaled").cast("double") / lit(1073741824.0), 4))
      .select("user_id", "n_events", "decay_cents")
      .orderBy("user_id")
  }

  val q128Sql: String =
    """WITH mx AS (
      |  SELECT max(epoch_ns(ts) // 86400000000000) AS max_day FROM events),
      |e AS (
      |  SELECT user_id, CAST(round(value * 100) AS BIGINT) AS cents,
      |    max_day - epoch_ns(ts) // 86400000000000 AS age
      |  FROM events, mx),
      |f AS (
      |  SELECT user_id, CAST(count(*) AS BIGINT) AS n_events,
      |    CAST(sum(cents * CAST(power(2.0, 30 - age) AS BIGINT)) AS BIGINT)
      |      AS scaled
      |  FROM e WHERE age <= 30 GROUP BY 1)
      |SELECT user_id, n_events,
      |  round(CAST(scaled AS DOUBLE) / 1073741824.0, 4) AS decay_cents
      |FROM f ORDER BY user_id""".stripMargin

  // --------------------------------------------------------------- q129
  /** Join-key skew audit — the planning query this engine's OWN 100 TB
    * guidance depends on: per-key row counts for three join keys, then
    * n_keys / max / exact-p99 / skew ratio per relation. A key whose
    * skew_ratio (max over mean) is large is the one that needs salting
    * (q126) or AQE skew splitting. Everything is a map-side-combined
    * count plus rank arithmetic on the already-aggregated per-key frame;
    * the only doubles are two rounded ratios of exact integers. Scale
    * shape (round-11): the per-key frame is |distinct keys|-sized —
    * corpus-proportional — and `relation` has THREE values, so the old
    * per-relation window funneled a third of it through one task; the
    * p99 rank is [[graft.operators.GlobalRank.withGroupRowNumber]]
    * (distributed rank − broadcast group offsets, nk on the same
    * 3-row broadcast), and the per-relation rollup aggregates the
    * ranked frame, so the three count aggregates run once. */
  def q129KeySkew(spark: SparkSession, dir: String): DataFrame = {
    val t = Tables(spark, dir)
    def counts(df: DataFrame, keyCol: String, name: String): DataFrame =
      df.groupBy(col(keyCol).as("k")).agg(count(lit(1)).as("c"))
        .withColumn("relation", lit(name))
    val all = counts(t.events, "user_id", "events.user_id")
      .unionAll(counts(t.lineitem, "l_suppkey", "lineitem.l_suppkey"))
      .unionAll(counts(t.orders, "o_custkey", "orders.o_custkey"))
    graft.operators.GlobalRank.withGroupRowNumber(all,
        Seq("relation"), Seq(col("c").asc, col("k").asc), "rn",
        countOut = "nk")
      .groupBy("relation")
      .agg(max("nk").as("n_keys"), sum("c").as("total_rows"),
        max("c").as("max_key_rows"),
        max(when(col("rn") === expr("(99 * nk + 99) DIV 100"), col("c")))
          .as("p99_key_rows"))
      .withColumn("skew_ratio", round(
        (col("max_key_rows") * col("n_keys")).cast("double") /
          col("total_rows"), 4))
      .select("relation", "n_keys", "total_rows", "max_key_rows",
        "p99_key_rows", "skew_ratio")
      .orderBy("relation")
  }

  val q129Sql: String =
    """WITH ec AS (
      |  SELECT 'events.user_id' AS relation, user_id AS k,
      |    CAST(count(*) AS BIGINT) AS c FROM events GROUP BY 2),
      |lc AS (
      |  SELECT 'lineitem.l_suppkey' AS relation, l_suppkey AS k,
      |    CAST(count(*) AS BIGINT) AS c FROM lineitem GROUP BY 2),
      |oc AS (
      |  SELECT 'orders.o_custkey' AS relation, o_custkey AS k,
      |    CAST(count(*) AS BIGINT) AS c FROM orders GROUP BY 2),
      |a AS (SELECT * FROM ec UNION ALL SELECT * FROM lc
      |      UNION ALL SELECT * FROM oc),
      |r AS (
      |  SELECT *, CAST(row_number() OVER (PARTITION BY relation
      |      ORDER BY c, k) AS BIGINT) AS rn,
      |    CAST(count(*) OVER (PARTITION BY relation) AS BIGINT) AS nk
      |  FROM a),
      |p AS (SELECT relation, c AS p99_key_rows FROM r
      |      WHERE rn = (99 * nk + 99) // 100),
      |s AS (
      |  SELECT relation, CAST(count(*) AS BIGINT) AS n_keys,
      |    CAST(sum(c) AS BIGINT) AS total_rows,
      |    CAST(max(c) AS BIGINT) AS max_key_rows
      |  FROM a GROUP BY 1)
      |SELECT s.relation, n_keys, total_rows, max_key_rows, p99_key_rows,
      |  round(CAST(max_key_rows * n_keys AS DOUBLE) / total_rows, 4)
      |    AS skew_ratio
      |FROM s JOIN p ON p.relation = s.relation
      |ORDER BY s.relation""".stripMargin

  // --------------------------------------------------------------- q131
  /** Point-in-time (leakage-free) feature extraction: for every
    * purchase, the user's view count over the TRAILING 24 h and their
    * lifetime spend STRICTLY BEFORE this moment — the as-of-correct
    * features a training pipeline must compute (using same-time or
    * later data is label leakage). Both features are RANGE-frame
    * windows on the microsecond axis, so simultaneous events are
    * excluded identically in both engines regardless of row order —
    * point-in-time correctness is a property of the VALUE frame, not a
    * sort tiebreak. One shuffle on user_id serves both windows. */
  def q131PitFeatures(spark: SparkSession, dir: String): DataFrame = {
    val ev = eventsUs(spark, dir)
      .withColumn("cents", round(col("value") * 100).cast("long"))
    val base = Window.partitionBy("user_id").orderBy("ts_us")
    val last24h = base.rangeBetween(-86400000000L, -1)
    val before = base.rangeBetween(Window.unboundedPreceding, -1)
    ev
      .withColumn("n_views_24h", coalesce(
        sum(when(col("event_type") === "view", 1L)).over(last24h), lit(0L)))
      .withColumn("spend_before_cents", coalesce(
        sum(when(col("event_type") === "purchase", col("cents")))
          .over(before), lit(0L)))
      .filter(col("event_type") === "purchase")
      .select("event_id", "user_id", "ts_us", "n_views_24h",
        "spend_before_cents")
      .orderBy("event_id")
  }

  val q131Sql: String =
    """WITH e AS (
      |  SELECT event_id, user_id, event_type, epoch_ns(ts) // 1000 AS ts_us,
      |    CAST(round(value * 100) AS BIGINT) AS cents
      |  FROM events),
      |f AS (
      |  SELECT *,
      |    CAST(coalesce(sum(CASE WHEN event_type = 'view' THEN 1 END)
      |      OVER (PARTITION BY user_id ORDER BY ts_us
      |        RANGE BETWEEN 86400000000 PRECEDING AND 1 PRECEDING), 0)
      |      AS BIGINT) AS n_views_24h,
      |    CAST(coalesce(sum(CASE WHEN event_type = 'purchase' THEN cents END)
      |      OVER (PARTITION BY user_id ORDER BY ts_us
      |        RANGE BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
      |      AS BIGINT) AS spend_before_cents
      |  FROM e)
      |SELECT event_id, user_id, ts_us, n_views_24h, spend_before_cents
      |FROM f WHERE event_type = 'purchase' ORDER BY event_id""".stripMargin

  // --------------------------------------------------------------- q132
  /** Data-profiling pass over `orders`: per column, null count and
    * EXACT distinct cardinality — the schema-audit a pipeline runs
    * before trusting a new snapshot. All six distinct aggregates run
    * in ONE Aggregate (Catalyst Expand: the input fans out once per
    * distinct column — the documented cost of exactness; the 100 TB
    * variant swaps in approx_count_distinct and loses the Expand),
    * then the single wide row unpivots with stack(). */
  def q132Profile(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables(spark, dir).orders
    val cols = Seq("o_orderkey", "o_custkey", "o_orderstatus",
      "o_totalprice", "o_orderdate", "o_orderpriority")
    val aggs = cols.flatMap { c =>
      Seq(sum(when(col(c).isNull, 1L).otherwise(0L)).as(s"${c}_nulls"),
        countDistinct(col(c)).as(s"${c}_distinct"))
    }
    val wide = o.agg(aggs.head, aggs.tail: _*)
    val stackArgs = cols
      .map(c => s"'$c', ${c}_nulls, ${c}_distinct").mkString(", ")
    wide.select(expr(
        s"stack(${cols.size}, $stackArgs) AS (column_name, n_null, n_distinct)"))
      .orderBy("column_name")
  }

  val q132Sql: String = {
    val cols = Seq("o_orderkey", "o_custkey", "o_orderstatus",
      "o_totalprice", "o_orderdate", "o_orderpriority")
    cols.map { c =>
      s"""SELECT '$c' AS column_name,
         |  CAST(sum(CASE WHEN $c IS NULL THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_null,
         |  CAST(count(DISTINCT $c) AS BIGINT) AS n_distinct
         |FROM orders""".stripMargin
    }.mkString("", "\nUNION ALL\n", "\nORDER BY column_name")
  }

  // --------------------------------------------------------------- q133
  /** Referential-integrity audit over every foreign-key edge of the
    * star schema: orphan counts per edge in one report. Each edge is a
    * LEFT ANTI join — dimension sides broadcast, the two lineitem
    * probes share one scan each — so the audit costs one pass over
    * each child table at any scale. Clean data ⇒ all zeros; the query
    * exists so a 100 TB ingest can PROVE that instead of assuming it. */
  def q133RiAudit(spark: SparkSession, dir: String): DataFrame = {
    val t = Tables(spark, dir)
    def orphans(child: DataFrame, childKey: String, parent: DataFrame,
                parentKey: String, edge: String): DataFrame = {
      val n = child.join(
          broadcast(parent.select(col(parentKey).as(childKey)).distinct()),
          Seq(childKey), "left_anti")
        .agg(count(lit(1)).as("n_orphans"))
      val tot = child.agg(count(lit(1)).as("n_child_rows"))
      n.crossJoin(tot).withColumn("fk_edge", lit(edge))
        .select("fk_edge", "n_orphans", "n_child_rows")
    }
    Seq(
      orphans(t.lineitem, "l_orderkey", t.orders, "o_orderkey",
        "lineitem->orders"),
      orphans(t.lineitem, "l_partkey", t.part, "p_partkey",
        "lineitem->part"),
      orphans(t.lineitem, "l_suppkey", t.supplier, "s_suppkey",
        "lineitem->supplier"),
      orphans(t.orders, "o_custkey", t.customer, "c_custkey",
        "orders->customer"),
      orphans(t.customer, "c_nationkey", t.nation, "n_nationkey",
        "customer->nation"),
      orphans(t.supplier, "s_nationkey", t.nation, "n_nationkey",
        "supplier->nation"),
      orphans(t.nation, "n_regionkey", t.region, "r_regionkey",
        "nation->region"))
      .reduce(_.unionAll(_))
      .orderBy("fk_edge")
  }

  val q133Sql: String = {
    val edges = Seq(
      ("lineitem->orders", "lineitem", "l_orderkey", "orders", "o_orderkey"),
      ("lineitem->part", "lineitem", "l_partkey", "part", "p_partkey"),
      ("lineitem->supplier", "lineitem", "l_suppkey", "supplier",
        "s_suppkey"),
      ("orders->customer", "orders", "o_custkey", "customer", "c_custkey"),
      ("customer->nation", "customer", "c_nationkey", "nation",
        "n_nationkey"),
      ("supplier->nation", "supplier", "s_nationkey", "nation",
        "n_nationkey"),
      ("nation->region", "nation", "n_regionkey", "region", "r_regionkey"))
    edges.map { case (edge, child, ck, parent, pk) =>
      s"""SELECT '$edge' AS fk_edge,
         |  CAST((SELECT count(*) FROM $child
         |        WHERE $ck NOT IN (SELECT $pk FROM $parent)) AS BIGINT)
         |    AS n_orphans,
         |  CAST((SELECT count(*) FROM $child) AS BIGINT) AS n_child_rows""".stripMargin
    }.mkString("", "\nUNION ALL\n", "\nORDER BY fk_edge")
  }

  // --------------------------------------------------------------- q134
  /** Session path mining: the top-20 most common 5-step event-type
    * journeys. Sessions are 30-minute-gap islands per user (q14's
    * boundary rule); each session's ordered type sequence truncates to
    * its first 5 steps and paths are censused. The per-session
    * sequence materializes via collect_list + sort_array on the
    * (ts_us, event_id) total order — bounded by session length, never
    * by user history — and the census is a map-side-combined count. */
  val SessionGapUs = 1800000000L // 30 minutes

  def q134SessionPaths(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
    val sess = eventsUs(spark, dir)
      .withColumn("prev_us", lag("ts_us", 1).over(w))
      .withColumn("new_sess",
        when(col("prev_us").isNull ||
          col("ts_us") - col("prev_us") > lit(SessionGapUs), 1L)
          .otherwise(0L))
      .withColumn("sess_id", sum("new_sess").over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    sess.groupBy("user_id", "sess_id")
      .agg(sort_array(collect_list(
        struct(col("ts_us"), col("event_id"), col("event_type")))).as("seq"))
      .select(array_join(
        slice(expr("transform(seq, x -> x.event_type)"), 1, 5), ">")
        .as("path"))
      .groupBy("path").agg(count(lit(1)).as("n_sessions"))
      .orderBy(desc("n_sessions"), col("path"))
      .limit(20)
  }

  val q134Sql: String =
    s"""WITH e AS (
       |  SELECT event_id, user_id, event_type, epoch_ns(ts) // 1000 AS ts_us
       |  FROM events),
       |l AS (
       |  SELECT *, lag(ts_us) OVER w AS prev_us,
       |    CASE WHEN lag(ts_us) OVER w IS NULL
       |      OR ts_us - lag(ts_us) OVER w > $SessionGapUs
       |      THEN 1 ELSE 0 END AS new_sess
       |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id)),
       |s AS (
       |  SELECT *, sum(new_sess) OVER (PARTITION BY user_id
       |    ORDER BY ts_us, event_id
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sess_id
       |  FROM l),
       |p AS (
       |  SELECT array_to_string(
       |    list(event_type ORDER BY ts_us, event_id)[:5], '>') AS path
       |  FROM s GROUP BY user_id, sess_id)
       |SELECT path, CAST(count(*) AS BIGINT) AS n_sessions
       |FROM p GROUP BY 1 ORDER BY n_sessions DESC, path LIMIT 20""".stripMargin

  // --------------------------------------------------------------- q136
  /** Source-mix drift monitor: χ² contributions of each source to the
    * independence test between corpus half (by doc_id) and source —
    * the metadata-drift alarm next to q108's content-drift log-odds
    * (did the ingest MIXTURE shift, independent of what the text
    * says?). All observed/marginal counts are exact BIGINTs from one
    * map-side-combined groupBy; expected counts and the two per-source
    * contribution terms are the only doubles, in one pinned
    * association order. Per-source rows keep the sum decomposable —
    * the total χ² is their exact-order sum if a monitor wants the
    * single statistic. */
  def q136SourceDrift(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables(spark, dir).documents.select("doc_id", "source")
    val mid = d.agg(((max("doc_id") + 1L) / lit(2L)).cast("long").as("mid"))
    val o = d.crossJoin(broadcast(mid))
      .groupBy("source")
      .agg(
        sum(when(col("doc_id") < col("mid"), 1L).otherwise(0L))
          .as("n_first"),
        sum(when(col("doc_id") >= col("mid"), 1L).otherwise(0L))
          .as("n_second"))
    val tot = o.agg(sum("n_first").as("t_first"),
      sum("n_second").as("t_second"),
      sum(col("n_first") + col("n_second")).as("n"))
    o.crossJoin(broadcast(tot))
      .withColumn("e1",
        (col("n_first") + col("n_second")).cast("double") *
          col("t_first") / col("n"))
      .withColumn("e2",
        (col("n_first") + col("n_second")).cast("double") *
          col("t_second") / col("n"))
      .withColumn("chi2_contrib", round(
        ((col("n_first") - col("e1")) * (col("n_first") - col("e1"))) /
          col("e1") +
          ((col("n_second") - col("e2")) * (col("n_second") - col("e2"))) /
            col("e2"), 6))
      .select("source", "n_first", "n_second", "chi2_contrib")
      .orderBy("source")
  }

  val q136Sql: String =
    """WITH m AS (
      |  SELECT CAST((max(doc_id) + 1) // 2 AS BIGINT) AS mid
      |  FROM documents),
      |o AS (
      |  SELECT source,
      |    CAST(sum(CASE WHEN doc_id < mid THEN 1 ELSE 0 END) AS BIGINT)
      |      AS n_first,
      |    CAST(sum(CASE WHEN doc_id >= mid THEN 1 ELSE 0 END) AS BIGINT)
      |      AS n_second
      |  FROM documents, m GROUP BY 1),
      |t AS (
      |  SELECT CAST(sum(n_first) AS BIGINT) AS t_first,
      |    CAST(sum(n_second) AS BIGINT) AS t_second,
      |    CAST(sum(n_first + n_second) AS BIGINT) AS n
      |  FROM o)
      |SELECT source, n_first, n_second,
      |  round(
      |    ((n_first - CAST(n_first + n_second AS DOUBLE) * t_first / n)
      |     * (n_first - CAST(n_first + n_second AS DOUBLE) * t_first / n))
      |    / (CAST(n_first + n_second AS DOUBLE) * t_first / n)
      |    + ((n_second - CAST(n_first + n_second AS DOUBLE) * t_second / n)
      |       * (n_second - CAST(n_first + n_second AS DOUBLE) * t_second / n))
      |    / (CAST(n_first + n_second AS DOUBLE) * t_second / n), 6)
      |    AS chi2_contrib
      |FROM o, t ORDER BY source""".stripMargin

  // --------------------------------------------------------------- q137
  /** Nearest-in-time join: every view matched to the user's CLOSEST
    * purchase in either direction — the symmetric completion of the
    * as-of family (q55 backward, q118 forward), composed FROM those
    * two operators: each is one union + window pass, and the winner is
    * a projection over their two candidates. Tie rules, all pinned:
    * same-instant purchases never match (both sides are strict);
    * equal |gap| prefers the earlier purchase; ties within an instant
    * inherit each side's id rule (backward: largest id, forward:
    * smallest). Sentinels: no purchase at all → id −1, gap 0 (a real
    * gap is never 0 — same-instant is excluded). */
  def q137NearestJoin(spark: SparkSession, dir: String): DataFrame = {
    val ev = eventsUs(spark, dir)
    val views = ev.filter(col("event_type") === "view")
      .select("event_id", "user_id", "ts_us")
    val purchases = ev.filter(col("event_type") === "purchase")
      .select("event_id", "user_id", "ts_us")
    val back = graft.operators.AsOfJoin
      .asOf(views, purchases, "user_id", "ts_us", "event_id", "event_id")
      .withColumnRenamed("asof_id", "back_id")
      .withColumnRenamed("asof_ts", "back_ts")
    val both = graft.operators.AsOfJoin
      .asOfForward(back, purchases, "user_id", "ts_us", "event_id",
        "event_id")
      .withColumnRenamed("asof_id", "fwd_id")
      .withColumnRenamed("asof_ts", "fwd_ts")
    both
      .withColumn("back_gap", col("ts_us") - col("back_ts"))
      .withColumn("fwd_gap", col("fwd_ts") - col("ts_us"))
      .withColumn("use_back",
        col("back_id").isNotNull &&
          (col("fwd_id").isNull || col("back_gap") <= col("fwd_gap")))
      .select(
        col("event_id"), col("user_id"), col("ts_us"),
        coalesce(when(col("use_back"), col("back_id"))
          .otherwise(col("fwd_id")), lit(-1L)).as("nearest_purchase_id"),
        coalesce(when(col("use_back"), -col("back_gap"))
          .otherwise(col("fwd_gap")), lit(0L)).as("signed_gap_us"))
      .orderBy("event_id")
  }

  /** Brute-force oracle: rank each view's purchase candidates by
    * (|gap|, earlier-side-first, side-specific id rule) and keep the
    * top row — the spelled-out form of the two composed as-ofs. */
  val q137Sql: String =
    """WITH e AS (
      |  SELECT event_id, user_id, event_type, epoch_ns(ts) // 1000 AS ts_us
      |  FROM events),
      |v AS (SELECT event_id, user_id, ts_us FROM e
      |      WHERE event_type = 'view'),
      |p AS (SELECT event_id, user_id, ts_us FROM e
      |      WHERE event_type = 'purchase'),
      |c AS (
      |  SELECT v.event_id, v.user_id, v.ts_us,
      |    p.event_id AS p_id, p.ts_us AS p_us,
      |    abs(p.ts_us - v.ts_us) AS d,
      |    CASE WHEN p.ts_us < v.ts_us THEN 0 ELSE 1 END AS later,
      |    row_number() OVER (PARTITION BY v.event_id ORDER BY
      |      abs(p.ts_us - v.ts_us),
      |      CASE WHEN p.ts_us < v.ts_us THEN 0 ELSE 1 END,
      |      CASE WHEN p.ts_us < v.ts_us THEN -p.event_id
      |           ELSE p.event_id END) AS rn
      |  FROM v JOIN p ON p.user_id = v.user_id AND p.ts_us <> v.ts_us)
      |SELECT v.event_id, v.user_id, v.ts_us,
      |  coalesce(c.p_id, -1) AS nearest_purchase_id,
      |  coalesce(CASE WHEN c.later = 1 THEN c.d ELSE -c.d END, 0)
      |    AS signed_gap_us
      |FROM v LEFT JOIN (SELECT * FROM c WHERE rn = 1) c
      |  ON c.event_id = v.event_id
      |ORDER BY v.event_id""".stripMargin

  // --------------------------------------------------------------- q138
  /** Cohort LTV curve: cumulative purchase value per acquisition
    * cohort as a function of account age — the revenue companion of
    * q94's retention matrix. Cohort = the user's first event day (one
    * key-partitioned min + a co-partitioned join-back); spend
    * aggregates to (cohort, age) exact cents; the cumulative prefix
    * runs per cohort on the ≤ days²-row aggregated frame. */
  def q138LtvCurve(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables(spark, dir).events.select(
      col("user_id"), col("event_type"),
      round(col("value") * 100).cast("long").as("cents"),
      expr("ts_ns DIV 86400000000000").as("day"))
    val cohort = ev.groupBy("user_id").agg(min("day").as("cohort_day"))
    val spend = ev.filter(col("event_type") === "purchase")
      .join(cohort, "user_id")
      .groupBy(col("cohort_day"), (col("day") - col("cohort_day"))
        .as("age_days"))
      .agg(count(lit(1)).as("n_purchases"), sum("cents").as("spend_cents"))
    spend
      // per-cohort window is SAFE: the frame is the (cohort_day,
      // age_days) rollup — ≤ days² rows, calendar-bounded
      .withColumn("cum_spend_cents", sum("spend_cents").over(
        Window.partitionBy("cohort_day").orderBy("age_days")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .select("cohort_day", "age_days", "n_purchases", "cum_spend_cents")
      .orderBy("cohort_day", "age_days")
  }

  val q138Sql: String =
    """WITH e AS (
      |  SELECT user_id, event_type, CAST(round(value * 100) AS BIGINT)
      |      AS cents,
      |    epoch_ns(ts) // 86400000000000 AS day
      |  FROM events),
      |c AS (SELECT user_id, min(day) AS cohort_day FROM e GROUP BY 1),
      |s AS (
      |  SELECT cohort_day, day - cohort_day AS age_days,
      |    CAST(count(*) AS BIGINT) AS n_purchases,
      |    CAST(sum(cents) AS BIGINT) AS spend_cents
      |  FROM e JOIN c USING (user_id)
      |  WHERE event_type = 'purchase' GROUP BY 1, 2)
      |SELECT cohort_day, age_days, n_purchases,
      |  CAST(sum(spend_cents) OVER (PARTITION BY cohort_day
      |    ORDER BY age_days
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
      |    AS cum_spend_cents
      |FROM s ORDER BY cohort_day, age_days""".stripMargin

  // --------------------------------------------------------------- q139
  /** DAU / trailing-7-day WAU — THE engagement query. The scalable
    * form never runs a per-day distinct over raw history: dedupe to
    * (user, active-day) once, then each active day COVERS days
    * d..d+6 (a 7-row explode of the already-deduplicated frame), and
    * WAU is an exact distinct per covered day. Cost is 7× the
    * user-day frame — independent of raw event volume — vs the naive
    * 7-day rescan per day. Days with no events emit nothing (match
    * the observed-day relation, like q127). */
  def q139ActiveUsers(spark: SparkSession, dir: String): DataFrame = {
    val ud = Tables(spark, dir).events
      .select(col("user_id"), expr("ts_ns DIV 86400000000000").as("day"))
      .distinct()
    val dau = ud.groupBy("day").agg(countDistinct("user_id").as("dau"))
    val wau = ud
      .withColumn("cover_day",
        explode(expr("sequence(day, day + 6)")))
      .groupBy(col("cover_day").as("day"))
      .agg(countDistinct("user_id").as("wau"))
    dau.join(wau, "day") // inner: covered days beyond the horizon drop
      .select("day", "dau", "wau")
      .orderBy("day")
  }

  val q139Sql: String =
    """WITH ud AS (
      |  SELECT DISTINCT user_id, epoch_ns(ts) // 86400000000000 AS day
      |  FROM events),
      |dau AS (
      |  SELECT day, CAST(count(DISTINCT user_id) AS BIGINT) AS dau
      |  FROM ud GROUP BY 1),
      |wau AS (
      |  SELECT d.day, CAST(count(DISTINCT ud.user_id) AS BIGINT) AS wau
      |  FROM (SELECT DISTINCT day FROM ud) d
      |  JOIN ud ON ud.day BETWEEN d.day - 6 AND d.day
      |  GROUP BY 1)
      |SELECT day, dau, wau FROM dau JOIN wau USING (day)
      |ORDER BY day""".stripMargin

  // --------------------------------------------------------------- q140
  /** Seasonality-aware volume anomalies: a (type, day) count is
    * anomalous only against its own DAY-OF-WEEK median — the seasonal
    * upgrade of q102's flat median bar (weekend dips stop masquerading
    * as anomalies). Medians are exact lower-median order statistics
    * per (type, dow) via rank arithmetic on the ≤ types×days count
    * frame; all comparisons are integer (2× the median, both
    * directions). Epoch day 0 is a Thursday: dow = (day + 4) % 7 puts
    * Sunday at 0 in both engines. */
  def q140SeasonalAnomaly(spark: SparkSession, dir: String): DataFrame = {
    val daily = Tables(spark, dir).events
      .select(col("event_type"), expr("ts_ns DIV 86400000000000").as("day"))
      .groupBy("event_type", "day").agg(count(lit(1)).as("c"))
      .withColumn("dow", expr("(day + 4) % 7"))
    // per-(type, dow) window is SAFE: the frame is the daily rollup
    // (types × days rows, calendar-bounded), partitions ≤ days/7 rows
    val w = Window.partitionBy("event_type", "dow")
      .orderBy(col("c").asc, col("day").asc)
    val med = daily
      .withColumn("rn", row_number().over(w).cast("long"))
      .withColumn("n", count(lit(1))
        .over(Window.partitionBy("event_type", "dow")).cast("long"))
      .filter(col("rn") === expr("(n + 1) DIV 2"))
      .select(col("event_type"), col("dow"), col("c").as("dow_med"))
    daily.join(med, Seq("event_type", "dow"))
      .select(col("event_type"), col("day"), col("dow"), col("c"),
        col("dow_med"),
        (col("c") > lit(2L) * col("dow_med") ||
          lit(2L) * col("c") < col("dow_med")).as("is_anomaly"))
      .orderBy("event_type", "day")
  }

  val q140Sql: String =
    """WITH daily AS (
      |  SELECT event_type, epoch_ns(ts) // 86400000000000 AS day,
      |    CAST(count(*) AS BIGINT) AS c
      |  FROM events GROUP BY 1, 2),
      |d2 AS (SELECT *, (day + 4) % 7 AS dow FROM daily),
      |m AS (
      |  SELECT event_type, dow, c AS dow_med FROM (
      |    SELECT event_type, dow, c,
      |      CAST(row_number() OVER (PARTITION BY event_type, dow
      |        ORDER BY c, day) AS BIGINT) AS rn,
      |      CAST(count(*) OVER (PARTITION BY event_type, dow) AS BIGINT)
      |        AS n
      |    FROM d2)
      |  WHERE rn = (n + 1) // 2)
      |SELECT event_type, day, dow, c, dow_med,
      |  (c > 2 * dow_med OR 2 * c < dow_med) AS is_anomaly
      |FROM d2 JOIN m USING (event_type, dow)
      |ORDER BY event_type, day""".stripMargin

  // --------------------------------------------------------------- q147
  /** Third streaming batch-parity entry: the WINDOWED STREAMING
    * COUNT-MIN census (EventStreams.streamingCountMin — exactly d·w
    * longs of state per open hour×type) over the bounded events source,
    * hash-checked against a batch SQL oracle that recomputes every
    * window's non-zero cells from scratch. Run by [[StreamStage.run]]
    * with its sentinels, as q145. The cells crossing
    * engines exactly is the md5-slice discipline: the streaming state
    * updates through Sketches.cmUpdate, whose positions are pinned
    * bit-identical to the oracle's hex-slice SQL in
    * VectorExpressionSpec — so a lambda architecture's streaming census
    * and batch backfill reconcile cell-for-cell, and the emitted
    * artifacts sum-merge with any batch sketch (countMinMerge). */
  def q147StreamingCountMin(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    implicit val s: SparkSession = spark
    StreamStage.run(spark, dir, "q147_cm", StreamStage.Sentinels)(stream =>
      EventStreams.streamingCountMin(stream.as[EventStreams.UserEvent]))
      .filter(col("event_type") =!= "sentinel")
      .select(expr("unix_millis(window_start) DIV 1000").as("window_start_sec"),
        col("event_type"), col("row").cast("int").as("r"),
        col("col").cast("int").as("c_pos"), col("c").cast("long").as("c"))
      .orderBy("window_start_sec", "event_type", "r", "c_pos")
  }

  /** Batch recomputation of every window's non-zero cells — the q144
    * hex-slice recipe keyed by (window, type). */
  val q147Sql: String = {
    val d = graft.operators.Sketches.CmDepth
    val w = graft.operators.Sketches.CmWidth
    s"""WITH e AS (
       |  SELECT (epoch_ns(ts) // 3600000000000) * 3600 AS window_start_sec,
       |    event_type, CAST(user_id AS VARCHAR) AS k
       |  FROM events)
       |SELECT window_start_sec, event_type, CAST(r AS INT) AS r,
       |  CAST(CAST(('0x' || substr(md5('cm|' || k), 1 + 8 * r, 8)) AS BIGINT)
       |    % $w AS INT) AS c_pos,
       |  count(*) AS c
       |FROM e, range(0, $d) rr(r)
       |GROUP BY 1, 2, 3, 4
       |ORDER BY window_start_sec, event_type, r, c_pos""".stripMargin
  }

  // --------------------------------------------------------------- q148
  /** Fourth streaming batch-parity entry: STREAMING DEDUPLICATION
    * (EventStreams.streamingDedup = dropDuplicatesWithinWatermark on
    * the event id — state is one entry per id inside the watermark
    * horizon, evicted as event time advances, which is what makes
    * exactly-once delivery from an at-least-once feed bounded-state).
    * The staged source UNIONS the events table with a duplicate copy of
    * every 5th event (same rows byte-for-byte), so the kernel must
    * suppress 20% of arrivals; the output hash-matches a plain
    * SELECT over the ORIGINAL table — the duplicates are invisible,
    * and because the duplicate rows are identical in every column the
    * result is arrival-order-free (either survivor is the same row).
    * No sentinels needed: dedup emits rows as they pass, state eviction
    * is bookkeeping, not emission. */
  def q148StreamingDedup(spark: SparkSession, dir: String): DataFrame =
    // the staged table PLUS the duplicate feed (every 5th event again,
    // identical values)
    StreamStage.run(spark, dir, "q148_dedup", StreamStage.Duplicates)(stream =>
      EventStreams.streamingDedup(stream, "event_id", "1 hour"))
      .select("event_id", "user_id", "event_type", "ts_us")
      .orderBy("event_id")

  /** The duplicates must be invisible: the oracle is the original table. */
  val q148Sql: String =
    """SELECT event_id, user_id, event_type, epoch_ns(ts) // 1000 AS ts_us
      |FROM events ORDER BY event_id""".stripMargin

  // --------------------------------------------------------------- q149
  /** Fifth streaming batch-parity entry: the WINDOWED STREAMING BLOOM
    * build (EventStreams.streamingBloom — exactly m bits of state per
    * open hour×type, emitting the set-bit positions on event-time
    * timeout). The oracle recomputes each window's position set as
    * plain SQL over the same md5 hex-slice recipe the JVM kernel uses
    * (Sketches.bloomUpdate, 'bloom|' prefix, 3 slices mod m) — the
    * emitted artifact is the SAME ≤ m-row relation a batch bloomBuild
    * produces, so streaming windows feed bloomProbe / OR-merge
    * unchanged. Run by [[StreamStage.run]] with its sentinels, as q145. */
  def q149StreamingBloom(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    implicit val s: SparkSession = spark
    StreamStage.run(spark, dir, "q149_bloom", StreamStage.Sentinels)(stream =>
      EventStreams.streamingBloom(stream.as[EventStreams.UserEvent]))
      .filter(col("event_type") =!= "sentinel")
      .select(expr("unix_millis(window_start) DIV 1000").as("window_start_sec"),
        col("event_type"), col("pos").cast("int").as("pos"))
      .orderBy("window_start_sec", "event_type", "pos")
  }

  /** Distinct set-bit positions per window — the bloom hex-slice recipe
    * as SQL (q65's form, keyed by window and type). */
  val q149Sql: String = {
    val m = graft.operators.Sketches.BloomBits
    val h = graft.operators.Sketches.BloomHashes
    s"""WITH e AS (
       |  SELECT (epoch_ns(ts) // 3600000000000) * 3600 AS window_start_sec,
       |    event_type, CAST(user_id AS VARCHAR) AS k
       |  FROM events)
       |SELECT DISTINCT window_start_sec, event_type,
       |  CAST(CAST(('0x' || substr(md5('bloom|' || k), 1 + 8 * i, 8))
       |    AS BIGINT) % $m AS INT) AS pos
       |FROM e, range(0, $h) hh(i)
       |ORDER BY window_start_sec, event_type, pos""".stripMargin
  }

  // --------------------------------------------------------------- q150
  /** Sixth streaming batch-parity entry — with this one EVERY streaming
    * kernel (runs, HLL, CMS, dedup, bloom, quantile) is hash-checked in
    * the correctness gate, not just spec-pinned. The WINDOWED STREAMING
    * QUANTILE sketch (EventStreams.streamingQuantile — fixed-width
    * histogram counts as state, ≤ range/width longs per open hour)
    * emits each closed window's P50/P90/P99 estimate; the oracle is
    * q66's histogram-walk recipe keyed by window. The doubles crossing
    * engines exactly is the shared arithmetic shape: both sides compute
    * bin·width + width·(target − below)/count from exact integer
    * histogram counts, the same two FP ops in the same order. */
  def q150StreamingQuantile(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    implicit val s: SparkSession = spark
    // unlike the typed twins there is no sentinel event_type to filter
    // on, so far-future windows are dropped by time (a bounded run never
    // closes the sentinel's window; the filter keeps it out if one did)
    StreamStage.run(spark, dir, "q150_qs", StreamStage.Sentinels)(stream =>
      EventStreams.streamingQuantile(stream.as[EventStreams.Event]))
      .select(expr("unix_millis(window_start) DIV 1000").as("window_start_sec"),
        col("q"), col("quantile_est"), col("n_rows"))
      .filter(col("window_start_sec") <
        lit(java.sql.Timestamp.valueOf("2400-01-01 00:00:00").getTime / 1000))
      .orderBy("window_start_sec", "q")
  }

  /** q66's histogram-walk recipe keyed by the hour window. */
  val q150Sql: String =
    """WITH e AS (
      |  SELECT (epoch_ns(ts) // 3600000000000) * 3600 AS window_start_sec,
      |    value FROM events),
      |hist AS (
      |  SELECT window_start_sec, floor(value / 10.0) AS bin, count(*) AS c
      |  FROM e GROUP BY 1, 2),
      |cum AS (
      |  SELECT window_start_sec, bin, c,
      |    sum(c) OVER (PARTITION BY window_start_sec ORDER BY bin
      |      ROWS UNBOUNDED PRECEDING) AS cum,
      |    sum(c) OVER (PARTITION BY window_start_sec) AS n
      |  FROM hist),
      |t AS (
      |  SELECT cum.*, q, floor(q * n) + 1 AS target
      |  FROM cum CROSS JOIN (SELECT unnest([CAST(0.5 AS DOUBLE),
      |    CAST(0.9 AS DOUBLE), CAST(0.99 AS DOUBLE)]) AS q) qq)
      |SELECT window_start_sec, q,
      |  bin * 10.0 + (10.0 * (target - (cum - c))) / c AS quantile_est,
      |  CAST(n AS BIGINT) AS n_rows
      |FROM t
      |WHERE cum >= target AND cum - c < target
      |ORDER BY window_start_sec, q""".stripMargin

  /** Every query of this module: name, Spark builder, DuckDB oracle. */
  val catalog: Seq[CatalogEntry] = Seq(
    CatalogEntry("q147_streaming_cms", q147StreamingCountMin _, q147Sql),
    CatalogEntry("q148_streaming_dedup", q148StreamingDedup _, q148Sql),
    CatalogEntry("q149_streaming_bloom", q149StreamingBloom _, q149Sql),
    CatalogEntry("q150_streaming_quantile", q150StreamingQuantile _, q150Sql),
    CatalogEntry("q140_seasonal_anomaly", q140SeasonalAnomaly _, q140Sql),
    CatalogEntry("q139_active_users", q139ActiveUsers _, q139Sql),
    CatalogEntry("q137_nearest_join", q137NearestJoin _, q137Sql),
    CatalogEntry("q138_ltv_curve", q138LtvCurve _, q138Sql),
    CatalogEntry("q136_source_drift", q136SourceDrift _, q136Sql),
    CatalogEntry("q121_scd2_runs", q121Scd2Runs _, q121Sql),
    CatalogEntry("q141_streaming_runs", q141StreamingRuns _, q141Sql),
    CatalogEntry("q145_streaming_hll", q145StreamingHll _, q145Sql),
    CatalogEntry("q122_dup_suppress", q122DupSuppress _, q122Sql),
    CatalogEntry("q123_skyline", q123Skyline _, q123Sql),
    CatalogEntry("q124_trend_slope", q124TrendSlope _, q124Sql),
    CatalogEntry("q125_zipf_slope", q125ZipfSlope _, q125Sql),
    CatalogEntry("q126_salted_distinct", q126SaltedDistinct _, q126Sql),
    CatalogEntry("q127_distinct_growth", q127DistinctGrowth _, q127Sql),
    CatalogEntry("q128_decay_score", q128DecayScore _, q128Sql),
    CatalogEntry("q129_key_skew", q129KeySkew _, q129Sql),
    CatalogEntry("q131_pit_features", q131PitFeatures _, q131Sql),
    CatalogEntry("q132_profile", q132Profile _, q132Sql),
    CatalogEntry("q133_ri_audit", q133RiAudit _, q133Sql),
    CatalogEntry("q134_session_paths", q134SessionPaths _, q134Sql)
  )

  val queries: Map[String, (SparkSession, String) => DataFrame] =
    CatalogEntry.builders(catalog)
}
