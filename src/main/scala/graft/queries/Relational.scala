package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables

/** Relational operator kernel (SURVEY.md §2.9): scan / project / filter /
  * group-agg / broadcast join / shuffle join / semi / anti / distinct /
  * union / order-by / limit / window / sessionize.
  *
  * Every query is paired with a DuckDB oracle (same column names, same
  * deterministic ORDER BY on a unique key). Numeric discipline for
  * hash-stable comparison:
  *   - money sums go through DECIMAL (exact, associative) then CAST to
  *     DOUBLE — bit-identical regardless of aggregation order;
  *   - averages are written as decimal-sum / count, never float avg;
  *   - event time is computed on raw nanosecond longs (Spark reads the
  *     ns parquet column via `nanosAsLong`; DuckDB via `epoch_ns`).
  *
  * Scale notes (100 TB design): dimension tables (region, nation,
  * supplier, part, customer-at-small-SF) get explicit broadcast hints —
  * on a real cluster the fact-side scan never shuffles for those joins.
  * Fact-fact joins (lineitem ⋈ orders) shuffle on the join key, which is
  * the partitioning a cluster would want anyway (AQE handles skew).
  */
object Relational {

  /** Exact sum of a 2-dp money column, emitted as double. Staged as
    * long integer cents (round once per row, sum longs, ONE double
    * division at the end) — bit-identical to the decimal-sum→cast
    * oracle (both are a single correctly-rounded operation on the same
    * exact integer) but runs on codegen'd long arithmetic instead of
    * BigDecimal with per-row overflow checks. Long cents hold ±9.2e16
    * dollars per group; past 2^53 cents the double cast itself loses
    * exactness, so for PLAIN CENT SUMS the long path is never the
    * precision bottleneck. Caveat: product forms that accumulate finer
    * units (e.g. q02's sum_disc_price in 1e-4-dollar units) hit the
    * 2^53 exactness ceiling ~100× sooner — see the bound at q02. */
  private def moneySum(c: String): org.apache.spark.sql.Column =
    sum(round(col(c) * 100).cast("long")) / 100.0

  // ---------------------------------------------------------------- q01
  /** Scan + filter + project: pushdown showcase. Filter and the 4-column
    * projection both reach the parquet reader (PushedFilters/ReadSchema). */
  def q01ScanFilterProject(spark: SparkSession, dir: String): DataFrame =
    Tables(spark, dir).lineitem
      .filter(col("l_quantity") > 45)
      .select("l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice")
      .orderBy("l_orderkey", "l_linenumber")

  val q01Sql: String =
    """SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice
      |FROM lineitem WHERE l_quantity > 45
      |ORDER BY l_orderkey, l_linenumber""".stripMargin

  // ---------------------------------------------------------------- q02
  /** TPC-H Q1-style pricing summary: partial (map-side) aggregation +
    * final hash aggregate; one shuffle on the tiny group key. */
  def q02AggPricing(spark: SparkSession, dir: String): DataFrame =
    Tables(spark, dir).lineitem
      .groupBy("l_returnflag", "l_linestatus")
      .agg(
        count(lit(1)).as("cnt"),
        sum("l_quantity").as("sum_qty"), // integral doubles: exact
        moneySum("l_extendedprice").as("sum_price"),
        // price_cents × (100 − disc_hundredths) is an exact integer of
        // 1e-4 dollars; one final double division mirrors the oracle's
        // decimal-product sum→double cast bit-for-bit. Bound: the
        // long→double conversion stays exact only while the per-group
        // total is ≤ 2^53 units of 1e-4 dollars ≈ $9.0e11 per group —
        // ~100× tighter than moneySum's plain-cent bound, crossed around
        // TPC-H sf≈20 with q02's 6 coarse groups. Past that, switch this
        // one aggregate to decimal (sum(CAST(... AS DECIMAL(28,4)))) to
        // keep the bit-for-bit oracle match; below it the codegen'd long
        // path is both exact and ~2× faster.
        (sum(round(col("l_extendedprice") * 100).cast("long") *
          (lit(100L) - round(col("l_discount") * 100).cast("long"))) / 10000.0)
          .as("sum_disc_price"),
        (sum("l_quantity") / count(lit(1))).as("avg_qty")
      )
      .orderBy("l_returnflag", "l_linestatus")

  val q02Sql: String =
    """SELECT l_returnflag, l_linestatus,
      |  count(*) AS cnt,
      |  sum(l_quantity) AS sum_qty,
      |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price,
      |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(3,2)) - CAST(l_discount AS DECIMAL(3,2)))) AS DOUBLE) AS sum_disc_price,
      |  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / count(*) AS avg_qty
      |FROM lineitem
      |GROUP BY l_returnflag, l_linestatus
      |ORDER BY l_returnflag, l_linestatus""".stripMargin

  // ---------------------------------------------------------------- q03
  /** Fact ⋈ two broadcast dimensions; revenue per brand. At cluster scale
    * part/supplier stay far under the broadcast threshold per executor. */
  def q03JoinBroadcast(spark: SparkSession, dir: String): DataFrame = {
    val t = Tables(spark, dir)
    t.lineitem
      .join(broadcast(t.part), col("l_partkey") === col("p_partkey"))
      .join(broadcast(t.supplier), col("l_suppkey") === col("s_suppkey"))
      .groupBy("p_brand")
      .agg(
        count(lit(1)).as("cnt"),
        moneySum("l_extendedprice").as("revenue")
      )
      .orderBy("p_brand")
  }

  val q03Sql: String =
    """SELECT p_brand, count(*) AS cnt,
      |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
      |FROM lineitem
      |JOIN part ON l_partkey = p_partkey
      |JOIN supplier ON l_suppkey = s_suppkey
      |GROUP BY p_brand
      |ORDER BY p_brand""".stripMargin

  // ---------------------------------------------------------------- q04
  /** Snowflake join region→nation→customer→orders, rollup by geography.
    * region/nation broadcast; customer⋈orders shuffles on custkey. */
  def q04JoinGeo(spark: SparkSession, dir: String): DataFrame = {
    val t = Tables(spark, dir)
    t.orders
      .join(t.customer, col("o_custkey") === col("c_custkey"))
      .join(broadcast(t.nation), col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(t.region), col("n_regionkey") === col("r_regionkey"))
      .groupBy("r_name", "n_name")
      .agg(
        count(lit(1)).as("n_orders"),
        moneySum("o_totalprice").as("total_price")
      )
      .orderBy("r_name", "n_name")
  }

  val q04Sql: String =
    """SELECT r_name, n_name, count(*) AS n_orders,
      |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_price
      |FROM orders
      |JOIN customer ON o_custkey = c_custkey
      |JOIN nation ON c_nationkey = n_nationkey
      |JOIN region ON n_regionkey = r_regionkey
      |GROUP BY r_name, n_name
      |ORDER BY r_name, n_name""".stripMargin

  // ---------------------------------------------------------------- q05
  /** Left-semi join: customers that have at least one order. Spark plans
    * a broadcast/shuffled semi join — no duplication of the left side. */
  def q05SemiJoin(spark: SparkSession, dir: String): DataFrame = {
    val t = Tables(spark, dir)
    t.customer
      .join(t.orders, col("c_custkey") === col("o_custkey"), "left_semi")
      .select("c_custkey", "c_name", "c_mktsegment")
      .orderBy("c_custkey")
  }

  val q05Sql: String =
    """SELECT c_custkey, c_name, c_mktsegment FROM customer
      |WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
      |ORDER BY c_custkey""".stripMargin

  // ---------------------------------------------------------------- q06
  /** Left-anti join: orders with no lineitems (non-empty on TESTDATA). */
  def q06AntiJoin(spark: SparkSession, dir: String): DataFrame = {
    val t = Tables(spark, dir)
    t.orders
      .join(t.lineitem, col("o_orderkey") === col("l_orderkey"), "left_anti")
      .select("o_orderkey", "o_custkey", "o_totalprice")
      .orderBy("o_orderkey")
  }

  val q06Sql: String =
    """SELECT o_orderkey, o_custkey, o_totalprice FROM orders
      |WHERE NOT EXISTS (SELECT 1 FROM lineitem WHERE l_orderkey = o_orderkey)
      |ORDER BY o_orderkey""".stripMargin

  // ---------------------------------------------------------------- q07
  /** Global distinct over a compound key (shuffle distinct = partial +
    * final HashAggregate, the distributed replacement for the
    * reference's driver-side `set()` vocabulary idiom). */
  def q07Distinct(spark: SparkSession, dir: String): DataFrame =
    Tables(spark, dir).orders
      .select("o_orderpriority", "o_orderstatus")
      .distinct()
      .orderBy("o_orderpriority", "o_orderstatus")

  val q07Sql: String =
    """SELECT DISTINCT o_orderpriority, o_orderstatus FROM orders
      |ORDER BY o_orderpriority, o_orderstatus""".stripMargin

  // ---------------------------------------------------------------- q08
  /** Union + distinct across two tables (reference S1 pos ∪ neg). */
  def q08Union(spark: SparkSession, dir: String): DataFrame = {
    val t = Tables(spark, dir)
    t.customer.select(col("c_nationkey").as("nationkey"))
      .union(t.supplier.select(col("s_nationkey").as("nationkey")))
      .distinct()
      .orderBy("nationkey")
  }

  val q08Sql: String =
    """SELECT DISTINCT nationkey FROM (
      |  SELECT c_nationkey AS nationkey FROM customer
      |  UNION ALL
      |  SELECT s_nationkey AS nationkey FROM supplier)
      |ORDER BY nationkey""".stripMargin

  // ---------------------------------------------------------------- q09
  /** Order-by + limit (top-k): Spark plans TakeOrderedAndProject — a
    * per-partition top-k then a k-row merge, no global sort at scale. */
  def q09TopK(spark: SparkSession, dir: String): DataFrame =
    Tables(spark, dir).customer
      .select("c_custkey", "c_name", "c_acctbal")
      .orderBy(col("c_acctbal").desc, col("c_custkey").asc)
      .limit(10)

  val q09Sql: String =
    """SELECT c_custkey, c_name, c_acctbal FROM customer
      |ORDER BY c_acctbal DESC, c_custkey LIMIT 10""".stripMargin

  // ---------------------------------------------------------------- q10
  /** Window rank: first 3 events per user (row_number over a unique
    * ordering key — deterministic across engines). */
  def q10WindowRank(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy("event_id")
    Tables(spark, dir).events
      .withColumn("rn", row_number().over(w).cast("long"))
      .filter(col("rn") <= 3)
      .select("user_id", "rn", "event_id", "event_type")
      .orderBy("user_id", "rn")
  }

  val q10Sql: String =
    """SELECT user_id, rn, event_id, event_type FROM (
      |  SELECT user_id, event_id, event_type,
      |    CAST(row_number() OVER (PARTITION BY user_id ORDER BY event_id) AS BIGINT) AS rn
      |  FROM events)
      |WHERE rn <= 3 ORDER BY user_id, rn""".stripMargin

  // ---------------------------------------------------------------- q11
  /** Running (cumulative) sum per user — exact long cents (every prefix
    * sum is an exact integer; one double division per row mirrors the
    * oracle's decimal cast bit-for-bit, same argument as moneySum). */
  def q11WindowRunning(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy("event_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Tables(spark, dir).events
      .withColumn("running_value",
        sum(round(col("value") * 100).cast("long")).over(w) / 100.0)
      .select("event_id", "user_id", "running_value")
      .orderBy("event_id")
  }

  val q11Sql: String =
    """SELECT event_id, user_id,
      |  CAST(sum(CAST(value AS DECIMAL(18,2))) OVER (
      |    PARTITION BY user_id ORDER BY event_id
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
      |    AS running_value
      |FROM events ORDER BY event_id""".stripMargin

  // ---------------------------------------------------------------- q12
  /** Filter + group + having. */
  def q12GroupHaving(spark: SparkSession, dir: String): DataFrame =
    Tables(spark, dir).events
      .filter(col("event_type") === "purchase")
      .groupBy("user_id")
      .agg(
        count(lit(1)).as("n_purchases"),
        moneySum("value").as("purchase_value")
      )
      .filter(col("n_purchases") >= 3)
      .orderBy("user_id")

  val q12Sql: String =
    """SELECT user_id, count(*) AS n_purchases,
      |  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS purchase_value
      |FROM events WHERE event_type = 'purchase'
      |GROUP BY user_id HAVING count(*) >= 3
      |ORDER BY user_id""".stripMargin

  // ---------------------------------------------------------------- q13
  /** Tumbling 1-hour event-time window (batch twin of the Structured
    * Streaming windowed aggregation in graft.streaming). Bucketing is
    * integer division on epoch nanoseconds — exact in both engines. */
  def q13HourlyRollup(spark: SparkSession, dir: String): DataFrame =
    Tables(spark, dir).events
      // plain DIV: DuckDB 1.0 `//` truncates toward zero for integers
      // (verified: -7//2 = -3), exactly like Spark DIV — so truncating
      // division is the cross-engine-exact choice on the FULL domain,
      // including pre-1970 timestamps (InvariantSpec pins negatives)
      .withColumn("hour_start_sec",
        expr("(ts_ns DIV 3600000000000) * 3600"))
      .groupBy("hour_start_sec")
      .agg(
        count(lit(1)).as("n_events"),
        moneySum("value").as("hour_value")
      )
      .withColumn("hour_ts",
        date_format(timestamp_seconds(col("hour_start_sec")), "yyyy-MM-dd HH:mm:ss"))
      .select("hour_start_sec", "hour_ts", "n_events", "hour_value")
      .orderBy("hour_start_sec")

  val q13Sql: String =
    """SELECT hour_start_sec,
      |  strftime(make_timestamp(hour_start_sec * 1000000), '%Y-%m-%d %H:%M:%S') AS hour_ts,
      |  count(*) AS n_events,
      |  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS hour_value
      |FROM (SELECT *, (epoch_ns(ts) // 3600000000000) * 3600 AS hour_start_sec FROM events)
      |GROUP BY hour_start_sec
      |ORDER BY hour_start_sec""".stripMargin

  // ---------------------------------------------------------------- q14
  /** Gap-based sessionization (30-min idle timeout): lag → new-session
    * flag → running count = session index → per-session rollup. The
    * batch twin of flatMapGroupsWithState sessionization; all time math
    * on ns longs. */
  def q14Sessionize(spark: SparkSession, dir: String): DataFrame = {
    val byUser = Window.partitionBy("user_id").orderBy("ts_ns", "event_id")
    val cum = byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Tables(spark, dir).events
      .withColumn("prev_ns", lag("ts_ns", 1).over(byUser))
      .withColumn("new_sess",
        when(col("prev_ns").isNull || col("ts_ns") - col("prev_ns") > 1800000000000L, 1)
          .otherwise(0))
      .withColumn("session_idx", sum("new_sess").over(cum).cast("long"))
      .groupBy("user_id", "session_idx")
      .agg(
        count(lit(1)).as("n_events"),
        expr("min(ts_ns) DIV 1000000000").as("session_start_sec"),
        moneySum("value").as("session_value")
      )
      .orderBy("user_id", "session_idx")
  }

  val q14Sql: String =
    """SELECT user_id, session_idx, count(*) AS n_events,
      |  min(ns) // 1000000000 AS session_start_sec,
      |  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS session_value
      |FROM (
      |  SELECT user_id, value, ns,
      |    CAST(sum(new_sess) OVER (PARTITION BY user_id ORDER BY ns, event_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_idx
      |  FROM (
      |    SELECT user_id, event_id, value, epoch_ns(ts) AS ns,
      |      CASE WHEN lag(epoch_ns(ts)) OVER (PARTITION BY user_id ORDER BY epoch_ns(ts), event_id) IS NULL
      |             OR epoch_ns(ts) - lag(epoch_ns(ts)) OVER (PARTITION BY user_id ORDER BY epoch_ns(ts), event_id) > 1800000000000
      |           THEN 1 ELSE 0 END AS new_sess
      |    FROM events))
      |GROUP BY user_id, session_idx
      |ORDER BY user_id, session_idx""".stripMargin

  // ---------------------------------------------------------------- q93
  /** Per-user event-type transition matrix — the Markov-chain census
    * behavior modeling starts from: for consecutive events of the same
    * user (ts order, event_id tiebreak — q14's exact ordering), count
    * every (from_type → to_type) pair and its row-normalized
    * transition probability. Scale shape: ONE lag window on the q14
    * per-user partitioning, a map-side-combined pair count (output ≤
    * |event_type|² rows), and a broadcast row-total join — nothing
    * beyond the per-user shuffle grows with the corpus. p is one
    * integer-exact division rounded to 4dp (q49's discipline). */
  def q93EventTransitions(spark: SparkSession, dir: String): DataFrame = {
    val byUser = Window.partitionBy("user_id").orderBy("ts_ns", "event_id")
    val pairs = Tables(spark, dir).events
      .withColumn("from_type", lag("event_type", 1).over(byUser))
      .filter(col("from_type").isNotNull)
      .select(col("from_type"), col("event_type").as("to_type"))
    val counts = pairs.groupBy("from_type", "to_type")
      .agg(count(lit(1)).as("n"))
    val totals = counts.groupBy("from_type").agg(sum("n").as("tot"))
    counts.join(broadcast(totals), "from_type")
      .withColumn("p", round(col("n").cast("double") / col("tot"), 4))
      .select("from_type", "to_type", "n", "p")
      .orderBy("from_type", "to_type")
  }

  val q93Sql: String =
    """WITH pr AS (
      |  SELECT lag(event_type) OVER (PARTITION BY user_id
      |      ORDER BY epoch_ns(ts), event_id) AS from_type,
      |    event_type AS to_type
      |  FROM events),
      |c AS (
      |  SELECT from_type, to_type, CAST(count(*) AS BIGINT) AS n
      |  FROM pr WHERE from_type IS NOT NULL GROUP BY 1, 2),
      |t AS (SELECT from_type, sum(n) AS tot FROM c GROUP BY 1)
      |SELECT from_type, to_type, n, round(CAST(n AS DOUBLE) / tot, 4) AS p
      |FROM c JOIN t USING (from_type)
      |ORDER BY from_type, to_type""".stripMargin

  // ---------------------------------------------------------------- q94
  /** Retention cohort matrix — the product-analytics staple: users
    * grouped by first-active day (cohort), activity counted per
    * (cohort, day-offset) cell as DISTINCT active users. Scale shape:
    * the cohort dimension is SELF-DERIVED by one map-side-combined
    * min per user, joined back on user_id (co-partitioned with the
    * event shuffle), then an exact count-distinct whose shuffle
    * carries (cohort, offset, user) — bounded by active users × their
    * active days, not raw events. Day arithmetic is integer epoch-day
    * division on ts_ns, identical in both engines. */
  def q94RetentionCohorts(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables(spark, dir).events
      .select(col("user_id"), expr("ts_ns DIV 86400000000000").as("day"))
    val first = ev.groupBy("user_id").agg(min("day").as("cohort_day"))
    ev.join(first, "user_id")
      .groupBy(col("cohort_day"), (col("day") - col("cohort_day")).as("day_offset"))
      .agg(countDistinct("user_id").as("n_users"))
      .orderBy("cohort_day", "day_offset")
  }

  val q94Sql: String =
    """WITH e AS (
      |  SELECT user_id, epoch_ns(ts) // 86400000000000 AS day FROM events),
      |f AS (SELECT user_id, min(day) AS cohort_day FROM e GROUP BY 1)
      |SELECT cohort_day, day - cohort_day AS day_offset,
      |  CAST(count(DISTINCT e.user_id) AS BIGINT) AS n_users
      |FROM e JOIN f USING (user_id)
      |GROUP BY 1, 2 ORDER BY cohort_day, day_offset""".stripMargin

  // --------------------------------------------------------------- q102
  /** Hourly event-rate anomaly report: hours whose per-type event count
    * exceeds 2× that type's median hourly count (lower median over the
    * PRESENT hours, rank ties broken by hour — a total order both
    * engines reproduce; empty hours contribute no row). The
    * operations-monitoring staple, in pure integer arithmetic: the only
    * double is the reported ratio, one division rounded 4dp. Scale
    * shape: one map-side-combined (type, hour) count — output bounded
    * by types × hours, not events — then a per-type rank window and a
    * broadcast median join on that bounded relation. */
  def q102RateAnomaly(spark: SparkSession, dir: String): DataFrame = {
    val cnt = Tables(spark, dir).events
      .select(col("event_type"), expr("(ts_ns DIV 1000) DIV 3600000000").as("hour"))
      .groupBy("event_type", "hour").agg(count(lit(1)).as("n"))
    val w = Window.partitionBy("event_type").orderBy(col("n").asc, col("hour").asc)
    val med = cnt.withColumn("rn", row_number().over(w))
      .join(broadcast(cnt.groupBy("event_type").agg(count(lit(1)).as("nh"))),
        "event_type")
      .filter(col("rn") === expr("(nh + 1) DIV 2"))
      .select(col("event_type"), col("n").as("med"))
    cnt.join(broadcast(med), "event_type")
      .filter(col("n") > lit(2) * col("med"))
      .withColumn("ratio", round(col("n").cast("double") / col("med"), 4))
      .select("event_type", "hour", "n", "med", "ratio")
      .orderBy("event_type", "hour")
  }

  val q102Sql: String =
    """WITH e AS (
      |  SELECT event_type, epoch_us(ts) // 3600000000 AS hour FROM events),
      |c AS (
      |  SELECT event_type, hour, CAST(count(*) AS BIGINT) AS n
      |  FROM e GROUP BY 1, 2),
      |r AS (
      |  SELECT event_type, hour, n,
      |    row_number() OVER (PARTITION BY event_type ORDER BY n, hour) AS rn
      |  FROM c),
      |h AS (SELECT event_type, count(*) AS nh FROM c GROUP BY 1),
      |m AS (
      |  SELECT event_type, n AS med FROM r JOIN h USING (event_type)
      |  WHERE rn = (nh + 1) // 2)
      |SELECT event_type, hour, n, med,
      |  round(CAST(n AS DOUBLE) / med, 4) AS ratio
      |FROM c JOIN m USING (event_type)
      |WHERE n > 2 * med
      |ORDER BY event_type, hour""".stripMargin

  // --------------------------------------------------------------- q103
  /** Conversion-latency histogram: per user, the delay from the FIRST
    * view to the first purchase STRICTLY after it, bucketed in hours —
    * the funnel-latency distribution behind every conversion dashboard.
    * µs longs (q55's cross-engine-exact unit). Scale shape: one
    * map-side-combined min per user on the view side, a user-keyed join
    * (co-partitioned with the purchase shuffle), a per-user min, and a
    * bounded histogram rollup — nothing grows beyond the user-keyed
    * exchanges. */
  def q103ConversionLatency(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables(spark, dir).events
      .withColumn("ts_us", expr("ts_ns DIV 1000"))
    val v = ev.filter(col("event_type") === "view")
      .groupBy("user_id").agg(min("ts_us").as("v_ts"))
    ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("ts_us"))
      .join(v, "user_id")
      .filter(col("ts_us") > col("v_ts"))
      .groupBy("user_id").agg(min(col("ts_us") - col("v_ts")).as("delay_us"))
      .groupBy(expr("delay_us DIV 3600000000").as("delay_hours"))
      .agg(count(lit(1)).as("n_users"))
      .orderBy("delay_hours")
  }

  val q103Sql: String =
    """WITH e AS (
      |  SELECT user_id, event_type, epoch_us(ts) AS ts_us FROM events),
      |v AS (
      |  SELECT user_id, min(ts_us) AS v_ts FROM e
      |  WHERE event_type = 'view' GROUP BY 1),
      |c AS (
      |  SELECT e.user_id, min(ts_us - v_ts) AS delay_us
      |  FROM e JOIN v USING (user_id)
      |  WHERE event_type = 'purchase' AND ts_us > v_ts GROUP BY 1)
      |SELECT delay_us // 3600000000 AS delay_hours,
      |  CAST(count(*) AS BIGINT) AS n_users
      |FROM c GROUP BY 1 ORDER BY delay_hours""".stripMargin

  // --------------------------------------------------------------- q104
  /** TPC-H Q17-shaped correlated aggregate: lineitems whose quantity is
    * below 0.2× the average quantity OF THEIR OWN PART, rolled up to
    * per-brand counts and revenue. The correlated scalar subquery
    * decorrelates into one per-part aggregate joined back ON THE
    * CORRELATION KEY — both shuffles hash on l_partkey, so the join is
    * co-partitioned and the per-row subquery never re-executes (the
    * rewrite every optimizer applies; stated here as the explicit plan).
    * avg is integer-exact (integral-double quantities summed as longs,
    * ONE division), the 0.2× threshold is a single multiply both engines
    * order identically; revenue is the long-cents money sum. */
  def q104SmallQtyRevenue(spark: SparkSession, dir: String): DataFrame = {
    val t = Tables(spark, dir)
    val l = t.lineitem.select(col("l_partkey"), col("l_quantity"),
      col("l_extendedprice"))
    val avgQ = l.groupBy("l_partkey")
      .agg((sum(col("l_quantity").cast("long")).cast("double") /
        count(lit(1))).as("avg_qty"))
    l.join(avgQ, "l_partkey")
      .filter(col("l_quantity") < lit(0.2) * col("avg_qty"))
      .join(broadcast(t.part.select(col("p_partkey"), col("p_brand"))),
        col("l_partkey") === col("p_partkey"))
      .groupBy("p_brand")
      .agg(count(lit(1)).as("n_small"),
        moneySum("l_extendedprice").as("small_revenue"))
      .orderBy("p_brand")
  }

  val q104Sql: String =
    """WITH a AS (
      |  SELECT l_partkey,
      |    CAST(sum(CAST(l_quantity AS BIGINT)) AS DOUBLE) / count(*) AS avg_qty
      |  FROM lineitem GROUP BY 1)
      |SELECT p_brand, CAST(count(*) AS BIGINT) AS n_small,
      |  CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS DOUBLE) / 100.0
      |    AS small_revenue
      |FROM lineitem JOIN a USING (l_partkey)
      |JOIN part ON l_partkey = p_partkey
      |WHERE l_quantity < 0.2 * avg_qty
      |GROUP BY 1 ORDER BY p_brand""".stripMargin

  // --------------------------------------------------------------- q105
  /** TPC-H Q21-shaped exists/not-exists composition: for finished ('F')
    * orders, suppliers who shipped late (> 60 days after the order
    * date) in a MULTI-supplier order where NO OTHER supplier was late —
    * the "who alone held up the order" census, top 20 by count. The
    * correlated EXISTS (another supplier in the order) and NOT EXISTS
    * (another LATE supplier) both decorrelate into one per-order
    * aggregate — distinct-supplier and distinct-late-supplier counts —
    * computed in a single groupBy and joined back on the order key
    * (co-partitioned with the lineitem shuffle). All counts integer;
    * the only join against row-count-scaling data is order-keyed. */
  def q105LoneLateSupplier(spark: SparkSession, dir: String): DataFrame = {
    val t = Tables(spark, dir)
    val j = t.lineitem.select(col("l_orderkey"), col("l_suppkey"),
        col("l_shipdate"))
      .join(t.orders.filter(col("o_orderstatus") === "F")
        .select(col("o_orderkey"), col("o_orderdate")),
        col("l_orderkey") === col("o_orderkey"))
      .select(col("l_orderkey"), col("l_suppkey"),
        (datediff(col("l_shipdate"), col("o_orderdate")) > 60).as("late"))
    val per = j.groupBy("l_orderkey")
      .agg(countDistinct("l_suppkey").as("ns"),
        countDistinct(when(col("late"), col("l_suppkey"))).as("nl"))
    j.filter(col("late"))
      .select("l_orderkey", "l_suppkey").distinct()
      .join(per, "l_orderkey")
      .filter(col("ns") >= 2 && col("nl") === 1)
      .groupBy("l_suppkey")
      .agg(count(lit(1)).as("numwait"))
      .join(broadcast(Tables(spark, dir).supplier
        .select(col("s_suppkey"), col("s_name"))),
        col("l_suppkey") === col("s_suppkey"))
      .select(col("s_suppkey"), col("s_name"), col("numwait"))
      .orderBy(col("numwait").desc, col("s_suppkey").asc)
      .limit(20)
  }

  val q105Sql: String =
    """WITH j AS (
      |  SELECT l_orderkey, l_suppkey,
      |    date_diff('day', o_orderdate, l_shipdate) > 60 AS late
      |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      |  WHERE o_orderstatus = 'F'),
      |per AS (
      |  SELECT l_orderkey, count(DISTINCT l_suppkey) AS ns,
      |    count(DISTINCT CASE WHEN late THEN l_suppkey END) AS nl
      |  FROM j GROUP BY 1),
      |q AS (
      |  SELECT DISTINCT j.l_orderkey, j.l_suppkey
      |  FROM j JOIN per USING (l_orderkey)
      |  WHERE j.late AND per.ns >= 2 AND per.nl = 1)
      |SELECT s_suppkey, s_name, CAST(count(*) AS BIGINT) AS numwait
      |FROM q JOIN supplier ON l_suppkey = s_suppkey
      |GROUP BY 1, 2 ORDER BY numwait DESC, s_suppkey LIMIT 20""".stripMargin

  // --------------------------------------------------------------- q106
  /** Exact per-group percentile ladder (percentile_disc semantics,
    * spelled out so both engines agree to the bit): for each order
    * priority, the p50/p90/p99 of o_totalprice = the value at rank
    * ⌈p·n⌉ in (price asc, orderkey asc) order. No percentile built-in
    * is used on EITHER side — Spark's and DuckDB's disc/cont defaults
    * differ, so the rank arithmetic IS the portable definition. Scale
    * shape (round-11): the group key has FIVE values, so a per-group
    * window partition would buffer a fifth of all orders in one task —
    * the rank is [[graft.operators.GlobalRank.withGroupRowNumber]]
    * instead (distributed global rank minus broadcast group offsets),
    * whose group sizes give each row its three targets. */
  def q106PercentileLadder(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables(spark, dir).orders
      .select(col("o_orderpriority"), col("o_orderkey"), col("o_totalprice"))
    graft.operators.GlobalRank.withGroupRowNumber(o,
        Seq("o_orderpriority"),
        Seq(col("o_totalprice").asc, col("o_orderkey").asc), "rn",
        countOut = "n")
      .select(col("o_orderpriority"), col("o_totalprice"), col("rn"),
        explode(array(lit(0.5), lit(0.9), lit(0.99))).as("p"),
        col("n"))
      .filter(col("rn") === ceil(col("p") * col("n")).cast("long"))
      .select(col("o_orderpriority"), col("p"),
        col("o_totalprice").as("pct_value"))
      .orderBy("o_orderpriority", "p")
  }

  val q106Sql: String =
    """WITH r AS (
      |  SELECT o_orderpriority, o_totalprice,
      |    CAST(row_number() OVER (PARTITION BY o_orderpriority
      |      ORDER BY o_totalprice, o_orderkey) AS BIGINT) AS rn
      |  FROM orders),
      |t AS (
      |  SELECT o_orderpriority, CAST(ceil(p * n) AS BIGINT) AS target, p
      |  FROM (SELECT o_orderpriority, count(*) AS n FROM orders GROUP BY 1),
      |    unnest([0.5, 0.9, 0.99]) u(p))
      |SELECT o_orderpriority, p, o_totalprice AS pct_value
      |FROM r JOIN t USING (o_orderpriority)
      |WHERE rn = target
      |ORDER BY o_orderpriority, p""".stripMargin

  // --------------------------------------------------------------- q107
  /** Minimum document co-occurrence count for a token pair (and, by
    * A-priori monotonicity, the df floor for the frequent-item set)
    * in [[q107FrequentPairs]]. */
  val MinPairSupport = 100

  /** Frequent-set size above which q107 keeps the self-join plan
    * instead of shipping the set driver-side into the scan kernel. */
  val FreqLiteralCap = 2048

  /** Frequent token-pair mining (the first A-priori level past items):
    * unordered token pairs co-occurring in ≥ [[MinPairSupport]]
    * documents, top 50 by support. A-priori monotonicity prunes
    * BEFORE the pair blow-up: a pair can reach support S only if both
    * tokens have df ≥ S, so pairs are generated only over the
    * frequent-item set — the per-doc pair fanout is quadratic only in
    * FREQUENT tokens per doc, the bound that makes basket mining
    * feasible at corpus scale. Two tiers on the frequent-set size
    * (q97's discipline): a set within [[FreqLiteralCap]] rides into
    * the scan as ONE kernel reference
    * ([[graft.plans.FrequentPairCodesExpr]] — pairs are a per-row
    * fact once the set is known, so the pair pass is one corpus scan
    * with a map-side-combined pair census and ZERO pre-aggregation
    * exchange), while a larger set keeps the broadcast semi-join +
    * doc_id self-join plan, which never ships the set through the
    * driver. The kernel emits PACKED INT CODES `a*K + b` over the
    * sorted set, not string structs (r18 duel): the census exchange
    * keys one 4-byte int instead of re-hashing two strings at every
    * partial/final agg, and only the ≤ 50 survivors decode back to
    * tokens via `element_at` on one array literal. Measured warm
    * sf0.1 (min of 6, r9): join plan 0.81 s, HOF 1.10 s, struct
    * kernel ~0.3 s; r18 interleaved duel, struct vs codes census:
    * x1 0.638/0.671 → 0.461/0.505 min/med, ×100-replicated corpus
    * 2.153/2.203 → 1.456/1.502 — bit-identical output at four
    * corpora, −25–32% everywhere, and under the DuckDB oracle's
    * 2.29 s at 100×. The census fetch is limit-bounded (cap + 1
    * rows), so the driver read stays O(cap) even when the fallback
    * fires. Counts all integer.
    *
    * EAGER MATERIALIZATION: building this DataFrame runs the
    * frequent-item census as a Spark job AT PLAN-CONSTRUCTION TIME —
    * the tier decision and the kernel's literal set both need the
    * census, and a literal set cannot be bound lazily into codegen.
    * Consequences callers must know: (a) calling this method just to
    * `explain`/inspect the plan executes cluster work (one bounded
    * census job); (b) the frequent set is FROZEN at construction — a
    * frame built before the source data changes mines pairs against
    * the stale set. Rebuild the frame after any source update; Verify
    * and Bench construct fresh frames per run, so the catalog path is
    * unaffected. */
  def q107FrequentPairs(spark: SparkSession, dir: String): DataFrame =
    frequentPairsTiered(spark, dir, FreqLiteralCap)

  /** [[q107FrequentPairs]] with the tier cap injectable, so the spec
    * can force the join tier on a corpus whose frequent set would
    * otherwise ride the kernel (both tiers must mine identical
    * pairs). */
  private[graft] def frequentPairsTiered(spark: SparkSession, dir: String,
      cap: Int, support: Int = MinPairSupport): DataFrame = {
    val toks = graft.functions.TextFunctions.whitespaceTokens(col("text"))
    val tok = Tables(spark, dir).documents
      .select(col("doc_id"), explode(array_distinct(toks)).as("token"))
    val freq = tok.groupBy("token").agg(count(lit(1)).as("df"))
      .filter(col("df") >= support)
      .select("token")
    val freqHead = freq.limit(cap + 1).collect().map(_.getString(0))
    if (freqHead.length <= cap) {
      // kernel tier: int-code census. The set is sorted by UTF8 BINARY
      // order (not String's UTF-16 order — they differ for
      // supplementary-plane tokens), so code order == (tok_a, tok_b)
      // binary order and `ORDER BY support DESC, code` IS the output
      // ordering contract; the decode touches only the 50 survivors.
      // `typedLit` keeps the decode array ONE literal reference, never
      // a 2048-element CreateArray (the janino-cliff-safe form).
      val sortedSet =
        freqHead.sorted(graft.plans.FrequentPairsExpr.Utf8BinaryOrdering).toSeq
      val k = sortedSet.length
      val tokLit = typedLit(sortedSet)
      Tables(spark, dir).documents
        .select(explode(graft.plans.FrequentPairCodesExpr.column(
          toks, sortedSet)).as("code"))
        .groupBy("code").agg(count(lit(1)).as("support"))
        .filter(col("support") >= support)
        .orderBy(col("support").desc, col("code").asc)
        .limit(50)
        .select(
          element_at(tokLit, expr(s"CAST(code DIV $k AS INT) + 1")).as("tok_a"),
          element_at(tokLit, expr(s"CAST(code % $k AS INT) + 1")).as("tok_b"),
          col("support"))
    } else {
      val ft = tok.join(broadcast(freq), "token")
      ft.select(col("doc_id"), col("token").as("tok_a"))
        .join(ft.select(col("doc_id"), col("token").as("tok_b")),
          Seq("doc_id"))
        .filter(col("tok_a") < col("tok_b"))
        .select("tok_a", "tok_b")
        .groupBy("tok_a", "tok_b")
        .agg(count(lit(1)).as("support"))
        .filter(col("support") >= support)
        .orderBy(col("support").desc, col("tok_a").asc, col("tok_b").asc)
        .limit(50)
    }
  }

  /** [[q107Sql]] with the support threshold injectable — the crossover
    * duel ([[graft.Crossover]]) scales the threshold with the
    * replication factor (replication multiplies every pair's support
    * by N, so support = N·[[MinPairSupport]] keeps the mined workload
    * scale-invariant; a FIXED threshold on an N×-replicated corpus
    * promotes the entire vocabulary into the frequent set and measures
    * a quadratic blow-up on both engines, not the operator). */
  def q107SqlWith(support: Int): String =
    s"""WITH tok AS (
       |  SELECT doc_id, unnest(list_distinct(string_split(text, ' '))) AS token
       |  FROM documents),
       |f AS (SELECT token FROM tok GROUP BY token
       |      HAVING count(*) >= $support),
       |ft AS (SELECT doc_id, token FROM tok WHERE token IN (SELECT token FROM f))
       |SELECT a.token AS tok_a, b.token AS tok_b,
       |  CAST(count(*) AS BIGINT) AS support
       |FROM ft a JOIN ft b ON a.doc_id = b.doc_id AND a.token < b.token
       |GROUP BY 1, 2 HAVING count(*) >= $support
       |ORDER BY support DESC, tok_a, tok_b LIMIT 50""".stripMargin

  val q107Sql: String = q107SqlWith(MinPairSupport)

  // ------------------------------------------------- co-purchase graph
  /** The high-quantity co-purchase graph of q78, q86, q87 and q111:
    * parts are connected when they appear in the same order with
    * l_quantity ≥ 48, one (src, dst) edge per pair with src < dst.
    * Edge generation is a per-order self-join: at 100 TB the quantity
    * filter prunes first, and pair fanout is bounded by per-order line
    * counts (single digits), not corpus size. */
  private def coPurchaseEdges(spark: SparkSession, dir: String): DataFrame = {
    val hi = Tables(spark, dir).lineitem
      .filter(col("l_quantity") >= 48)
      .select(col("l_orderkey"), col("l_partkey"))
    hi.select(col("l_orderkey"), col("l_partkey").as("src"))
      .join(hi.select(col("l_orderkey"), col("l_partkey").as("dst")),
        "l_orderkey")
      .filter(col("src") < col("dst"))
      .select("src", "dst")
  }

  /** The oracle twin of [[coPurchaseEdges]]: CTE `e0` holds its edges,
    * `e` both directions of each. */
  private val coPurchaseCtes: String =
    """hi AS (
      |  SELECT l_orderkey, l_partkey FROM lineitem WHERE l_quantity >= 48),
      |e0 AS (
      |  SELECT a.l_partkey AS src, b.l_partkey AS dst
      |  FROM hi a JOIN hi b
      |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey),
      |e AS (SELECT src, dst FROM e0 UNION SELECT dst, src FROM e0)""".stripMargin

  // --------------------------------------------------------------- q111
  /** Multi-source BFS over q78's co-purchase graph: every reachable
    * node labeled with its distance to the NEAREST seed (seeds = part
    * ids ≡ 0 mod 10 present in the graph) — the distance-to-landmark
    * kernel behind influence radius and nearest-hub analyses, and the
    * third Pregel-shaped kernel next to components (q78) and PageRank
    * (q86). Oracle cross-check: DuckDB computes the same levels by
    * level-capped RECURSIVE CTE + min() — an entirely different
    * evaluation strategy agreeing on every distance. Scale shape: per
    * round ONE frontier⋈edges join co-partitioned on the edge key and
    * one anti-join against the seen set; rounds ≤ min(diameter, cap). */
  def q111BfsLevels(spark: SparkSession, dir: String): DataFrame = {
    // the seed set below re-reads the edges; without the cache the
    // lineitem scan+join runs twice (Bench/Verify clear the cache
    // between queries)
    val edges = coPurchaseEdges(spark, dir).cache()
    val source = edges.select(col("src").as("node"))
      .union(edges.select(col("dst").as("node")))
      .filter(col("node") % 10 === 0)
    graft.operators.Graph.bfsLevels(edges, "src", "dst", source, maxRounds = 10)
      .orderBy("node")
  }

  val q111Sql: String =
    s"""WITH RECURSIVE $coPurchaseCtes,
      |s AS (
      |  SELECT DISTINCT src AS node FROM (
      |    SELECT src FROM e UNION SELECT dst AS src FROM e)
      |  WHERE src % 10 = 0),
      |reach(node, lvl) AS (
      |  SELECT node, CAST(0 AS BIGINT) FROM s
      |  UNION
      |  SELECT e.dst, r.lvl + 1 FROM reach r JOIN e ON e.src = r.node
      |  WHERE r.lvl < 10)
      |SELECT node, CAST(min(lvl) AS BIGINT) AS level
      |FROM reach GROUP BY 1 ORDER BY node""".stripMargin

  // --------------------------------------------------------------- q112
  /** RFM customer segmentation — recency (days since last order, vs the
    * global latest order date), frequency (order count), monetary
    * (long-cents revenue) — each scored into exact quintiles by rank
    * arithmetic (score = ⌊(rn−1)·5/n⌋+1 over a metric-then-custkey
    * total order; NO ntile builtin — engines differ on remainder
    * placement conventions only in documentation, the explicit formula
    * is the portable definition). All integers end to end. Scale note:
    * the three rank passes run over the ALREADY-AGGREGATED |customers|
    * relation as exact DISTRIBUTED ranks
    * ([[graft.operators.GlobalRank.withRowNumbersCounted]] —
    * deterministic sampled-boundary buckets, one shared sample pass and
    * one shared census for all three orders, each rank a codegen'd
    * projection over its own hash exchange; every task sorts ~1/P of
    * the customers, no single-partition window anywhere); n comes from
    * the census. */
  def q112RfmSegments(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables(spark, dir).orders
      .select(col("o_custkey"), col("o_orderdate"), col("o_totalprice"))
    val maxd = o.agg(max("o_orderdate").as("maxd"))
    val rfm = o.groupBy("o_custkey")
      .agg(max("o_orderdate").as("last_order"),
        count(lit(1)).as("frequency"),
        sum(round(col("o_totalprice") * 100).cast("long")).as("monetary_cents"))
      .crossJoin(broadcast(maxd))
      .withColumn("recency_days",
        datediff(col("maxd"), col("last_order")).cast("long"))
    // the three ranks share ONE sample pass and ONE census pass; n is
    // the census total, not a separate count job
    val (ranked, nTotal) = graft.operators.GlobalRank.withRowNumbersCounted(
      rfm, Seq(
        "rn_r" -> Seq(col("recency_days").desc, col("o_custkey").asc),
        "rn_f" -> Seq(col("frequency").asc, col("o_custkey").asc),
        "rn_m" -> Seq(col("monetary_cents").asc, col("o_custkey").asc)))
    val n = math.max(nTotal, 1L)
    val scored = ranked
      .withColumn("r_score",
        expr(s"CAST((rn_r - 1) * 5 DIV $n + 1 AS BIGINT)"))
      .withColumn("f_score",
        expr(s"CAST((rn_f - 1) * 5 DIV $n + 1 AS BIGINT)"))
      .withColumn("m_score",
        expr(s"CAST((rn_m - 1) * 5 DIV $n + 1 AS BIGINT)"))
    scored.select(col("o_custkey"), col("recency_days"), col("frequency"),
        col("monetary_cents"), col("r_score"), col("f_score"), col("m_score"),
        concat(col("r_score").cast("string"), col("f_score").cast("string"),
          col("m_score").cast("string")).as("segment"))
      .orderBy("o_custkey")
  }

  val q112Sql: String =
    """WITH rfm AS (
      |  SELECT o_custkey,
      |    CAST(date_diff('day', max(o_orderdate),
      |      (SELECT max(o_orderdate) FROM orders)) AS BIGINT) AS recency_days,
      |    CAST(count(*) AS BIGINT) AS frequency,
      |    CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
      |      AS monetary_cents
      |  FROM orders GROUP BY 1),
      |r AS (
      |  SELECT *,
      |    CAST(row_number() OVER (ORDER BY recency_days DESC, o_custkey)
      |      AS BIGINT) AS rn_r,
      |    CAST(row_number() OVER (ORDER BY frequency, o_custkey)
      |      AS BIGINT) AS rn_f,
      |    CAST(row_number() OVER (ORDER BY monetary_cents, o_custkey)
      |      AS BIGINT) AS rn_m,
      |    CAST(count(*) OVER () AS BIGINT) AS n
      |  FROM rfm)
      |SELECT o_custkey, recency_days, frequency, monetary_cents,
      |  ((rn_r - 1) * 5) // n + 1 AS r_score,
      |  ((rn_f - 1) * 5) // n + 1 AS f_score,
      |  ((rn_m - 1) * 5) // n + 1 AS m_score,
      |  CAST(((rn_r - 1) * 5) // n + 1 AS VARCHAR)
      |    || CAST(((rn_f - 1) * 5) // n + 1 AS VARCHAR)
      |    || CAST(((rn_m - 1) * 5) // n + 1 AS VARCHAR) AS segment
      |FROM r ORDER BY o_custkey""".stripMargin

  // --------------------------------------------------------------- q116
  /** TPC-H Q5-shaped star join: revenue per nation for ASIA orders in
    * 1996-1997 — lineitem ⋈ orders (the one fact-fact shuffle, keyed on
    * the order key both sides) ⋈ customer (key-shuffled) ⋈ nation ⋈
    * region (both broadcast). Date + region predicates prune BEFORE the
    * shuffles (filter pushdown on the orders scan, broadcast semi
    * effect through the dim joins). Revenue is q02's exact integer
    * product form (cents × (100 − disc-hundredths), one final
    * division). */
  def q116RegionRevenue(spark: SparkSession, dir: String): DataFrame = {
    val t = Tables(spark, dir)
    val o = t.orders
      .filter(col("o_orderdate") >= lit("1996-01-01").cast("date") &&
        col("o_orderdate") < lit("1998-01-01").cast("date"))
      .select(col("o_orderkey"), col("o_custkey"))
    val dims = t.customer.select(col("c_custkey"), col("c_nationkey"))
      .join(broadcast(t.nation.select(col("n_nationkey"), col("n_name"),
        col("n_regionkey"))), col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(t.region.filter(col("r_name") === "ASIA")
        .select(col("r_regionkey"))), col("n_regionkey") === col("r_regionkey"))
      .select(col("c_custkey"), col("n_name"))
    t.lineitem
      .select(col("l_orderkey"), col("l_extendedprice"), col("l_discount"))
      .join(o, col("l_orderkey") === col("o_orderkey"))
      .join(dims, col("o_custkey") === col("c_custkey"))
      .groupBy("n_name")
      .agg(count(lit(1)).as("n_lineitems"),
        (sum(round(col("l_extendedprice") * 100).cast("long") *
          (lit(100L) - round(col("l_discount") * 100).cast("long"))) / 10000.0)
          .as("revenue"))
      .orderBy(col("revenue").desc, col("n_name").asc)
  }

  val q116Sql: String =
    """SELECT n_name, CAST(count(*) AS BIGINT) AS n_lineitems,
      |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))
      |    * (CAST(1 AS DECIMAL(3,2)) - CAST(l_discount AS DECIMAL(3,2))))
      |    AS DOUBLE) AS revenue
      |FROM lineitem
      |JOIN orders ON l_orderkey = o_orderkey
      |JOIN customer ON o_custkey = c_custkey
      |JOIN nation ON c_nationkey = n_nationkey
      |JOIN region ON n_regionkey = r_regionkey
      |WHERE r_name = 'ASIA'
      |  AND o_orderdate >= DATE '1996-01-01'
      |  AND o_orderdate < DATE '1998-01-01'
      |GROUP BY n_name ORDER BY revenue DESC, n_name""".stripMargin

  // --------------------------------------------------------------- q117
  /** Explicit GROUPING SETS — the third member of the grouping family
    * next to ROLLUP (q18) and CUBE (q76): per-mktsegment totals,
    * per-orderpriority totals, and the grand total in ONE aggregation
    * pass (Spark expands sets into a single shuffle; no union of three
    * scans). `grouping()` flags disambiguate subtotal NULLs from data
    * NULLs — the flags, not the NULL markers, are the portable
    * contract. */
  def q117GroupingSets(spark: SparkSession, dir: String): DataFrame = {
    val t = Tables(spark, dir)
    val base = t.orders.join(t.customer,
        col("o_custkey") === col("c_custkey"))
      .select(col("c_mktsegment"), col("o_orderpriority"), col("o_totalprice"))
    base.groupingSets(
        Seq(Seq(col("c_mktsegment")), Seq(col("o_orderpriority")), Seq()),
        col("c_mktsegment"), col("o_orderpriority"))
      .agg(count(lit(1)).as("n_orders"),
        moneySum("o_totalprice").as("total_price"),
        grouping(col("c_mktsegment")).cast("long").as("g_seg"),
        grouping(col("o_orderpriority")).cast("long").as("g_prio"))
      .orderBy(col("g_seg"), col("g_prio"), col("c_mktsegment"),
        col("o_orderpriority"))
  }

  val q117Sql: String =
    """SELECT c_mktsegment, o_orderpriority,
      |  CAST(count(*) AS BIGINT) AS n_orders,
      |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
      |    AS total_price,
      |  CAST(GROUPING(c_mktsegment) AS BIGINT) AS g_seg,
      |  CAST(GROUPING(o_orderpriority) AS BIGINT) AS g_prio
      |FROM orders JOIN customer ON o_custkey = c_custkey
      |GROUP BY GROUPING SETS ((c_mktsegment), (o_orderpriority), ())
      |ORDER BY g_seg, g_prio, c_mktsegment, o_orderpriority""".stripMargin

  // ---------------------------------------------------------------- q55
  /** As-of join (operators.AsOfJoin): every purchase event enriched with
    * the user's most recent STRICTLY-prior view event and the gap to it.
    * One shuffle on user_id, no row blow-up (see AsOfJoin's scaladoc for
    * why the theta-join and join-then-rank forms fail at scale). NULL
    * no-match sentinels are -1 so the hash compare never sees NULL-order
    * ambiguity. */
  def q55AsofJoin(spark: SparkSession, dir: String): DataFrame = {
    // microsecond longs, not ts_ns: DuckDB reads the TIMESTAMP(NANOS)
    // parquet µs-truncated, so ns-resolution ordering could diverge
    // between engines for same-µs events — µs is the finest
    // cross-engine-exact unit (q13/q14 never exposed sub-µs)
    val ev = Tables(spark, dir).events
      .withColumn("ts_us", expr("ts_ns DIV 1000"))
    val purchases = ev.filter(col("event_type") === "purchase")
      .select("event_id", "user_id", "ts_us")
    val views = ev.filter(col("event_type") === "view")
      .select("event_id", "user_id", "ts_us")
    graft.operators.AsOfJoin
      .asOf(purchases, views, key = "user_id", ts = "ts_us",
        leftId = "event_id", rightId = "event_id")
      .select(
        col("event_id"), col("user_id"), col("ts_us"),
        coalesce(col("asof_id"), lit(-1L)).as("view_id"),
        coalesce(col("ts_us") - col("asof_ts"), lit(-1L)).as("gap_us"))
      .orderBy("event_id")
  }

  /** DuckDB twin: the identical union + running last(IGNORE NULLS)
    * window over (us, side, id) — NOT DuckDB's native ASOF JOIN, whose
    * tie semantics (>= vs >) would differ from the operator's strict
    * ordering under equal timestamps. */
  val q55Sql: String =
    """WITH u AS (
      |  SELECT event_id, user_id, epoch_us(ts) AS us,
      |    CASE WHEN event_type = 'view' THEN 1 ELSE 0 END AS side
      |  FROM events WHERE event_type IN ('view', 'purchase')),
      |m AS (
      |  SELECT event_id, user_id, us, side,
      |    last_value(CASE WHEN side = 1 THEN event_id END IGNORE NULLS)
      |      OVER (PARTITION BY user_id ORDER BY us, side, event_id
      |            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS view_id,
      |    last_value(CASE WHEN side = 1 THEN us END IGNORE NULLS)
      |      OVER (PARTITION BY user_id ORDER BY us, side, event_id
      |            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS view_us
      |  FROM u)
      |SELECT event_id, user_id, us AS ts_us,
      |  coalesce(view_id, -1) AS view_id,
      |  coalesce(us - view_us, -1) AS gap_us
      |FROM m WHERE side = 0 ORDER BY event_id""".stripMargin

  // --------------------------------------------------------------- q118
  /** Forward as-of join (operators.AsOfJoin.asOfForward): every view
    * event enriched with the user's NEXT purchase and the gap to it —
    * the time-to-convert signal, q55's mirror. Same single-shuffle
    * union + window shape, time-descending. Sentinels mirror q55
    * (-1 = no later purchase). */
  def q118AsofForward(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables(spark, dir).events
      .withColumn("ts_us", expr("ts_ns DIV 1000"))
    val views = ev.filter(col("event_type") === "view")
      .select("event_id", "user_id", "ts_us")
    val purchases = ev.filter(col("event_type") === "purchase")
      .select("event_id", "user_id", "ts_us")
    graft.operators.AsOfJoin
      .asOfForward(views, purchases, key = "user_id", ts = "ts_us",
        leftId = "event_id", rightId = "event_id")
      .select(
        col("event_id"), col("user_id"), col("ts_us"),
        coalesce(col("asof_id"), lit(-1L)).as("purchase_id"),
        coalesce(col("asof_ts") - col("ts_us"), lit(-1L)).as("gap_us"))
      .orderBy("event_id")
  }

  val q118Sql: String =
    """WITH u AS (
      |  SELECT event_id, user_id, epoch_us(ts) AS us,
      |    CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS side
      |  FROM events WHERE event_type IN ('view', 'purchase')),
      |m AS (
      |  SELECT event_id, user_id, us, side,
      |    last_value(CASE WHEN side = 1 THEN event_id END IGNORE NULLS)
      |      OVER (PARTITION BY user_id ORDER BY us DESC, side, event_id DESC
      |            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
      |      AS purchase_id,
      |    last_value(CASE WHEN side = 1 THEN us END IGNORE NULLS)
      |      OVER (PARTITION BY user_id ORDER BY us DESC, side, event_id DESC
      |            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
      |      AS purchase_us
      |  FROM u)
      |SELECT event_id, user_id, us AS ts_us,
      |  coalesce(purchase_id, -1) AS purchase_id,
      |  coalesce(purchase_us - us, -1) AS gap_us
      |FROM m WHERE side = 0 ORDER BY event_id""".stripMargin

  // --------------------------------------------------------------- q119
  /** Robust outlier detection by median absolute deviation: orders
    * whose total strays more than 3×MAD from the median — the
    * heavy-tail-safe alternative to z-scores (one wild order can't
    * drag the threshold the way it drags a mean/stddev). Median and
    * MAD are exact order statistics via q106's rank arithmetic — both
    * are actual data values in cents, so every comparison is integer;
    * the reported ratio is the only double (one division, 4dp). Scale
    * note: the two median passes are exact DISTRIBUTED rank selections
    * ([[graft.operators.GlobalRank.withRowNumberCounted]] over a
    * 2-column (value, tiebreak) projection, then `rank == (n+1) DIV 2`
    * with n from the rank census) — every task sorts ~1/P of the
    * orders; no single-partition window. */
  def q119MadOutliers(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables(spark, dir).orders
      .select(col("o_orderkey"),
        round(col("o_totalprice") * 100).cast("long").as("cents"))
    def lowerMedian(df: DataFrame, c: String, id: String): Long = {
      val (ranked, n) = graft.operators.GlobalRank.withRowNumberCounted(
        df.select(col(c), col(id)), Seq(col(c).asc, col(id).asc), "rn")
      // collect, not head: take(1)'s incremental partial jobs would
      // re-run the rank exchange once per attempt. Empty relation →
      // the rank filter matches nothing; 0 is a safe sentinel there
      // (every downstream frame is already empty, so the final result
      // stays an empty frame instead of an ArrayIndexOutOfBounds)
      ranked.filter(col("rn") === lit((n + 1) / 2))
        .select(col(c)).collect().headOption.fold(0L)(_.getLong(0))
    }
    // both medians are single scalars — land them as literals so the
    // second pass (and the final filter) never re-evaluates the first
    // rank plan through a broadcast cross join
    val med = lowerMedian(o, "cents", "o_orderkey")
    val dev = o.withColumn("deviation_cents", abs(col("cents") - lit(med)))
    val mad = lowerMedian(
      dev.select(col("o_orderkey"), col("deviation_cents")),
      "deviation_cents", "o_orderkey")
    dev
      .filter(col("deviation_cents") > lit(2L * mad))
      .withColumn("mad_ratio",
        round(col("deviation_cents").cast("double") / lit(mad.toDouble), 4))
      .select("o_orderkey", "cents", "deviation_cents", "mad_ratio")
      .orderBy(col("deviation_cents").desc, col("o_orderkey").asc)
      .limit(50)
  }

  val q119Sql: String =
    """WITH o AS (
      |  SELECT o_orderkey,
      |    CAST(round(o_totalprice * 100) AS BIGINT) AS cents FROM orders),
      |m AS (
      |  SELECT cents AS med FROM (
      |    SELECT cents,
      |      CAST(row_number() OVER (ORDER BY cents, o_orderkey) AS BIGINT)
      |        AS rn,
      |      CAST(count(*) OVER () AS BIGINT) AS n
      |    FROM o)
      |  WHERE rn = (n + 1) // 2),
      |d AS (
      |  SELECT o_orderkey, cents, abs(cents - med) AS deviation_cents
      |  FROM o, m),
      |md AS (
      |  SELECT deviation_cents AS mad FROM (
      |    SELECT deviation_cents,
      |      CAST(row_number() OVER (ORDER BY deviation_cents, o_orderkey)
      |        AS BIGINT) AS rn,
      |      CAST(count(*) OVER () AS BIGINT) AS n
      |    FROM d)
      |  WHERE rn = (n + 1) // 2)
      |SELECT o_orderkey, cents, deviation_cents,
      |  round(CAST(deviation_cents AS DOUBLE) / mad, 4) AS mad_ratio
      |FROM d, md WHERE deviation_cents > 2 * mad
      |ORDER BY deviation_cents DESC, o_orderkey LIMIT 50""".stripMargin

  // --------------------------------------------------------------- q120
  /** Changepoint detection on daily event volume — integer-exact CUSUM:
    * with D days, total N events, and prefix sums P_t, the statistic
    * S_t = D·P_t − t·N is D× the classic "prefix minus expected"
    * cumulative sum, so it needs NO division — every value is an exact
    * BIGINT in both engines and argmax |S_t| (tie → earliest day)
    * marks the most likely level-shift boundary. One map-side-combined
    * daily rollup (≤ days rows), then window arithmetic on that tiny
    * relation. */
  def q120Changepoint(spark: SparkSession, dir: String): DataFrame = {
    val daily = Tables(spark, dir).events
      .select(expr("ts_ns DIV 86400000000000").as("day"))
      .groupBy("day").agg(count(lit(1)).as("c"))
    val w = Window.orderBy("day")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val scored = daily
      .withColumn("t", row_number().over(Window.orderBy("day")).cast("long"))
      .withColumn("p", sum("c").over(w))
      .withColumn("d_days", count(lit(1)).over(Window.partitionBy()))
      .withColumn("n_total", sum("c").over(Window.partitionBy()))
      .withColumn("cusum", col("d_days") * col("p") - col("t") * col("n_total"))
    val peak = scored
      .orderBy(abs(col("cusum")).desc, col("day").asc).limit(1)
      .select(col("day").as("peak_day"))
    scored.crossJoin(broadcast(peak))
      .select(col("day"), col("c").as("n_events"), col("cusum"),
        (col("day") === col("peak_day")).as("is_changepoint"))
      .orderBy("day")
  }

  val q120Sql: String =
    """WITH daily AS (
      |  SELECT epoch_ns(ts) // 86400000000000 AS day,
      |    CAST(count(*) AS BIGINT) AS c
      |  FROM events GROUP BY 1),
      |s AS (
      |  SELECT day, c,
      |    CAST(row_number() OVER (ORDER BY day) AS BIGINT) AS t,
      |    CAST(sum(c) OVER (ORDER BY day
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS p,
      |    CAST(count(*) OVER () AS BIGINT) AS d_days,
      |    CAST(sum(c) OVER () AS BIGINT) AS n_total
      |  FROM daily),
      |sc AS (SELECT day, c, d_days * p - t * n_total AS cusum FROM s),
      |pk AS (SELECT day AS peak_day FROM sc
      |       ORDER BY abs(cusum) DESC, day LIMIT 1)
      |SELECT day, c AS n_events, cusum, day = peak_day AS is_changepoint
      |FROM sc, pk ORDER BY day""".stripMargin

  // ---------------------------------------------------------------- q15
  /** Semi-structured extraction: pull a typed field out of the JSON
    * `props` column and aggregate on it. get_json_object stays inside
    * codegen; at scale this is the schema-on-read path for event
    * payloads (full from_json with a schema when fields are known). */
  def q15JsonExtract(spark: SparkSession, dir: String): DataFrame =
    Tables(spark, dir).events
      .withColumn("k", get_json_object(col("props"), "$.k").cast("long"))
      // plain DIV — DuckDB `//` also truncates toward zero (see q13),
      // so the engines agree on negative k too (InvariantSpec pins it)
      .withColumn("k_bucket", expr("k DIV 10"))
      .groupBy("k_bucket")
      .agg(
        count(lit(1)).as("n_events"),
        moneySum("value").as("bucket_value"))
      .orderBy("k_bucket")

  val q15Sql: String =
    """SELECT CAST(json_extract(props, '$.k') AS BIGINT) // 10 AS k_bucket,
      |  count(*) AS n_events,
      |  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS bucket_value
      |FROM events GROUP BY k_bucket ORDER BY k_bucket""".stripMargin

  // ---------------------------------------------------------------- q16
  /** Pivot: per-user event counts spread across event types. The type
    * list is pinned (never inferred via an extra distinct scan) — at
    * scale an inferred pivot is two jobs, a pinned one is one. */
  val PivotTypes: Seq[String] = Seq("click", "error", "purchase", "signup", "view")

  def q16Pivot(spark: SparkSession, dir: String): DataFrame =
    Tables(spark, dir).events
      .groupBy("user_id")
      .pivot("event_type", PivotTypes)
      .agg(count(lit(1)))
      // absent (user, type) cells come out of the pivot itself as null
      .na.fill(0L, PivotTypes)
      .orderBy("user_id")

  val q16Sql: String = {
    val cols = PivotTypes.map(t =>
      s"""count(*) FILTER (WHERE event_type = '$t') AS "$t"""").mkString(",\n      |  ")
    s"""SELECT user_id,
       |  $cols
       |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin
  }

  // ---------------------------------------------------------------- q17
  /** Window-function suite: lag/lead (decimal-exact), rank over a
    * unique ordering, ntile — one pass, one shuffle on user_id. */
  def q17WindowSuite(spark: SparkSession, dir: String): DataFrame = {
    val byUser = Window.partitionBy("user_id")
      .orderBy(col("value").desc, col("event_id").asc)
    // lag/lead carry values, not sums: the oracle's double→decimal→
    // double round-trip is the identity on 2-dp doubles, so plain
    // double lag/lead is bit-identical without the decimal detour
    Tables(spark, dir).events
      .select(
        col("event_id"), col("user_id"),
        lag("value", 1).over(byUser).as("prev_value"),
        lead("value", 1).over(byUser).as("next_value"),
        rank().over(byUser).cast("long").as("value_rank"),
        ntile(4).over(byUser).cast("long").as("quartile"))
      .orderBy("event_id")
  }

  val q17Sql: String =
    """SELECT event_id, user_id,
      |  CAST(lag(CAST(value AS DECIMAL(18,2)), 1) OVER w AS DOUBLE) AS prev_value,
      |  CAST(lead(CAST(value AS DECIMAL(18,2)), 1) OVER w AS DOUBLE) AS next_value,
      |  CAST(rank() OVER w AS BIGINT) AS value_rank,
      |  CAST(ntile(4) OVER w AS BIGINT) AS quartile
      |FROM events
      |WINDOW w AS (PARTITION BY user_id ORDER BY value DESC, event_id ASC)
      |ORDER BY event_id""".stripMargin

  // ---------------------------------------------------------------- q18
  /** ROLLUP subtotals over the geography hierarchy — region, nation,
    * and grand total in one pass (Catalyst expands then single-shuffles). */
  def q18Rollup(spark: SparkSession, dir: String): DataFrame = {
    val t = Tables(spark, dir)
    // rollup must take Column refs here: the string-name overload trips
    // Spark 4.1's ambiguous-self-join detector on any join-derived frame
    val base = t.orders
      .join(t.customer, col("o_custkey") === col("c_custkey"))
      .join(broadcast(t.nation), col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(t.region), col("n_regionkey") === col("r_regionkey"))
      .select("r_name", "n_name", "o_totalprice")
    base.rollup(col("r_name"), col("n_name"))
      .agg(count(lit(1)).as("n_orders"), moneySum("o_totalprice").as("total_price"))
      .sort(asc_nulls_first("r_name"), asc_nulls_first("n_name"))
  }

  val q18Sql: String =
    """SELECT r_name, n_name, count(*) AS n_orders,
      |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_price
      |FROM orders
      |JOIN customer ON o_custkey = c_custkey
      |JOIN nation ON c_nationkey = n_nationkey
      |JOIN region ON n_regionkey = r_regionkey
      |GROUP BY ROLLUP (r_name, n_name)
      |ORDER BY r_name ASC NULLS FIRST, n_name ASC NULLS FIRST""".stripMargin

  // ---------------------------------------------------------------- q76
  /** CUBE over (returnflag, linestatus): all four grouping sets — per
    * pair, per flag, per status, grand total — in ONE pass (Catalyst
    * expands the sets then single-shuffles, exactly like q18's rollup;
    * this completes the grouping-set family). NULL subtotal markers
    * sort first on both engines; the group columns are non-null in the
    * data, so NULL unambiguously means "all". */
  def q76Cube(spark: SparkSession, dir: String): DataFrame =
    Tables(spark, dir).lineitem
      .cube(col("l_returnflag"), col("l_linestatus"))
      .agg(count(lit(1)).as("n_rows"),
        sum("l_quantity").as("sum_qty"), // integral doubles: exact
        moneySum("l_extendedprice").as("sum_price"))
      .sort(asc_nulls_first("l_returnflag"), asc_nulls_first("l_linestatus"))

  val q76Sql: String =
    """SELECT l_returnflag, l_linestatus, count(*) AS n_rows,
      |  sum(l_quantity) AS sum_qty,
      |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
      |FROM lineitem
      |GROUP BY CUBE (l_returnflag, l_linestatus)
      |ORDER BY l_returnflag ASC NULLS FIRST, l_linestatus ASC NULLS FIRST""".stripMargin

  // ---------------------------------------------------------------- q77
  /** Fuzzy entity-resolution self-join: customer-name pairs within
    * Hamming distance 1, found WITHOUT a cross join — position-wildcard
    * (FastSS-style) masked variants turn candidate generation into an
    * equi-join on md5'd variant digests whose candidate set equals the
    * result set even on ID-prefixed keys like `Customer#…`
    * (operators.FuzzyJoin scaladoc; FuzzyJoinSpec proves == the
    * brute-force pairing AND pins overgeneration ≈ 1 on exactly this
    * corpus shape). The oracle is the brute-force form —
    * DuckDB's O(n²) hamming scan is affordable at oracle scale and
    * deliberately DIFFERENT plan-wise: agreeing outputs from different
    * plans is the point of the check. */
  def q77FuzzyJoin(spark: SparkSession, dir: String): DataFrame =
    graft.operators.FuzzyJoin.hammingSelfJoin(
        Tables(spark, dir).customer, "c_custkey", "c_name", maxDist = 1)
      .orderBy("id_a", "id_b")

  val q77Sql: String =
    """SELECT a.c_custkey AS id_a, b.c_custkey AS id_b,
      |  CAST(hamming(a.c_name, b.c_name) AS BIGINT) AS dist
      |FROM customer a JOIN customer b
      |  ON a.c_custkey < b.c_custkey
      |  AND length(a.c_name) = length(b.c_name)
      |  AND hamming(a.c_name, b.c_name) <= 1
      |ORDER BY id_a, id_b""".stripMargin

  // ---------------------------------------------------------------- q78
  /** Connected components of the co-purchase graph
    * ([[coPurchaseEdges]]): each part gets its component id (= min part
    * id in the component) plus the component size. The Spark side is
    * iterative min-label propagation run to fixpoint
    * (operators.Graph); the oracle computes the SAME fixpoint as a
    * DuckDB recursive CTE — two entirely different evaluation
    * strategies agreeing on the closure is the strongest cross-check
    * in the catalog. */
  def q78ConnectedComponents(spark: SparkSession, dir: String): DataFrame = {
    val comp = graft.operators.Graph.connectedComponents(
      coPurchaseEdges(spark, dir), "src", "dst")
    val sizes = comp.groupBy("component").agg(count(lit(1)).as("component_size"))
    comp.join(sizes, "component")
      .select(col("node").as("part_id"), col("component"),
        col("component_size"))
      .orderBy("part_id")
  }

  val q78Sql: String =
    s"""WITH RECURSIVE $coPurchaseCtes,
      |reach(node, root) AS (
      |  SELECT DISTINCT src, src FROM e
      |  UNION
      |  SELECT e.dst, r.root FROM reach r JOIN e ON e.src = r.node),
      |comp AS (
      |  SELECT node, min(root) AS component FROM reach GROUP BY 1),
      |sizes AS (
      |  SELECT component, CAST(count(*) AS BIGINT) AS component_size
      |  FROM comp GROUP BY 1)
      |SELECT node AS part_id, component, component_size
      |FROM comp JOIN sizes USING (component)
      |ORDER BY part_id""".stripMargin

  // ---------------------------------------------------------------- q85
  /** Interval × interval overlap join: 10-minute error windows against
    * 5-minute purchase windows that overlap them. No equality key exists,
    * so the naive plan is a BroadcastNestedLoopJoin over every
    * (error, purchase) pair; `RangeJoin.intervalOverlap` restores a hash
    * join on a time bin, with each overlapping pair claimed by exactly
    * one bin (the one containing the later start) — one shuffle, no
    * dedup. The oracle states the plain overlap-predicate semantics. */
  def q85IntervalOverlap(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables(spark, dir).events
    val errNs = 600000000000L  // 10 min
    val purNs = 300000000000L  //  5 min
    val errors = ev.filter(col("event_type") === "error")
      .select(col("event_id").as("error_id"),
        col("ts_ns").as("e_start"), (col("ts_ns") + errNs).as("e_end"))
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("event_id").as("p_id"),
        col("ts_ns").as("p_start"), (col("ts_ns") + purNs).as("p_end"))
    graft.operators.RangeJoin.intervalOverlap(
        errors, purchases,
        col("e_start"), col("e_end"), col("p_start"), col("p_end"),
        binWidth = errNs)
      .select(col("error_id"), col("p_id"),
        (least(col("e_end"), col("p_end")) -
          greatest(col("e_start"), col("p_start"))).as("overlap_ns"))
      .orderBy("error_id", "p_id")
  }

  val q85Sql: String =
    """WITH e AS (
      |  SELECT event_id AS error_id, epoch_ns(ts) AS e_start,
      |    epoch_ns(ts) + 600000000000 AS e_end
      |  FROM events WHERE event_type = 'error'),
      |p AS (
      |  SELECT event_id AS p_id, epoch_ns(ts) AS p_start,
      |    epoch_ns(ts) + 300000000000 AS p_end
      |  FROM events WHERE event_type = 'purchase')
      |SELECT error_id, p_id,
      |  least(e_end, p_end) - greatest(e_start, p_start) AS overlap_ns
      |FROM e JOIN p ON e_start < p_end AND p_start < e_end
      |ORDER BY error_id, p_id""".stripMargin

  // ---------------------------------------------------------------- q86
  /** PageRank over the co-purchase graph (same edges as q78) in scaled-
    * integer arithmetic: 5 fixed rounds, damping 0.85, ranks in
    * millionths (operators.Graph.pageRank — the integer semantics are
    * what make an iterative float algorithm hash-checkable across
    * engines). The oracle unrolls the same five rounds as chained CTEs:
    * two entirely different evaluation strategies computing the same
    * fixpoint prefix. */
  def q86PageRank(spark: SparkSession, dir: String): DataFrame =
    // symmetrization happens inside the operator, fused with its edge-
    // count sizing pass — one DataFrame union+distinct exchange fewer
    graft.operators.Graph.pageRank(coPurchaseEdges(spark, dir), "src", "dst",
        iterations = 5, symmetrize = true)
      .select(col("node").as("part_id"), col("pr"))
      .orderBy("part_id")

  val q86Sql: String = {
    val k = 5
    val rounds = (1 to k).map { i =>
      s"""r$i AS (
         |  SELECT n.node, 150000 + (85 * COALESCE(s.c, 0)) // 100 AS pr
         |  FROM nodes n LEFT JOIN (
         |    SELECT e.dst AS node, SUM(p.pr // d.deg) AS c
         |    FROM r${i - 1} p
         |    JOIN deg d ON d.node = p.node
         |    JOIN e ON e.src = p.node
         |    GROUP BY e.dst) s ON s.node = n.node)""".stripMargin
    }.mkString(",\n")
    s"""WITH $coPurchaseCtes,
       |deg AS (SELECT src AS node, count(*) AS deg FROM e GROUP BY 1),
       |nodes AS (SELECT DISTINCT src AS node FROM e),
       |r0 AS (SELECT node, 1000000 AS pr FROM nodes),
       |$rounds
       |SELECT node AS part_id, CAST(pr AS BIGINT) AS pr
       |FROM r$k ORDER BY part_id""".stripMargin
  }

  // ---------------------------------------------------------------- q87
  /** Per-node triangle counts on the co-purchase graph via degree
    * orientation (operators.Graph.triangleCounts): wedge fanout bounded
    * by oriented out-degree ≤ O(√m), the guard that survives hub nodes
    * at 100 TB. The oracle runs the same orientation as plain SQL
    * joins. */
  def q87Triangles(spark: SparkSession, dir: String): DataFrame =
    graft.operators.Graph.triangleCounts(coPurchaseEdges(spark, dir), "src", "dst")
      .select(col("node").as("part_id"), col("triangles"))
      .orderBy("part_id")

  val q87Sql: String =
    s"""WITH $coPurchaseCtes,
      |deg AS (SELECT src AS node, count(*) AS deg FROM e GROUP BY 1),
      |o AS (
      |  SELECT e.src, e.dst FROM e
      |  JOIN deg ds ON ds.node = e.src
      |  JOIN deg dd ON dd.node = e.dst
      |  WHERE ds.deg < dd.deg OR (ds.deg = dd.deg AND e.src < e.dst)),
      |tri AS (
      |  SELECT w1.src AS a, w1.dst AS b, w2.dst AS c
      |  FROM o w1
      |  JOIN o w2 ON w1.src = w2.src AND w1.dst <> w2.dst
      |  JOIN o cl ON cl.src = w1.dst AND cl.dst = w2.dst)
      |SELECT node AS part_id, CAST(count(*) AS BIGINT) AS triangles
      |FROM (SELECT a AS node FROM tri
      |      UNION ALL SELECT b FROM tri
      |      UNION ALL SELECT c FROM tri)
      |GROUP BY 1 ORDER BY part_id""".stripMargin

  // ---------------------------------------------------------------- q19
  /** Scalar-subquery predicate: customers above the global mean balance.
    * The mean is one broadcast row — no per-row recomputation. */
  def q19ScalarSubquery(spark: SparkSession, dir: String): DataFrame = {
    val t = Tables(spark, dir)
    val mean = t.customer.agg(
      (sum(round(col("c_acctbal") * 100).cast("long")) / 100.0 / count(lit(1)))
        .as("mean_bal"))
    t.customer.crossJoin(broadcast(mean))
      .filter(col("c_acctbal") > col("mean_bal"))
      .select("c_custkey", "c_name", "c_acctbal")
      .orderBy("c_custkey")
  }

  val q19Sql: String =
    """SELECT c_custkey, c_name, c_acctbal FROM customer
      |WHERE c_acctbal > (
      |  SELECT CAST(sum(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) / count(*)
      |  FROM customer)
      |ORDER BY c_custkey""".stripMargin

  // ---------------------------------------------------------------- q33
  /** String predicate pushdown: LIKE '%...%' compiles to a
    * StringContains parquet filter; regexp match runs in codegen. */
  def q33StringMatch(spark: SparkSession, dir: String): DataFrame =
    Tables(spark, dir).part
      .filter(col("p_name").like("%e%") && col("p_type").rlike("^[A-Z]+$"))
      .select(col("p_partkey"), col("p_name"),
        upper(substring(col("p_brand"), 1, 5)).as("brand_prefix"),
        length(col("p_name")).cast("long").as("name_len"))
      .orderBy("p_partkey")

  val q33Sql: String =
    """SELECT p_partkey, p_name,
      |  upper(substr(p_brand, 1, 5)) AS brand_prefix,
      |  CAST(len(p_name) AS BIGINT) AS name_len
      |FROM part
      |WHERE p_name LIKE '%e%' AND regexp_matches(p_type, '^[A-Z]+$')
      |ORDER BY p_partkey""".stripMargin

  // ---------------------------------------------------------------- q34
  /** Calendar rollup: orders per (year, month) — date_part extraction
    * on both engines over the same naive/UTC timestamps. */
  def q34DateParts(spark: SparkSession, dir: String): DataFrame =
    Tables(spark, dir).orders
      .groupBy(
        year(col("o_orderdate")).cast("long").as("o_year"),
        month(col("o_orderdate")).cast("long").as("o_month"))
      .agg(count(lit(1)).as("n_orders"), moneySum("o_totalprice").as("month_price"))
      .orderBy("o_year", "o_month")

  val q34Sql: String =
    """SELECT CAST(date_part('year', o_orderdate) AS BIGINT) AS o_year,
      |  CAST(date_part('month', o_orderdate) AS BIGINT) AS o_month,
      |  count(*) AS n_orders,
      |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS month_price
      |FROM orders GROUP BY o_year, o_month ORDER BY o_year, o_month""".stripMargin

  // ---------------------------------------------------------------- q35
  /** Set operations: nations having customers but no suppliers
    * (EXCEPT) unioned with nations having both (INTERSECT), tagged. */
  def q35SetOps(spark: SparkSession, dir: String): DataFrame = {
    val t = Tables(spark, dir)
    val custN = t.customer.select(col("c_nationkey").as("nationkey"))
    val suppN = t.supplier.select(col("s_nationkey").as("nationkey"))
    val both = custN.intersect(suppN).withColumn("tag", lit("both"))
    val custOnly = custN.except(suppN).withColumn("tag", lit("customers_only"))
    both.unionByName(custOnly).orderBy("nationkey")
  }

  val q35Sql: String =
    """SELECT nationkey, tag FROM (
      |  SELECT nationkey, 'both' AS tag FROM
      |    (SELECT c_nationkey AS nationkey FROM customer
      |     INTERSECT SELECT s_nationkey FROM supplier)
      |  UNION ALL
      |  SELECT nationkey, 'customers_only' AS tag FROM
      |    (SELECT c_nationkey AS nationkey FROM customer
      |     EXCEPT SELECT s_nationkey FROM supplier))
      |ORDER BY nationkey""".stripMargin

  // ---------------------------------------------------------------- q56
  /** Unkeyed range join via binning: purchases landing inside the
    * 10-minute window after each error event. There is NO equality key
    * — Spark's naive plan for `w_start <= p_ts < w_end` is a
    * BroadcastNestedLoopJoin over every (error, purchase) pair.
    * `RangeJoin.pointInInterval` restores a hash join on a quantized
    * time bin (bin = window length → each window spans ≤ 2 bins, each
    * purchase hashes to exactly 1), which is the shape that survives a
    * 100 TB event log. The LEFT join back to errors keeps zero-match
    * windows so the output is one row per error, audit-style. */
  def q56RangeJoin(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables(spark, dir).events
    val windowNs = 600000000000L // 10 min
    val errors = ev.filter(col("event_type") === "error")
      .select(col("event_id").as("error_id"),
        col("ts_ns").as("w_start"),
        (col("ts_ns") + windowNs).as("w_end"))
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("event_id").as("p_id"), col("ts_ns").as("p_ts"))
    val matched = graft.operators.RangeJoin.pointInInterval(
      purchases, errors,
      col("p_ts"), col("w_start"), col("w_end"), binWidth = windowNs)
      .groupBy("error_id")
      .agg(count(lit(1)).as("n_purchases"),
        min("p_id").as("first_purchase_id"))
    errors.select("error_id").join(matched, Seq("error_id"), "left")
      .select(col("error_id"),
        coalesce(col("n_purchases"), lit(0L)).as("n_purchases"),
        col("first_purchase_id"))
      .orderBy("error_id")
  }

  /** The oracle states the SEMANTICS (plain inequality join — DuckDB's
    * IEJoin handles it natively); the Spark side is the binned plan. */
  val q56Sql: String =
    """WITH e AS (
      |  SELECT event_id AS error_id, epoch_ns(ts) AS w_start,
      |    epoch_ns(ts) + 600000000000 AS w_end
      |  FROM events WHERE event_type = 'error'),
      |p AS (
      |  SELECT event_id AS p_id, epoch_ns(ts) AS p_ts
      |  FROM events WHERE event_type = 'purchase'),
      |m AS (
      |  SELECT error_id, count(*) AS n_purchases,
      |    min(p_id) AS first_purchase_id
      |  FROM e JOIN p ON w_start <= p_ts AND p_ts < w_end
      |  GROUP BY 1)
      |SELECT e.error_id,
      |  CAST(coalesce(m.n_purchases, 0) AS BIGINT) AS n_purchases,
      |  m.first_purchase_id
      |FROM e LEFT JOIN m USING (error_id) ORDER BY error_id""".stripMargin

  // ---------------------------------------------------------------- q74
  /** Ordered conversion funnel view → click → purchase per user:
    * earliest click strictly AFTER the user's first view, earliest
    * purchase strictly AFTER that click, plus the reached depth. Three
    * stage aggregations all keyed on user_id: after the first shuffle
    * the joins and re-aggs reuse the hash partitioning (no extra
    * exchange at scale), and each stage's frame shrinks to the users
    * still converting — the standard product-analytics funnel without
    * ever materializing per-user event arrays. Time math in µs (q55's
    * rule: DuckDB reads TIMESTAMP(NANOS) µs-truncated, so µs is the
    * finest cross-engine-exact unit); missing stages are -1 sentinels
    * (q55's NULL discipline). */
  def q74Funnel(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables(spark, dir).events
      .select(col("user_id"), col("event_type"),
        expr("ts_ns DIV 1000").as("ts_us"))
    val t1 = e.filter(col("event_type") === "view")
      .groupBy("user_id").agg(min("ts_us").as("t1_us"))
    val t2 = e.filter(col("event_type") === "click")
      .join(t1, "user_id").filter(col("ts_us") > col("t1_us"))
      .groupBy("user_id").agg(min("ts_us").as("t2_us"))
    val t3 = e.filter(col("event_type") === "purchase")
      .join(t2, "user_id").filter(col("ts_us") > col("t2_us"))
      .groupBy("user_id").agg(min("ts_us").as("t3_us"))
    e.select("user_id").distinct()
      .join(t1, Seq("user_id"), "left")
      .join(t2, Seq("user_id"), "left")
      .join(t3, Seq("user_id"), "left")
      .select(col("user_id"),
        (when(col("t1_us").isNotNull, 1L).otherwise(0L) +
          when(col("t2_us").isNotNull, 1L).otherwise(0L) +
          when(col("t3_us").isNotNull, 1L).otherwise(0L)).as("funnel_depth"),
        coalesce(col("t1_us"), lit(-1L)).as("t1_us"),
        coalesce(col("t2_us"), lit(-1L)).as("t2_us"),
        coalesce(col("t3_us"), lit(-1L)).as("t3_us"))
      .orderBy("user_id")
  }

  val q74Sql: String =
    """WITH e AS (
      |  SELECT user_id, event_type, epoch_us(ts) AS ts_us FROM events),
      |t1 AS (
      |  SELECT user_id, min(ts_us) AS t1_us FROM e
      |  WHERE event_type = 'view' GROUP BY 1),
      |t2 AS (
      |  SELECT e.user_id, min(ts_us) AS t2_us FROM e JOIN t1 USING (user_id)
      |  WHERE event_type = 'click' AND ts_us > t1_us GROUP BY 1),
      |t3 AS (
      |  SELECT e.user_id, min(ts_us) AS t3_us FROM e JOIN t2 USING (user_id)
      |  WHERE event_type = 'purchase' AND ts_us > t2_us GROUP BY 1)
      |SELECT u.user_id,
      |  CAST(CASE WHEN t1_us IS NULL THEN 0 ELSE 1 END
      |    + CASE WHEN t2_us IS NULL THEN 0 ELSE 1 END
      |    + CASE WHEN t3_us IS NULL THEN 0 ELSE 1 END AS BIGINT) AS funnel_depth,
      |  coalesce(t1_us, -1) AS t1_us,
      |  coalesce(t2_us, -1) AS t2_us,
      |  coalesce(t3_us, -1) AS t3_us
      |FROM (SELECT DISTINCT user_id FROM e) u
      |LEFT JOIN t1 USING (user_id)
      |LEFT JOIN t2 USING (user_id)
      |LEFT JOIN t3 USING (user_id)
      |ORDER BY user_id""".stripMargin

  /** name → query */
  // ---------------------------------------------------------------- q80
  /** Time-series resample + gap-fill: per-user DAILY activity grid from
    * first to last active day, zero-filling silent days and carrying
    * the last active day forward (LOCF) to expose idle streaks. The
    * grid comes from `sequence` + `explode` — per-key generation, no
    * driver loop — and the forward fill is a running `max` over days
    * with activity, which needs only the per-user window shuffle the
    * sessionize family already pays. At 100 TB the explode fanout is
    * bounded by per-key day spans (not corpus size), and every stage is
    * keyed on user_id so one exchange serves grid join and fill alike.
    * The user sample (% 17) bounds oracle output; time math on raw
    * ns longs (q55's rule). */
  def q80Gapfill(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables(spark, dir).events
      .filter(col("user_id") % 17 === 0)
      .select(col("user_id"), expr("ts_ns DIV 86400000000000").as("day"))
    val daily = e.groupBy("user_id", "day").agg(count(lit(1)).as("n_events"))
    val grid = daily.groupBy("user_id")
      .agg(min("day").as("d0"), max("day").as("d1"))
      .select(col("user_id"), explode(sequence(col("d0"), col("d1"))).as("day"))
    val w = Window.partitionBy("user_id").orderBy("day")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    grid.join(daily, Seq("user_id", "day"), "left")
      .withColumn("n_events", coalesce(col("n_events"), lit(0L)))
      .withColumn("last_active_day",
        max(when(col("n_events") > 0, col("day"))).over(w))
      .withColumn("days_idle", col("day") - col("last_active_day"))
      .select("user_id", "day", "n_events", "last_active_day", "days_idle")
      .orderBy("user_id", "day")
  }

  val q80Sql: String =
    """WITH e AS (
      |  SELECT user_id, epoch_ns(ts) // 86400000000000 AS day
      |  FROM events WHERE user_id % 17 = 0),
      |daily AS (
      |  SELECT user_id, day, count(*) AS n_events FROM e GROUP BY 1, 2),
      |grid AS (
      |  SELECT user_id, unnest(generate_series(min(day), max(day))) AS day
      |  FROM daily GROUP BY user_id),
      |f AS (
      |  SELECT g.user_id, g.day,
      |    CAST(coalesce(d.n_events, 0) AS BIGINT) AS n_events
      |  FROM grid g LEFT JOIN daily d
      |    ON g.user_id = d.user_id AND g.day = d.day)
      |SELECT user_id, day, n_events, last_active_day,
      |  day - last_active_day AS days_idle
      |FROM (
      |  SELECT user_id, day, n_events,
      |    max(CASE WHEN n_events > 0 THEN day END) OVER
      |      (PARTITION BY user_id ORDER BY day
      |       ROWS UNBOUNDED PRECEDING) AS last_active_day
      |  FROM f)
      |ORDER BY user_id, day""".stripMargin

  // ---------------------------------------------------------------- q81
  /** Edit-distance (Levenshtein ≤ 1) entity-resolution self-join via
    * the FastSS deletion neighborhood (operators.FuzzyJoin.editSelfJoin
    * scaladoc) — q77's Hamming variant extended to insertions and
    * deletions, still with NO cross join. The oracle is deliberately
    * the brute-force levenshtein scan (DuckDB ships the same unit-cost
    * edit distance): two different plans agreeing is the check. The
    * customer sample (% 3) bounds the oracle's quadratic side. */
  def q81EditDistJoin(spark: SparkSession, dir: String): DataFrame =
    graft.operators.FuzzyJoin.editSelfJoin(
        Tables(spark, dir).customer.filter(col("c_custkey") % 3 === 0),
        "c_custkey", "c_name")
      .orderBy("id_a", "id_b")

  val q81Sql: String =
    """SELECT a.c_custkey AS id_a, b.c_custkey AS id_b,
      |  CAST(levenshtein(a.c_name, b.c_name) AS BIGINT) AS dist
      |FROM customer a JOIN customer b
      |  ON a.c_custkey < b.c_custkey
      |  AND abs(length(a.c_name) - length(b.c_name)) <= 1
      |  AND levenshtein(a.c_name, b.c_name) <= 1
      |WHERE a.c_custkey % 3 = 0 AND b.c_custkey % 3 = 0
      |ORDER BY id_a, id_b""".stripMargin

  // ---------------------------------------------------------------- q83
  /** Robust per-group outlier flagging by rank-based percentile bounds:
    * customers outside their market segment's [p05, p95] balance band.
    * "Value at rank ceil(q·n)" is pure integer logic — row_number plus
    * a conditional min — so the bounds are deterministic and
    * cross-engine exact where interpolated quantiles are not (Spark and
    * DuckDB round interpolation differently; ranks they agree on).
    * Scale shape (round-11): the group key has FIVE values, so the old
    * per-segment window buffered a fifth of all customers in one task;
    * rank and n now come from
    * [[graft.operators.GlobalRank.withGroupRowNumber]] (distributed
    * global rank minus broadcast group offsets, group sizes on the
    * same ≤5-row broadcast). The 5-row bounds frame broadcasts back as
    * before. This IS the formerly-declared 100 TB escape, in exact
    * form — the q66 sketch substitute would break the oracle's
    * bit-exact bounds. */
  def q83RankOutliers(spark: SparkSession, dir: String): DataFrame = {
    val ranked = graft.operators.GlobalRank.withGroupRowNumber(
      Tables(spark, dir).customer
        .select(col("c_custkey"), col("c_mktsegment"), col("c_acctbal")),
      Seq("c_mktsegment"),
      Seq(col("c_acctbal").asc, col("c_custkey").asc), "rn", countOut = "n")
    val bounds = ranked
      .groupBy("c_mktsegment")
      .agg(
        min(when(col("rn") === expr("(n * 5 + 99) DIV 100"), col("c_acctbal")))
          .as("lo_val"),
        min(when(col("rn") === expr("(n * 95 + 99) DIV 100"), col("c_acctbal")))
          .as("hi_val"))
    ranked.join(broadcast(bounds), "c_mktsegment")
      .filter(col("c_acctbal") < col("lo_val") || col("c_acctbal") > col("hi_val"))
      .select("c_custkey", "c_mktsegment", "c_acctbal", "lo_val", "hi_val")
      .orderBy("c_custkey")
  }

  val q83Sql: String =
    """WITH r AS (
      |  SELECT c_custkey, c_mktsegment, c_acctbal,
      |    row_number() OVER (PARTITION BY c_mktsegment
      |      ORDER BY c_acctbal, c_custkey) AS rn,
      |    count(*) OVER (PARTITION BY c_mktsegment) AS n
      |  FROM customer),
      |b AS (
      |  SELECT c_mktsegment,
      |    min(CASE WHEN rn = (n * 5 + 99) // 100 THEN c_acctbal END) AS lo_val,
      |    min(CASE WHEN rn = (n * 95 + 99) // 100 THEN c_acctbal END) AS hi_val
      |  FROM r GROUP BY 1)
      |SELECT c_custkey, c_mktsegment, c_acctbal, lo_val, hi_val
      |FROM r JOIN b USING (c_mktsegment)
      |WHERE c_acctbal < lo_val OR c_acctbal > hi_val
      |ORDER BY c_custkey""".stripMargin

  // ---------------------------------------------------------------- q84
  /** Z-order clustering census: Morton-interleave quantized
    * (l_quantity, l_extendedprice) — power-of-two scaling, so
    * quantization is exact floor arithmetic in both engines — and
    * aggregate per coarse Z-cell (zkey DIV 16 = a 4×4 quantized
    * rectangle). The min/max columns per cell ARE the row-group
    * statistics a 100 TB parquet layout would carry after
    * `ZOrder.clusterBy`: every cell is a tight rectangle in BOTH
    * dimensions, which is what makes predicates on either column prune
    * row groups. The Morton expression and its oracle SQL come from the
    * same generator (operators.ZOrder), so the bit interleave is
    * hash-checked literally. */
  def q84ZOrderCluster(spark: SparkSession, dir: String): DataFrame = {
    val q = Tables(spark, dir).lineitem.select(
      least(floor(col("l_quantity")), lit(63.0)).cast("long").as("qx"),
      least(floor(col("l_extendedprice") / 2048), lit(63.0)).cast("long").as("qy"),
      col("l_quantity"), col("l_extendedprice"))
    q.select(
        graft.operators.ZOrder.mortonColumn(Seq(col("qx"), col("qy")), 6)
          .as("zkey"),
        col("l_quantity"), col("l_extendedprice"))
      .groupBy(expr("zkey DIV 16").as("z_cell"))
      .agg(count(lit(1)).as("n_rows"),
        min("l_quantity").as("min_qty"), max("l_quantity").as("max_qty"),
        min("l_extendedprice").as("min_price"),
        max("l_extendedprice").as("max_price"))
      .orderBy("z_cell")
  }

  val q84Sql: String = {
    val morton = graft.operators.ZOrder.mortonSql(Seq("qx", "qy"), 6)
    s"""WITH q AS (
       |  SELECT CAST(least(floor(l_quantity), 63) AS BIGINT) AS qx,
       |    CAST(least(floor(l_extendedprice / 2048), 63) AS BIGINT) AS qy,
       |    l_quantity, l_extendedprice
       |  FROM lineitem),
       |z AS (SELECT $morton AS zkey, l_quantity, l_extendedprice FROM q)
       |SELECT zkey // 16 AS z_cell, count(*) AS n_rows,
       |  min(l_quantity) AS min_qty, max(l_quantity) AS max_qty,
       |  min(l_extendedprice) AS min_price, max(l_extendedprice) AS max_price
       |FROM z GROUP BY 1 ORDER BY z_cell""".stripMargin
  }

  /** Every query of this module: name, Spark builder, DuckDB oracle. */
  val catalog: Seq[CatalogEntry] = Seq(
    CatalogEntry("q74_funnel", q74Funnel _, q74Sql),
    CatalogEntry("q76_cube", q76Cube _, q76Sql),
    CatalogEntry("q77_fuzzy_join", q77FuzzyJoin _, q77Sql),
    CatalogEntry("q78_connected_components", q78ConnectedComponents _, q78Sql),
    CatalogEntry("q80_gapfill", q80Gapfill _, q80Sql),
    CatalogEntry("q81_editdist_join", q81EditDistJoin _, q81Sql),
    CatalogEntry("q85_interval_overlap", q85IntervalOverlap _, q85Sql),
    CatalogEntry("q86_pagerank", q86PageRank _, q86Sql),
    CatalogEntry("q87_triangles", q87Triangles _, q87Sql),
    CatalogEntry("q83_rank_outliers", q83RankOutliers _, q83Sql),
    CatalogEntry("q84_zorder_cluster", q84ZOrderCluster _, q84Sql),
    CatalogEntry("q01_scan_filter_project", q01ScanFilterProject _, q01Sql),
    CatalogEntry("q02_agg_pricing", q02AggPricing _, q02Sql),
    CatalogEntry("q03_join_broadcast", q03JoinBroadcast _, q03Sql),
    CatalogEntry("q04_join_geo", q04JoinGeo _, q04Sql),
    CatalogEntry("q05_semi_join", q05SemiJoin _, q05Sql),
    CatalogEntry("q06_anti_join", q06AntiJoin _, q06Sql),
    CatalogEntry("q07_distinct", q07Distinct _, q07Sql),
    CatalogEntry("q08_union", q08Union _, q08Sql),
    CatalogEntry("q09_topk", q09TopK _, q09Sql),
    CatalogEntry("q10_window_rank", q10WindowRank _, q10Sql),
    CatalogEntry("q11_window_running", q11WindowRunning _, q11Sql),
    CatalogEntry("q12_group_having", q12GroupHaving _, q12Sql),
    CatalogEntry("q13_hourly_rollup", q13HourlyRollup _, q13Sql),
    CatalogEntry("q14_sessionize", q14Sessionize _, q14Sql),
    CatalogEntry("q93_event_transitions", q93EventTransitions _, q93Sql),
    CatalogEntry("q94_retention_cohorts", q94RetentionCohorts _, q94Sql),
    CatalogEntry("q102_rate_anomaly", q102RateAnomaly _, q102Sql),
    CatalogEntry("q103_conversion_latency", q103ConversionLatency _, q103Sql),
    CatalogEntry("q104_small_qty_revenue", q104SmallQtyRevenue _, q104Sql),
    CatalogEntry("q105_lone_late_supplier", q105LoneLateSupplier _, q105Sql),
    CatalogEntry("q106_percentile_ladder", q106PercentileLadder _, q106Sql),
    CatalogEntry("q107_frequent_pairs", q107FrequentPairs _, q107Sql),
    CatalogEntry("q111_bfs_levels", q111BfsLevels _, q111Sql),
    CatalogEntry("q112_rfm_segments", q112RfmSegments _, q112Sql),
    CatalogEntry("q116_region_revenue", q116RegionRevenue _, q116Sql),
    CatalogEntry("q117_grouping_sets", q117GroupingSets _, q117Sql),
    CatalogEntry("q55_asof_join", q55AsofJoin _, q55Sql),
    CatalogEntry("q118_asof_forward", q118AsofForward _, q118Sql),
    CatalogEntry("q119_mad_outliers", q119MadOutliers _, q119Sql),
    CatalogEntry("q120_changepoint", q120Changepoint _, q120Sql),
    CatalogEntry("q56_range_join", q56RangeJoin _, q56Sql),
    CatalogEntry("q15_json_extract", q15JsonExtract _, q15Sql),
    CatalogEntry("q16_pivot", q16Pivot _, q16Sql),
    CatalogEntry("q17_window_suite", q17WindowSuite _, q17Sql),
    CatalogEntry("q18_rollup", q18Rollup _, q18Sql),
    CatalogEntry("q19_scalar_subquery", q19ScalarSubquery _, q19Sql),
    CatalogEntry("q33_string_match", q33StringMatch _, q33Sql),
    CatalogEntry("q34_date_parts", q34DateParts _, q34Sql),
    CatalogEntry("q35_set_ops", q35SetOps _, q35Sql)
  )

  val queries: Map[String, (SparkSession, String) => DataFrame] =
    CatalogEntry.builders(catalog)
}
