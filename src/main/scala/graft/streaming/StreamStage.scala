package graft.streaming

import graft.Tables
import graft.sources.TempDirs
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types.StructType

/** Shared file-stream staging for the six streaming batch-parity
  * catalog entries (q141/q145/q147–q150).
  *
  * Round-9 each of them wrote its OWN full copy of the events table
  * into a fresh temp dir — six table writes (~36 s of the sf0.1 sweep)
  * staging the same rows. Round-10 stages ONE superset projection per
  * (JVM, sf dir) — every column any of the six kernels reads — and
  * each query run gets a private dir of HARD LINKS to the staged files
  * (no bytes copied; a brace-glob source path is not expanded by the
  * file-stream source, so links it is), where its watermark-advancing
  * sentinel files can be appended without other queries ever seeing
  * them. Parquet column pruning means a kernel wanting
  * (user_id, ts, value) reads only those columns of the superset
  * files.
  *
  * All staged dirs come from [[TempDirs]] (deleted at JVM exit — the
  * round-9 form leaked a full-table copy per query run). */
object StreamStage {
  private val staged =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  /** Shuffle-partition count for the six batch-parity STREAMING
    * catalog entries. Each stateful micro-batch instantiates one state
    * store per shuffle partition, and the harness runs 3 micro-batches
    * over a kB-scale bounded source — so the per-query constant scales
    * with this number, not with the data. Measured (warm, local[32],
    * interleaved 5 reps, sf0.1): q141/q145/q150 each ~5.2–5.4 s at 32
    * partitions, ~2.7–2.9 s at 8, ~2.3–2.6 s at 4; 8 keeps 8-way
    * first-batch parallelism while cutting the state-store constant
    * 4×. Applied via [[streamSession]] (a per-query session clone), so
    * the caller's session conf is never mutated; the reusable kernels
    * in [[EventStreams]] take plain Datasets and inherit whatever
    * session the caller brings — a real deployment sizes its own
    * partitions. */
  val StreamShufflePartitions = 8

  /** A session CLONE (shared SparkContext, isolated SQL conf) with
    * [[StreamShufflePartitions]] set — the streaming query pins the
    * value into its checkpoint at start, and the memory-sink table is
    * read back from this same clone. */
  def streamSession(spark: SparkSession): SparkSession = {
    val ss = spark.newSession()
    ss.conf.set("spark.sql.shuffle.partitions",
      StreamShufflePartitions.toString)
    ss
  }

  /** The superset events projection, staged once per sf dir:
    * (event_id, user_id, event_type, ts_us, ts, value). */
  def eventsDir(spark: SparkSession, dir: String): String =
    staged.computeIfAbsent(dir, _ => {
      val out = TempDirs.create("graft-stream-events").toString + "/events"
      Tables(spark, dir).events
        .select(col("event_id").cast("long").as("event_id"),
          col("user_id").cast("long").as("user_id"),
          col("event_type"),
          expr("ts_ns DIV 1000").as("ts_us"),
          timestamp_micros(expr("ts_ns DIV 1000")).as("ts"),
          col("value"))
        .write.mode("overwrite").parquet(out)
      out
    })

  /** Every 5th event AGAIN (identical values), staged once per sf dir —
    * the duplicate feed q148's streaming dedup must suppress. */
  def dupsDir(spark: SparkSession, dir: String): String =
    staged.computeIfAbsent(dir + "#dups", _ => {
      val out = TempDirs.create("graft-stream-dups").toString + "/dups"
      Tables.parquet(spark, eventsDir(spark, dir))
        .filter(col("event_id") % 5 === 0)
        .write.mode("overwrite").parquet(out)
      out
    })

  /** The FIRST far-future sentinel (2400-01-01), staged once per JVM
    * as its own tiny parquet dir and hard-linked into the timer
    * queries' sources ALONGSIDE the real events. With it in batch 1,
    * the watermark computed from batch 1's max event time is already
    * beyond every real event, so ONE appended sentinel (batch 2) fires
    * every real-data timer — the harness runs 2 stateful micro-batches
    * per query instead of 3 (measured on the six: `git show
    * 06799ef:ARCHITECTURE.md`, "Round-15: the q42 hot-bucket cap, and
    * two rejections"; each micro-batch re-instantiates one
    * state store per shuffle partition, so batch count is the
    * constant's multiplier). Kept OUT of [[eventsDir]] so q148's
    * dedup source and the dups derivation stay sentinel-free. */
  def sentinelDir(spark: SparkSession): String =
    staged.computeIfAbsent("#sentinelA", _ => {
      import spark.implicits._
      val out = TempDirs.create("graft-stream-sentinel").toString + "/sentinel"
      val t = java.sql.Timestamp.valueOf("2400-01-01 00:00:00")
      Seq((-2L, -1L, "sentinel", t.getTime * 1000L, t, 0.0))
        .toDF("event_id", "user_id", "event_type", "ts_us", "ts", "value")
        .write.mode("overwrite").parquet(out)
      out
    })

  /** Schema of the staged superset (one footer read, memoized). */
  private val schemas =
    new java.util.concurrent.ConcurrentHashMap[String, StructType]()
  def eventsSchema(spark: SparkSession, dir: String): StructType =
    schemas.computeIfAbsent(dir,
      _ => Tables.parquet(spark, eventsDir(spark, dir)).schema)

  /** A fresh PRIVATE source dir for one query run: every parquet file
    * of the given staged dirs HARD-LINKED in (no data copied — the
    * whole point of the shared stage), so the query can append its own
    * sentinel files without other queries ever seeing them. */
  def linkedDir(prefix: String, srcDirs: String*): String = {
    val out = TempDirs.create(prefix)
    srcDirs.zipWithIndex.foreach { case (src, i) =>
      val d = java.nio.file.Paths.get(src)
      val ls = java.nio.file.Files.list(d)
      try ls.forEach { f =>
        if (f.getFileName.toString.endsWith(".parquet"))
          java.nio.file.Files.createLink(
            out.resolve(s"${i}_${f.getFileName}"), f)
      } finally ls.close()
    }
    out.toString
  }

  /** The watermark-advancing harness shared by the timer-flushed
    * kernels: batch N's watermark is computed from batch N−1's max
    * event time, and [[sentinelDir]] already placed a 2400-01-01 row
    * in batch 1 — so ONE appended far-future file (2500-01-01) is
    * enough: the batch it triggers runs with the watermark already
    * past every real event and fires every real-data timer. (Until
    * r15 this appended TWO sentinels = two extra stateful
    * micro-batches; sources built without [[sentinelDir]] would need
    * that form back.) */
  def advanceWatermark(spark: SparkSession, sentDir: String,
      query: StreamingQuery): Unit = {
    import spark.implicits._
    val t = java.sql.Timestamp.valueOf("2500-01-01 00:00:00")
    Seq((-3L, -1L, "sentinel", t.getTime * 1000L, t, 0.0))
      .toDF("event_id", "user_id", "event_type", "ts_us", "ts", "value")
      .write.mode("append").parquet(sentDir)
    query.processAllAvailable()
  }
}
