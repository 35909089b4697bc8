package graft.streaming

import graft.Tables
import graft.sources.TempDirs
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, Dataset, GraftSqlBridge, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.execution.streaming.checkpointing.FileSystemBasedCheckpointFileManager
import org.apache.spark.sql.streaming.OutputMode
import org.apache.spark.sql.types.StructType

/** How a bounded streaming catalog entry is run ([[run]]), and the
  * shared file-stream staging behind it, for the six streaming
  * batch-parity catalog entries (q141/q145/q147–q150).
  *
  * Round-9 each of them wrote its OWN full copy of the events table
  * into a fresh temp dir — six table writes (~36 s of the sf0.1 sweep)
  * staging the same rows. Round-10 stages ONE superset projection per
  * (JVM, sf dir) — every column any of the six kernels reads — and
  * each feed's source is a dir of HARD LINKS to the staged files plus
  * the feed's own rows (no bytes copied; a brace-glob source path is not
  * expanded by the file-stream source, so links it is), staged once
  * per (sf dir, feed) as well. Parquet column pruning means a kernel
  * wanting (user_id, ts, value) reads only those columns of the
  * superset files.
  *
  * All staged dirs come from [[TempDirs]] (deleted at JVM exit — the
  * round-9 form leaked a full-table copy per query run). */
object StreamStage {
  private val staged =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  /** Shuffle-partition count for the six batch-parity STREAMING
    * catalog entries. Each stateful micro-batch instantiates one state
    * store per shuffle partition, and [[run]] runs two micro-batches
    * over a kB-scale bounded source — so the per-query constant scales
    * with this number, not with the data. Applied via [[streamSession]]
    * (a per-query session clone), so the caller's session conf is never
    * mutated; the reusable kernels in [[EventStreams]] take plain
    * Datasets and inherit whatever session the caller brings — a real
    * deployment sizes its own partitions.
    *
    * Sized on `local[32]` (warm, sf0.1: ~5.3 s per cell at 32, ~2.8 s
    * at 8, ~2.4 s at 4), when the constant still held the checkpoint
    * forks. Re-measured without them on 4 cores, `Bench` at sf0.1,
    * median of 5 alternating runs per cell, seconds (cold, and
    * `SPARK_GRAFT_WARM=2`):
    * {{{
    * cell   cold 8  cold 4  warm 8  warm 4
    * q141    5.52    5.63    2.14    1.98
    * q145    3.28    2.96    2.25    2.03
    * q147    5.86    5.09    3.70    3.63
    * q148    2.36    2.17    1.51    1.36
    * q149    4.34    3.94    2.95    2.69
    * q150    1.55    1.55    1.26    1.01
    * }}}
    * 4 is faster on 10 of the 12 medians and equal on cold q150, but
    * not on cold q141, the first query after the warm-up: over 11
    * alternating pairs it read a median of 5.63 s at 4 against 5.50 s
    * at 8, and 4 was faster in 5. So 8 stays until every cell is shown
    * no slower at 4. */
  val StreamShufflePartitions = 8

  /** A session CLONE (shared SparkContext, a copy of the caller's SQL
    * conf, runtime settings included) with [[StreamShufflePartitions]]
    * set — the streaming query pins the value into its checkpoint at
    * start, and the memory-sink table is read back from this same clone.
    *
    * When the checkpoints land on the local filesystem, the clone also
    * writes them through Spark's `FileSystemBasedCheckpointFileManager`.
    * Without Hadoop's native library, the default manager's
    * `FileContext` rename forks a `readlink` process for every
    * checkpoint and state-store file: one `Bench` run of the six entries
    * at sf0.01 started 2,532 processes with the default manager, 1,920
    * of them `readlink`, and 613 with this one. What still forks is
    * Hadoop's `chmod` on each local create and mkdir. HDFS, S3 and any
    * other filesystem keep Spark's default manager. */
  def streamSession(spark: SparkSession): SparkSession = {
    val ss = GraftSqlBridge.cloneSession(spark)
    ss.conf.set("spark.sql.shuffle.partitions",
      StreamShufflePartitions.toString)
    if (localCheckpoints(ss.sessionState.conf.checkpointLocation,
        ss.sessionState.newHadoopConf()))
      ss.conf.set("spark.sql.streaming.checkpointFileManagerClass",
        classOf[FileSystemBasedCheckpointFileManager].getName)
    ss
  }

  /** Whether streaming checkpoints resolve to the `file:` filesystem:
    * the configured checkpoint root, else the JVM temp dir Spark
    * creates a query's temporary checkpoint under, each resolved as
    * Spark resolves it (a path without a scheme goes to
    * `fs.defaultFS`). Only the URI is read; no filesystem is opened. */
  private[graft] def localCheckpoints(checkpointRoot: Option[String],
      hadoopConf: Configuration): Boolean = {
    val root = new Path(checkpointRoot.getOrElse(System.getProperty("java.io.tmpdir"))).toUri
    Option(root.getScheme).getOrElse(FileSystem.getDefaultUri(hadoopConf).getScheme) == "file"
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

  /** Schema of the staged superset (one footer read, memoized). */
  private val schemas =
    new java.util.concurrent.ConcurrentHashMap[String, StructType]()
  private def eventsSchema(spark: SparkSession, dir: String): StructType =
    schemas.computeIfAbsent(dir,
      _ => Tables.parquet(spark, eventsDir(spark, dir)).schema)

  /** The source dir of one (sf dir, feed), staged once: every parquet
    * file of [[eventsDir]] HARD-LINKED in (no data copied — the whole
    * point of the shared stage), plus the feed's own rows written
    * beside them, so [[eventsDir]] stays feed-free for the other feed
    * and for the dups derivation. Each run streams the dir with its own
    * checkpoint, so every run reads every file. */
  private def sourceDir(spark: SparkSession, dir: String, feed: Feed): String = {
    val events = eventsDir(spark, dir)
    staged.computeIfAbsent(s"$dir#$feed", _ => {
      val out = TempDirs.create(s"graft-stream-$feed")
      val ls = java.nio.file.Files.list(java.nio.file.Paths.get(events))
      try ls.forEach { f =>
        if (f.getFileName.toString.endsWith(".parquet"))
          java.nio.file.Files.createLink(out.resolve(f.getFileName), f)
      } finally ls.close()
      feedRows(spark, events, feed).write.mode("append").parquet(out.toString)
      out.toString
    })
  }

  private def feedRows(spark: SparkSession, events: String, feed: Feed): DataFrame =
    feed match {
      case Sentinels =>
        import spark.implicits._
        val t = java.sql.Timestamp.valueOf("2400-01-01 00:00:00")
        Seq((-2L, -1L, "sentinel", t.getTime * 1000L, t, 0.0))
          .toDF("event_id", "user_id", "event_type", "ts_us", "ts", "value")
      case Duplicates =>
        Tables.parquet(spark, events).filter(col("event_id") % 5 === 0)
    }

  /** The feed written into a run's source beside the staged events. */
  sealed trait Feed
  /** The far-future sentinel row (2400-01-01) that fires every
    * event-time timer ([[run]]). */
  case object Sentinels extends Feed
  /** Every 5th event again (identical values), the duplicates q148's
    * streaming dedup must suppress. */
  case object Duplicates extends Feed

  /** Memory-sink names must be unique per stream start within a JVM. */
  private val queryIds = new java.util.concurrent.atomic.AtomicLong(0L)

  /** Runs one bounded streaming catalog query and returns its memory
    * sink, read back from the session clone the query ran in.
    *
    * The source is the staged events plus `feed` ([[sourceDir]]), read
    * as a parquet file stream with the staged schema in a
    * [[streamSession]] clone; `kernel` turns it into the streaming
    * result, which runs in Append mode into a memory sink named
    * `graft_<name>_<n>`. Every source file arrives in micro-batch 1.
    * A batch's watermark comes from the earlier batches' max event
    * time, and after a watermark advance Spark runs a no-data batch for
    * the timers and state it makes due, so every run is 2 micro-batches
    * (`StreamingCatalogSpec` pins the counts; each batch
    * re-instantiates one state store per shuffle partition, so the
    * count multiplies the constant).
    *
    * With [[Sentinels]] the timer kernels flush every real window or
    * run: a 2400-01-01 sentinel row sits in batch 1 beside the real
    * events, so the watermark after batch 1 is past every real event
    * and no-data batch 2 fires every real-data timer. Nothing advances
    * the watermark past the sentinel, so its own group never closes and
    * a bounded run emits no sentinel row. Sentinel rows carry user_id
    * −1 and event_type "sentinel", and their windows lie past
    * 2400-01-01; the caller's projection would drop them. With
    * [[Duplicates]] batch 2 is the no-data batch of the dedup state's
    * watermark advance. */
  def run(spark: SparkSession, dir: String, name: String, feed: Feed)(
      kernel: DataFrame => Dataset[_]): DataFrame = {
    val src = sourceDir(spark, dir, feed)
    val ss = streamSession(spark)
    val qname = s"graft_${name}_${queryIds.incrementAndGet()}"
    val query = kernel(ss.readStream.schema(eventsSchema(spark, dir)).parquet(src))
      .writeStream.format("memory").queryName(qname)
      .outputMode(OutputMode.Append())
      .start()
    try query.processAllAvailable()
    finally query.stop()
    ss.table(qname)
  }
}
