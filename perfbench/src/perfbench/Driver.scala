package perfbench

import java.nio.file.{Files, Paths}
import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import graft.SparkEntry
import graft.ml.GraftPipelines
import graft.sources.CorpusReader
import org.apache.spark.ml.{Pipeline, PipelineModel}
import org.apache.spark.ml.classification.LogisticRegressionModel
import org.apache.spark.ml.feature.StringIndexerModel
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Benchmark driver: one JVM, `local[cores]`, one operation at a time,
  * closed loop with one client. It calls the program only through its
  * public entry points (`SparkEntry.queries`, `CorpusReader`,
  * `GraftPipelines`) and writes one JSON record of what it measured;
  * `run.py` turns the record into the benchmark's metrics.
  *
  *   Driver workload=<name> input=<dir> work=<dir> seed=<n> trace=<0|1>
  *          cores=<n> launched=<epoch ns> [queries=<q1,q2,...> warmup=<q1,q2,...>]
  */
object Driver {

  /** One timed operation. Times are nanoseconds since the run started:
    * `t0` start, `tb` end of the query build (equal to t0 for pipeline
    * steps), `t1` end of the timed window, `t2` end of the untimed
    * cleanup that follows it; `cpu` is the process's CPU time from t0 to
    * t1, all threads, in nanoseconds. */
  final case class Op(id: Int, name: String, kind: String, module: String,
                      timed: Boolean, t0: Long, tb: Long, t1: Long, t2: Long,
                      cpu: Long, ok: Boolean, error: String)

  def main(args: Array[String]): Unit = {
    val a = args.map { s => val i = s.indexOf('='); s.take(i) -> s.drop(i + 1) }.toMap
    val workload = a("workload")
    val input = a("input")
    val work = a("work")
    val seed = a("seed").toLong
    val trace = a("trace") == "1"
    val cores = a("cores").toInt
    // set-up: session with extensions, then the listing and footer reads of
    // every input. It is timed from the JVM's launch (`launched`, epoch ns,
    // taken by the launcher just before it starts this process) to its end,
    // where the first operation starts, in wall time and in this process's
    // CPU time
    val launched = a("launched").toLong
    touchInputs(session(cores, work), workload, input)
    val setupWallS = (epochNs() - launched) / 1e9
    val setupCpuS = Jvm.cpuNs() / 1e9
    val spark = SparkSession.active
    val clock = new Clock
    val tracer = if (trace) Some(new Tracer(spark, clock, cores)) else None
    val runner = new Runner(spark, clock, tracer)

    val extra: Map[String, Any] = workload match {
      case "catalog_cold" =>
        // untimed session warm-up, as the program's own sweep does it, then
        // the measured queries in the order given
        a("warmup").split(",").foreach(n => runner.query(n, input, timed = false))
        val names = a("queries").split(",").toSeq
        names.foreach(n => runner.query(n, input))
        Map("dumps" -> runner.dump(names, input, s"$work/out"))
      case "imdb_pipeline" =>
        runner.imdbPass(input, s"$work/out")
    }

    val record = Map(
      "workload" -> workload, "seed" -> seed, "cores" -> cores,
      "setup_wall_s" -> setupWallS, "setup_cpu_s" -> setupCpuS,
      "ops" -> runner.ops.map(o => Map(
        "id" -> o.id, "name" -> o.name, "kind" -> o.kind, "module" -> o.module,
        "timed" -> o.timed, "t0" -> o.t0, "tb" -> o.tb,
        "t1" -> o.t1, "t2" -> o.t2, "cpu" -> o.cpu, "ok" -> o.ok, "error" -> o.error)),
      "spans" -> runner.spans,
      "jvm" -> Map(
        "gc_s" -> runner.gcMs / 1e3, "jit_s" -> runner.jitMs / 1e3,
        "heap_after_gc_mb" -> Jvm.heapAfterGcMb(), "rss_peak_mb" -> Jvm.rssPeakMb()),
      "trace" -> tracer.map(_.report()).getOrElse(Map.empty)
    ) ++ extra
    val json = new ObjectMapper().registerModule(DefaultScalaModule)
    Files.writeString(Paths.get(s"$work/record.json"), json.writeValueAsString(record))
    tracer.foreach(_.close())
    graft.Tables.clear(spark)
    spark.stop()
  }

  def epochNs(): Long = {
    val t = java.time.Instant.now()
    t.getEpochSecond * 1000000000L + t.getNano
  }

  /** Host-sized session: local[cores], shuffle partitions = cores, AQE
    * on, the program's extensions, every scratch directory inside `work`. */
  def session(cores: Int, work: String): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.sql.streaming.checkpointLocation", s"$work/checkpoints")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** File listing and footer reads of every input the workload uses. */
  def touchInputs(spark: SparkSession, workload: String, input: String): Unit =
    if (workload == "imdb_pipeline") {
      CorpusReader.loadLabeled(spark, s"$input/train").schema
      CorpusReader.loadUnknown(spark, s"$input/test").schema
    } else {
      val t = graft.Tables(spark, input)
      Seq(t.region, t.nation, t.customer, t.supplier, t.part, t.orders,
        t.lineitem, t.events, t.documents, t.embeddings).foreach(_.schema)
    }

  /** The catalog module a query belongs to. */
  lazy val moduleOf: Map[String, String] = {
    import graft.queries._
    Seq("Relational" -> Relational.queries, "TextQueries" -> TextQueries.queries,
      "SimilarityQueries" -> SimilarityQueries.queries, "MlQueries" -> MlQueries.queries,
      "MultimodalQueries" -> MultimodalQueries.queries, "SketchQueries" -> SketchQueries.queries,
      "StatsQueries" -> StatsQueries.queries)
      .flatMap { case (m, qs) => qs.keys.map(_ -> m) }.toMap
  }
}

/** Nanoseconds since the run started, and the matching conversion for
  * Spark's epoch-millisecond event times. */
final class Clock {
  private val baseNs = System.nanoTime()
  private val baseMs = System.currentTimeMillis()
  def now(): Long = System.nanoTime() - baseNs
  def fromEpochMs(ms: Long): Long = (ms - baseMs) * 1000000L
}

/** Runs operations, times them and keeps their records. */
final class Runner(spark: SparkSession, clock: Clock, tracer: Option[Tracer]) {
  import Driver.Op
  val ops = scala.collection.mutable.ArrayBuffer.empty[Op]
  /** Spans the driver records around the program's entry points inside an
    * operation: (operation id, layer, start, end). */
  val spans = scala.collection.mutable.ArrayBuffer.empty[Seq[Any]]

  private def span[T](layer: String)(body: => T): T = {
    val t = clock.now()
    try body finally spans += Seq(ops.size, layer, t, clock.now())
  }

  /** Driver GC and JIT compile time inside timed operations, in ms. */
  var gcMs, jitMs = 0L

  /** Runs one operation: `build`, then `force` on what it built, timed
    * together; then the untimed cleanup (all of it between queries, only
    * the driver GC between pipeline steps, which share the ingested
    * corpus). */
  private def measure(name: String, kind: String, module: String, timed: Boolean)(
      build: => DataFrame)(force: DataFrame => Unit): Op = {
    val id = ops.size
    spark.sparkContext.setLocalProperty(Tracer.OpProperty, id.toString)
    tracer.foreach(_.opStart())
    val (gc0, jit0) = (Jvm.gcMs(), Jvm.jitMs())
    val cpu0 = Jvm.cpuNs()
    val t0 = clock.now()
    var tb = t0
    val (ok, err) =
      try {
        val df = build
        tb = clock.now()
        force(df)
        (true, "")
      } catch { case e: Throwable => (false, s"${e.getClass.getName}: ${e.getMessage}".take(300)) }
    val t1 = clock.now()
    val cpu = Jvm.cpuNs() - cpu0
    if (timed) { gcMs += Jvm.gcMs() - gc0; jitMs += Jvm.jitMs() - jit0 }
    if (kind == "query") Runner.cleanup(spark) else System.gc()
    val t2 = clock.now()
    spark.sparkContext.setLocalProperty(Tracer.OpProperty, null)
    tracer.foreach(_.opEnd(id))
    val op = Op(id, name, kind, module, timed, t0, if (tb == t0) t1 else tb, t1, t2, cpu, ok, err)
    ops += op
    op
  }

  /** One catalog query, forced with a `noop` write as the program's own
    * sweep forces it. */
  def query(name: String, dir: String, timed: Boolean = true): Op =
    measure(name, "query", Driver.moduleOf.getOrElse(name, "?"), timed)(
      span("queries")(SparkEntry.queries(name)(spark, dir)))(
      _.write.mode("overwrite").format("noop").save())

  /** Untimed output dumps for the checks: each query's result as
    * parquet, plus the oracle SQL of every dumped query. */
  def dump(names: Seq[String], dir: String, out: String): Map[String, Any] = {
    val failed = names.filterNot { n =>
      try {
        SparkEntry.queries(n)(spark, dir).write.mode("overwrite").parquet(s"$out/$n")
        true
      } catch { case e: Throwable =>
        System.err.println(s"[perfbench] dump $n failed: ${e.getMessage}"); false
      } finally Runner.cleanup(spark)
    }
    Map("names" -> names, "failed" -> failed,
      "oracle" -> SparkEntry.oracleSql.filter(q => names.contains(q._1)))
  }

  /** One pass of the reference's IMDB workload: ingest, fit four
    * pipelines, then score the test set and write a TSV with each. */
  def imdbPass(dir: String, out: String): Map[String, Any] = {
    var train: DataFrame = null
    var test: DataFrame = null
    measure("ingest", "ingest", "CorpusReader", timed = true) {
      val trainRead = span("sources")(CorpusReader.loadLabeled(spark, s"$dir/train"))
      val testRead = span("sources")(CorpusReader.loadUnknown(spark, s"$dir/test"))
      train = span("storage")(trainRead.cache())
      test = span("storage")(testRead.cache())
      train
    } { _ => train.count(); test.count(); () }
    val pipelines: Seq[(String, () => Pipeline)] = Seq(
      "script1" -> (() => GraftPipelines.script1()),
      "script5" -> (() => GraftPipelines.script5()),
      "naiveBayes" -> (() => GraftPipelines.naiveBayes()))
    val models = scala.collection.mutable.LinkedHashMap.empty[String, Seq[PipelineModel]]
    def fitOp(name: String)(fit: => Seq[PipelineModel]): Unit = {
      measure(s"fit_$name", "fit", "GraftPipelines", timed = true)(train) { _ =>
        models(name) = span("ml")(fit)
      }
      ()
    }
    pipelines.foreach { case (n, p) => fitOp(n)(Seq(p().fit(train))) }
    fitOp("script3") {
      val (vec, down) = GraftPipelines.script3Fit(train)
      Seq(vec, down)
    }
    val labels = models.map { case (n, ms) =>
      measure(s"predict_$n", "predict", "CorpusReader", timed = true)(
        span("ml")(ms.foldLeft(test)((df, m) => m.transform(df)))) { df =>
        span("sources")(CorpusReader.writeTsv(df, s"$out/$n"))
      }
      n -> ms.flatMap(_.stages)
        .collectFirst { case m: StringIndexerModel => m.labelsArray.head.toSeq }
        .getOrElse(Nil)
    }
    val lrIterations = models.values.flatten.flatMap(_.stages).collect {
      case m: LogisticRegressionModel if m.hasSummary => m.summary.totalIterations
    }.sum
    train.unpersist(blocking = true)
    test.unpersist(blocking = true)
    Map("labels" -> labels.toMap, "lr_iterations" -> lrIterations)
  }
}

object Runner {
  /** The program's between-query cleanup, outside the timed window:
    * drop cached frames and persisted RDDs, then one driver GC so the
    * ContextCleaner backlog does not land inside the next operation. */
  def cleanup(spark: SparkSession): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
    System.gc()
  }
}

/** Driver-JVM probes. */
object Jvm {
  import java.lang.management.ManagementFactory
  def jitMs(): Long = ManagementFactory.getCompilationMXBean.getTotalCompilationTime
  /** CPU time of this process, all threads, since it started. */
  def cpuNs(): Long = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime
  def gcMs(): Long = {
    var t = 0L
    ManagementFactory.getGarbageCollectorMXBeans.forEach(b => t += b.getCollectionTime)
    t
  }
  def heapAfterGcMb(): Double = {
    System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }
  /** Peak resident set size of this process (VmHWM). */
  def rssPeakMb(): Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(-1.0)
}
