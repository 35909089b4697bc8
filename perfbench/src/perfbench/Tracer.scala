package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import scala.jdk.CollectionConverters._
import org.apache.spark.{Success => TaskSuccess}
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.ui.{SparkListenerSQLAdaptiveExecutionUpdate,
  SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.streaming.StreamingQueryListener.QueryProgressEvent
import org.apache.spark.sql.util.QueryExecutionListener

/** The traced run's instruments. Everything is observed from outside the
  * program through Spark's own listener interfaces, kept in memory, and
  * handed to the run record when the run ends:
  *
  *   - spans: SQL executions, plan phases (from each executed
  *     QueryExecution's tracker), jobs (tied to their operation by a
  *     local property), stages, and task run intervals;
  *   - counters: task metrics per task, scan metrics and rule
  *     effectiveness per query, AQE plan updates, streaming progress,
  *     cached blocks, and codegen compile time and count per operation.
  *
  * `run.py` keeps what falls inside timed operations and derives the
  * per-layer metrics and self times from it.
  */
final class Tracer(spark: SparkSession, clock: Clock, cores: Int) {
  import Tracer._

  private val jobs = new ConcurrentLinkedQueue[Seq[Any]]()
  private val stages = new ConcurrentLinkedQueue[Seq[Any]]()
  private val tasks = new ConcurrentLinkedQueue[Seq[Any]]()
  private val queries = new ConcurrentLinkedQueue[Seq[Any]]()
  private val events = new ConcurrentLinkedQueue[Seq[Any]]()
  private val codegen = new ConcurrentLinkedQueue[Seq[Any]]()
  private val stageJob = new java.util.concurrent.ConcurrentHashMap[Int, Int]()
  private val jobOp = new java.util.concurrent.ConcurrentHashMap[Int, Int]()
  private val jobStart = new java.util.concurrent.ConcurrentHashMap[Int, java.lang.Long]()
  private val sqlStart = new java.util.concurrent.ConcurrentHashMap[Long, java.lang.Long]()
  private val sqlExecutions = new ConcurrentLinkedQueue[Seq[Any]]()
  private val seenTrackers = java.util.Collections.newSetFromMap(
    new java.util.IdentityHashMap[AnyRef, java.lang.Boolean]())

  private def opOfStage(stage: Int): Int =
    jobOp.getOrDefault(stageJob.getOrDefault(stage, -1), -1)

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val op = Option(e.properties).flatMap(p => Option(p.getProperty(OpProperty)))
        .fold(-1)(_.toInt)
      jobOp.put(e.jobId, op)
      jobStart.put(e.jobId, clock.fromEpochMs(e.time))
      e.stageIds.foreach(s => stageJob.putIfAbsent(s, e.jobId))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      jobs.add(Seq(jobOp.getOrDefault(e.jobId, -1), e.jobId,
        Option(jobStart.get(e.jobId)).fold(clock.fromEpochMs(e.time))(_.longValue),
        clock.fromEpochMs(e.time)))
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val i = e.stageInfo
      stages.add(Seq(opOfStage(i.stageId), i.stageId,
        clock.fromEpochMs(i.submissionTime.getOrElse(0L)),
        clock.fromEpochMs(i.completionTime.getOrElse(0L)), i.numTasks))
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val info = e.taskInfo
      val m = Option(e.taskMetrics)
      def get(f: org.apache.spark.executor.TaskMetrics => Long): Long = m.fold(0L)(f)
      val delay = m.fold(0L)(m => info.duration - m.executorRunTime - m.executorDeserializeTime -
        m.resultSerializationTime - info.gettingResultTime)
      tasks.add(Seq(opOfStage(e.stageId), e.stageId,
        clock.fromEpochMs(info.launchTime), clock.fromEpochMs(info.finishTime),
        if (e.reason == TaskSuccess) 0 else 1,
        get(_.executorRunTime), get(_.executorCpuTime), get(_.jvmGCTime),
        get(_.shuffleWriteMetrics.bytesWritten), get(_.shuffleReadMetrics.totalBytesRead),
        get(_.shuffleReadMetrics.fetchWaitTime),
        get(t => t.memoryBytesSpilled + t.diskBytesSpilled),
        get(_.inputMetrics.bytesRead), get(_.inputMetrics.recordsRead),
        get(_.outputMetrics.bytesWritten), math.max(0L, delay)))
    }
    override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = {
      val b = e.blockUpdatedInfo
      if (b.blockId.isRDD && b.storageLevel.isValid)
        events.add(Seq("cached_bytes", clock.now(), (b.memSize + b.diskSize).toDouble))
    }
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: SparkListenerSQLExecutionStart =>
        sqlStart.put(s.executionId, clock.fromEpochMs(s.time))
      case s: SparkListenerSQLExecutionEnd =>
        Option(sqlStart.remove(s.executionId)).foreach(t =>
          sqlExecutions.add(Seq(t.longValue, clock.fromEpochMs(s.time))))
      case _: SparkListenerSQLAdaptiveExecutionUpdate =>
        events.add(Seq("aqe_update", clock.now(), 1.0))
      // streaming progress of every session reaches the context's bus
      case p: QueryProgressEvent => streamProgress(p)
      case _ => ()
    }
  }

  private def streamProgress(e: QueryProgressEvent): Unit = {
    val p = e.progress
    val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue }
    val t = clock.fromEpochMs(java.time.Instant.parse(p.timestamp).toEpochMilli)
    events.add(Seq("stream_batch", t, 1.0))
    events.add(Seq("stream_add_batch_ms", t, d.getOrElse("addBatch", 0L).toDouble))
    events.add(Seq("stream_trigger_ms", t, d.getOrElse("triggerExecution", 0L).toDouble))
    events.add(Seq("stream_commit_ms", t, p.stateOperators.map(_.commitTimeMs).sum.toDouble))
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      observe(qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
      observe(qe)
  }

  spark.sparkContext.addSparkListener(sparkListener)
  spark.listenerManager.register(qeListener)

  /** Plan phases, rule effectiveness and scan metrics of one executed
    * query; each QueryExecution is counted once. */
  def observe(qe: QueryExecution): Unit = {
    val tracker = qe.tracker
    if (seenTrackers.synchronized(seenTrackers.add(tracker))) {
      val phases = tracker.phases.map { case (name, s) =>
        name -> Seq(clock.fromEpochMs(s.startTimeMs), clock.fromEpochMs(s.endTimeMs))
      }
      val rules = tracker.rules.values
      val scanNodes = (try Some(qe.executedPlan) catch { case _: Throwable => None })
        .toSeq.flatMap(scans)
      def metric(n: String) = scanNodes.map(_.metrics.get(n).fold(0L)(_.value)).sum
      queries.add(Seq(phases, rules.map(_.numInvocations).sum,
        rules.map(_.numEffectiveInvocations).sum,
        metric("numFiles"), metric("metadataTime"), metric("scanTime")))
    }
  }

  private def scans(p: SparkPlan): Seq[SparkPlan] = {
    val here = p match { case s: FileSourceScanExec => Seq(s); case _ => Nil }
    val kids = p match {
      case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
      case q: QueryStageExec => Seq(q.plan)
      case _ => p.children ++ p.subqueries
    }
    here ++ kids.flatMap(scans)
  }

  private var cg0 = Seq(0L, 0L, 0L)
  private def cgNow() = Seq(Tracer.codegenNs(), CodegenMetrics.METRIC_COMPILATION_TIME.getCount,
    CodegenMetrics.METRIC_GENERATED_CLASS_BYTECODE_SIZE.getCount)
  /** Codegen compile time (ns), compiles and generated classes of one
    * operation, from Spark's own codegen counters. */
  def opStart(): Unit = cg0 = cgNow()
  def opEnd(op: Int): Unit = codegen.add(op +: cgNow().zip(cg0).map { case (b, a) => b - a })

  /** Everything recorded, once the listener bus has drained. */
  def report(): Map[String, Any] = {
    org.apache.spark.ListenerDrain(spark.sparkContext)
    Map(
      "cores" -> cores,
      "class_mean_bytes" -> CodegenMetrics.METRIC_GENERATED_CLASS_BYTECODE_SIZE.getSnapshot.getMean,
      "sql_executions" -> sqlExecutions.asScala.toSeq,
      "jobs" -> jobs.asScala.toSeq,
      "stages" -> stages.asScala.toSeq,
      "tasks" -> tasks.asScala.toSeq,
      "queries" -> queries.asScala.toSeq,
      "events" -> events.asScala.toSeq,
      "codegen" -> codegen.asScala.toSeq)
  }

  def close(): Unit = {
    spark.sparkContext.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(qeListener)
  }
}

object Tracer {
  /** Local property that ties a job to the operation that started it. */
  val OpProperty = "perfbench.op"

  /** Total whole-stage and expression codegen compile time of this JVM,
    * in nanoseconds (Spark's own accumulator, read reflectively because
    * it is package-private). */
  private lazy val codegenTime = {
    val cls = Class.forName("org.apache.spark.sql.execution.WholeStageCodegenExec$")
    val module = cls.getField("MODULE$").get(null)
    val m = cls.getMethod("codeGenTime")
    () => m.invoke(module).asInstanceOf[Long]
  }
  def codegenNs(): Long = codegenTime()
}
