package graft

import java.util.UUID
import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}

import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQueryListener.{QueryProgressEvent, QueryStartedEvent, QueryTerminatedEvent}
import org.scalatest.concurrent.Eventually
import org.scalatest.time.{Seconds, Span}
import scala.jdk.CollectionConverters._

/** The six streaming catalog entries, run through `SparkEntry.queries`
  * at sf0.001. Each query runs in a `StreamStage.streamSession` clone,
  * whose `StreamingQueryManager` is not `spark.streams`, so the spec
  * watches the shared SparkContext's listener bus instead: every
  * streaming session posts its query events there. */
class StreamingCatalogSpec extends SparkSpec with Eventually {

  /** Micro-batches (progress events, no-data batches included) per run:
    * the data batch, then the no-data batch of its watermark advance
    * (`StreamStage.run`). Each stateful micro-batch builds one state
    * store per shuffle partition, so these counts multiply the entries'
    * fixed cost. */
  private val batches = Map(
    "q141_streaming_runs" -> 2,
    "q145_streaming_hll" -> 2,
    "q147_streaming_cms" -> 2,
    "q148_streaming_dedup" -> 2,
    "q149_streaming_bloom" -> 2,
    "q150_streaming_quantile" -> 2)

  private object Events extends SparkListener {
    val progress = new ConcurrentLinkedQueue[(UUID, String)]()
    val started = new ConcurrentHashMap[UUID, String]()
    val terminated = ConcurrentHashMap.newKeySet[UUID]()
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case p: QueryProgressEvent => progress.add(p.progress.runId ->
        s"${p.progress.numInputRows} in/${p.progress.sink.numOutputRows} out")
      case s: QueryStartedEvent => started.put(s.runId, s.name)
      case t: QueryTerminatedEvent => terminated.add(t.runId)
      case _ => ()
    }
  }

  override def beforeAll(): Unit = {
    super.beforeAll()
    spark.sparkContext.addSparkListener(Events)
  }

  override def afterAll(): Unit = {
    spark.sparkContext.removeSparkListener(Events)
    super.afterAll()
  }

  private def sorted(df: DataFrame): Seq[String] =
    df.collect().map(_.toSeq.mkString("|")).toSeq.sorted

  batches.foreach { case (name, expected) =>
    test(s"$name runs $expected micro-batch(es) and leaves no streaming query active") {
      val before = Events.started.keySet.asScala.toSet
      SparkEntry.queries(name)(spark, sf).collect()
      // memory sinks are named graft_<query number>_<kernel>_<n>
      val sink = s"graft_${name.takeWhile(_ != '_')}_"
      // a run's terminated event is posted after all of its progress events
      val runs = eventually(timeout(Span(30, Seconds))) {
        val runs = Events.started.asScala.collect {
          case (id, n) if n.startsWith(sink) && !before(id) => id
        }.toSet
        assert(runs.size == 1)
        assert(Events.terminated.containsAll(Events.started.keySet))
        runs
      }
      val rows = Events.progress.asScala.collect { case (id, r) if runs(id) => r }
      info(s"$name: rows per micro-batch ${rows.mkString(", ")}")
      assert(rows.size == expected)
    }
  }

  test("q141 returns exactly the rows of its batch twin q121") {
    val cols = Seq("user_id", "event_type", "valid_from_us", "valid_to_us", "n_events")
    def rows(name: String) =
      sorted(SparkEntry.queries(name)(spark, sf).select(cols.map(c => col(c).cast("string")): _*))
    val streamed = rows("q141_streaming_runs")
    assert(streamed.nonEmpty)
    assert(streamed == rows("q121_scd2_runs"))
  }

  test("q148 returns exactly the rows of events, duplicates suppressed") {
    val streamed = SparkEntry.queries("q148_streaming_dedup")(spark, sf)
    val events = Tables(spark, sf).events.select(col("event_id").cast("long"),
      col("user_id").cast("long"), col("event_type"), expr("ts_ns DIV 1000").as("ts_us"))
    val got = sorted(streamed)
    assert(got.nonEmpty)
    assert(got == sorted(events))
  }
}
