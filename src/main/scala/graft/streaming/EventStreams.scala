package graft.streaming

import java.sql.Timestamp
import org.apache.spark.sql.{DataFrame, Dataset, Encoder, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Structured Streaming operators over the events schema
  * (event_id, ts timestamp, user_id, event_type, value).
  *
  * The transforms are plain DataFrame functions, so the exact same code
  * runs batch (Tables.events) and streaming (readStream / MemoryStream);
  * only the source/sink differ. Watermarks bound state at scale: an
  * unbounded-state streaming agg is the streaming equivalent of a
  * driver-side collect.
  */
object EventStreams {

  /** Tumbling-window rollup with a watermark (the streaming twin of
    * batch q13). State per (window × event_type) only; late data beyond
    * the watermark is dropped deterministically. */
  def hourlyRollup(events: DataFrame, watermark: String = "2 hours"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        sum(col("value").cast("decimal(18,2)")).cast("double").as("total_value"))
      .select(col("window.start").as("window_start"),
        col("event_type"), col("n_events"), col("total_value"))

  /** Streaming exact-dedup: drop repeated ids within the watermark
    * horizon — the streaming twin of Dedup.exactDedup. State holds only
    * ids newer than the watermark (bounded), which is the correct
    * trade at scale: global forever-dedup belongs to the batch layer. */
  def streamingDedup(events: DataFrame, idCol: String = "event_id",
                     watermark: String = "1 hour"): DataFrame =
    events.withWatermark("ts", watermark)
      .dropDuplicatesWithinWatermark(idCol)

  /** Stream-stream interval join: attribute each purchase to a click by
    * the same user within the preceding hour. Both sides carry
    * watermarks so Spark can bound the join state — the unbounded
    * variant is the streaming analogue of a driver collect. */
  def purchaseAttribution(clicks: DataFrame, purchases: DataFrame,
                          interval: String = "1 hour",
                          watermark: String = "2 hours"): DataFrame = {
    val c = clicks.withWatermark("ts", watermark)
      .select(col("user_id").as("c_user"), col("ts").as("click_ts"))
    val p = purchases.withWatermark("ts", watermark)
      .select(col("user_id").as("p_user"), col("ts").as("purchase_ts"),
        col("value").as("purchase_value"))
    p.join(c,
      col("p_user") === col("c_user") &&
        col("click_ts") <= col("purchase_ts") &&
        col("click_ts") >= col("purchase_ts") - expr(s"INTERVAL $interval"))
      .select(col("p_user").as("user_id"), col("purchase_ts"),
        col("click_ts"), col("purchase_value"))
  }

  // ------------------------------------------- windowed sketch state

  case class UserEvent(ts: Timestamp, event_type: String, user_id: Long)

  /** The event-time state machine of the windowed sketch kernels, one
    * group per (window start, event_type). A group's state starts as
    * `empty` and `fold` adds each row into it in place; its timer is
    * the window's end, clamped to `watermark + 1` so that a straggler
    * arriving after the window emitted re-opens a partial window rather
    * than being dropped. When the watermark passes the timer the state
    * is removed and `emit` turns it into output rows (the same late-data
    * policy as the built-in windowed aggs; a sink that wants
    * exactly-once dedupes on (window_start, event_type)). */
  private def windowedSketch[S: Encoder, U: Encoder](events: Dataset[UserEvent],
      windowMillis: Long, watermark: String)(empty: => S)(fold: (S, UserEvent) => Unit)(
      emit: (Timestamp, String, S) => Iterator[U])(implicit spark: SparkSession): Dataset[U] = {
    import spark.implicits._

    def update(key: (Long, String), rows: Iterator[UserEvent],
               state: GroupState[S]): Iterator[U] = {
      if (state.hasTimedOut) {
        val s = state.get
        state.remove()
        return emit(new Timestamp(key._1), key._2, s)
      }
      val s = state.getOption.getOrElse(empty)
      rows.foreach(fold(s, _))
      state.update(s)
      state.setTimeoutTimestamp(
        math.max(key._1 + windowMillis, state.getCurrentWatermarkMs() + 1))
      Iterator.empty
    }

    events
      .withWatermark("ts", watermark)
      .groupByKey(e =>
        (Math.floorDiv(e.ts.getTime, windowMillis) * windowMillis, e.event_type))
      .flatMapGroupsWithState(OutputMode.Append,
        GroupStateTimeout.EventTimeTimeout)(update)
  }

  // ------------------------------------------- streaming distinct (HLL)

  case class HllWinState(regs: Array[Byte])
  case class HllOut(window_start: Timestamp, event_type: String,
                    hll_distinct: Double)

  /** Windowed approximate distinct users per event type — the streaming
    * twin of Sketches.hllDistinct, and the reason HLL matters in a
    * stream: exact streaming `count(distinct)` needs state linear in
    * the distinct set, while this holds EXACTLY 256 bytes per open
    * (window × type) regardless of traffic. The register math is the
    * shared JVM kernel (Sketches.hllUpdate/hllEstimate), so a closed
    * window's estimate is bit-identical to the batch sketch over the
    * same rows — asserted in StreamingHllSpec, and the property that
    * makes a lambda architecture (stream serving + batch backfill)
    * reconcile without epsilon tolerances.
    *
    * Emission is on event-time timeout ([[windowedSketch]]): a window's
    * estimate is final once the watermark passes its end, and a
    * straggler after emission emits a supplementary row. */
  def streamingHllDistinct(events: Dataset[UserEvent],
                           windowMillis: Long = 60 * 60 * 1000L,
                           watermark: String = "2 hours")
                          (implicit spark: SparkSession): Dataset[HllOut] = {
    import spark.implicits._
    import graft.operators.Sketches
    windowedSketch(events, windowMillis, watermark)(
      HllWinState(new Array[Byte](Sketches.HllBuckets)))(
      (s, e) => Sketches.hllUpdate(s.regs, "hll|" + e.user_id))(
      (w, t, s) => Iterator(HllOut(w, t, Sketches.hllEstimate(s.regs))))
  }

  case class CmWinState(counters: Array[Long])
  case class CmOut(window_start: Timestamp, event_type: String,
                   row: Int, col: Int, c: Long)

  /** Windowed count-min frequency census per event type — the streaming
    * twin of Sketches.countMinBuild, completing the streaming sketch
    * pair next to [[streamingHllDistinct]]. State is EXACTLY d·w longs
    * (32 KB at the default 4×1024) per open (window × type) regardless
    * of traffic; emission on event-time timeout is the non-zero
    * (row, col, count) cells — the SAME artifact shape the batch build
    * produces, so closed windows reconcile bit-for-bit with a batch
    * backfill (the hash kernel is shared: Sketches.cmUpdate) and merge
    * with other sketches by plain addition. A late straggler's
    * supplementary sketch ([[windowedSketch]]) therefore ADDS
    * correctly into any downstream merge — the mergeability that makes
    * a count-min census safe to emit incrementally. */
  def streamingCountMin(events: Dataset[UserEvent],
                        windowMillis: Long = 60 * 60 * 1000L,
                        watermark: String = "2 hours")
                       (implicit spark: SparkSession): Dataset[CmOut] = {
    import spark.implicits._
    import graft.operators.Sketches
    val w = Sketches.CmWidth
    windowedSketch(events, windowMillis, watermark)(
      CmWinState(new Array[Long](Sketches.CmDepth * w)))(
      (s, e) => Sketches.cmUpdate(s.counters, e.user_id.toString))(
      (start, t, s) => (0 until Sketches.CmDepth).iterator.flatMap { r =>
        (0 until w).iterator.filter(c => s.counters(r * w + c) != 0L)
          .map(c => CmOut(start, t, r, c, s.counters(r * w + c)))
      })
  }

  case class BloomWinState(bits: Array[Long])
  case class BloomOut(window_start: Timestamp, event_type: String, pos: Int)

  /** Windowed bloom-filter build per event type — the streaming twin of
    * Sketches.bloomBuild, completing the streaming sketch set (HLL,
    * count-min, quantile, bloom). State is EXACTLY m bits (512 B at the
    * default m=4096) per open (window × type); emission on event-time
    * timeout is the set-bit positions — the SAME ≤ m-row artifact the
    * batch build broadcasts, so a closed window's filter reconciles
    * bit-for-bit with a batch backfill (shared kernel:
    * Sketches.bloomUpdate, asserted in StreamingBloomSpec) and feeds
    * Sketches.bloomProbe unchanged. The use case is the streaming side
    * of a pre-join gate: each closed window ships its membership filter
    * downstream (e.g. "users active in hour H") without ever holding
    * the distinct-key set. A late straggler's supplementary position
    * set ([[windowedSketch]]) ORs correctly into any downstream
    * filter — bloom bits merge by union, the same mergeability as the
    * other sketches. */
  def streamingBloom(events: Dataset[UserEvent],
                     windowMillis: Long = 60 * 60 * 1000L,
                     watermark: String = "2 hours")
                    (implicit spark: SparkSession): Dataset[BloomOut] = {
    import spark.implicits._
    import graft.operators.Sketches
    windowedSketch(events, windowMillis, watermark)(
      BloomWinState(new Array[Long](Sketches.BloomBits / 64)))(
      (s, e) => Sketches.bloomUpdate(s.bits, e.user_id.toString))(
      (w, t, s) => Sketches.bloomPositions(s.bits).iterator.map(BloomOut(w, t, _)))
  }

  // ------------------------------------------------- stateful sessions

  /** Built-in session-window twin of [[sessionize]]: Spark's native
    * `session_window` aggregation — same gap semantics, state handled by
    * the engine's session-window state store instead of custom
    * flatMapGroupsWithState code. Prefer THIS form when the per-session
    * result is a plain aggregate (the engine can merge sessions
    * incrementally and codegen the aggregation); the custom-state twin
    * remains for session logic an aggregate can't express. Works
    * identically on batch frames (no watermark applied there), which is
    * how the spec pins it to batch q14's session boundaries. */
  def sessionWindowRollup(events: DataFrame, gap: String = "30 minutes",
                          watermark: String = "1 hour"): DataFrame = {
    val src = if (events.isStreaming) events.withWatermark("ts", watermark)
              else events
    src
      .groupBy(col("user_id"), session_window(col("ts"), gap).as("sw"))
      .agg(count(lit(1)).as("n_events"), sum("value").as("total_value"))
      .select(col("user_id"), col("sw.start").as("session_start"),
        col("sw.end").as("session_end"), col("n_events"), col("total_value"))
  }

  case class Event(user_id: Long, ts: Timestamp, value: Double)
  case class SessionState(start: Long, lastSeen: Long, nEvents: Long, total: Double)
  case class SessionOut(user_id: Long, session_start: Timestamp,
                        n_events: Long, total_value: Double)

  /** Gap-based sessionization with custom state
    * (flatMapGroupsWithState) — the streaming twin of batch q14. Emits a
    * session when the idle gap exceeds `gapMillis` or on state timeout.
    * State is O(1) per active user. */
  def sessionize(events: Dataset[Event], gapMillis: Long = 30 * 60 * 1000L)
                (implicit spark: SparkSession): Dataset[SessionOut] = {
    import spark.implicits._

    def update(userId: Long, rows: Iterator[Event],
               state: GroupState[SessionState]): Iterator[SessionOut] = {
      if (state.hasTimedOut) {
        val s = state.get
        state.remove()
        return Iterator(SessionOut(userId, new Timestamp(s.start), s.nEvents, s.total))
      }
      var cur = state.getOption
      val out = scala.collection.mutable.ArrayBuffer.empty[SessionOut]
      rows.toSeq.sortBy(_.ts.getTime).foreach { e =>
        val t = e.ts.getTime
        cur match {
          case Some(s) if t - s.lastSeen <= gapMillis =>
            cur = Some(s.copy(lastSeen = t, nEvents = s.nEvents + 1,
              total = s.total + e.value))
          case Some(s) =>
            out += SessionOut(userId, new Timestamp(s.start), s.nEvents, s.total)
            cur = Some(SessionState(t, t, 1, e.value))
          case None =>
            cur = Some(SessionState(t, t, 1, e.value))
        }
      }
      cur.foreach { s =>
        state.update(s)
        state.setTimeoutTimestamp(s.lastSeen + gapMillis)
      }
      out.iterator
    }

    events
      .withWatermark("ts", "1 hour")
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.EventTimeTimeout)(update)
  }

  // --------------------------------------- streaming quantile sketch

  case class QsWinState(counts: Map[Long, Long])
  case class QsOut(window_start: Timestamp, q: Double,
                   quantile_est: Double, n_rows: Long)

  /** Windowed quantile estimates over `value` — the streaming twin of
    * the batch histogram-quantile sketch (SketchQueries
    * .q66QuantileSketch), completing the streaming sketch family next
    * to [[streamingHllDistinct]] and [[streamingCountMin]]. State per
    * open window is the (bin → count) histogram — bounded by the value
    * RANGE / `width`, independent of row count — where an exact
    * streaming quantile would hold every value. Closed windows emit
    * through the shared JVM kernel (Sketches.histQuantiles), whose
    * arithmetic reproduces the batch column pipeline operation-for-
    * operation, so a stream serving layer and a batch backfill produce
    * BIT-identical estimates over the same rows (asserted in
    * StreamingQuantileSpec). Histograms are mergeable by cell-wise
    * addition, so a supplementary late-straggler window (same policy
    * as the HLL/CMS twins: re-opened clamped to watermark + 1, emitted
    * rather than dropped) adds correctly into any downstream merge. */
  def streamingQuantile(events: Dataset[Event],
                        windowMillis: Long = 60 * 60 * 1000L,
                        watermark: String = "2 hours",
                        width: Double = 10.0,
                        qs: Seq[Double] = Seq(0.5, 0.9, 0.99))
                       (implicit spark: SparkSession): Dataset[QsOut] = {
    import spark.implicits._
    import graft.operators.Sketches

    def update(windowStart: Long, rows: Iterator[Event],
               state: GroupState[QsWinState]): Iterator[QsOut] = {
      if (state.hasTimedOut) {
        val hist = state.get.counts.toSeq
        state.remove()
        return Sketches.histQuantiles(hist, width, qs).iterator.map {
          case (q, est, n) => QsOut(new Timestamp(windowStart), q, est, n)
        }
      }
      var counts = state.getOption.map(_.counts).getOrElse(Map.empty[Long, Long])
      rows.foreach { e =>
        val bin = math.floor(e.value / width).toLong
        counts = counts.updated(bin, counts.getOrElse(bin, 0L) + 1L)
      }
      state.update(QsWinState(counts))
      state.setTimeoutTimestamp(
        math.max(windowStart + windowMillis, state.getCurrentWatermarkMs() + 1))
      Iterator.empty
    }

    events
      .withWatermark("ts", watermark)
      .groupByKey(e => Math.floorDiv(e.ts.getTime, windowMillis) * windowMillis)
      .flatMapGroupsWithState(OutputMode.Append,
        GroupStateTimeout.EventTimeTimeout)(update)
  }

  // ----------------------------------------- streaming SCD2 run twin

  /** [[streamingRuns]] input row. `ts` (millisecond Timestamp) exists
    * for the WATERMARK only; all run arithmetic uses `ts_us` — exact
    * epoch microseconds, the precision contract batch q121 states
    * (`ts_ns DIV 1000`). Carrying the microseconds as an explicit long
    * instead of deriving them from `ts.getTime` is what keeps
    * sub-millisecond event time from silently truncating to zero, and
    * `event_id` carries the batch twin's tie-break for same-microsecond
    * events. */
  case class RunEvent(ts: Timestamp, ts_us: Long, event_id: Long,
                      event_type: String, user_id: Long)
  case class RunState(runType: String, startUs: Long, lastSeenUs: Long, n: Long)
  case class RunOut(user_id: Long, event_type: String, valid_from_us: Long,
                    valid_to_us: Long, n_events: Long)

  /** Streaming SCD2 run assembly — the streaming twin of batch q121
    * (StatsQueries.q121Scd2Runs): collapse each user's event stream
    * into maximal runs of one event_type, emitting a run the moment
    * the user's NEXT event carries a different type. State is O(1) per
    * user (the open run), so a warehouse can maintain change history
    * incrementally instead of re-running the batch islands pass.
    *
    * The still-open run emits on event-time timeout once the watermark
    * passes `lastSeen + flushAfterMillis` (same policy as sessionize's
    * gap timeout). Precision contract: run boundaries are exact epoch
    * MICROSECONDS ([[RunEvent]].ts_us) and same-microsecond ties order
    * on event_id — identical to the batch twin's (ts_us, event_id)
    * window sort. Closed runs match the batch operator exactly when
    * (a) events arrive in non-decreasing event time across micro-
    * batches (within a batch any order is fine — rows re-sort), and
    * (b) no same-type run idles past `watermark + flushAfterMillis` in
    * event time: the timeout flush SPLITS such a run where batch q121's
    * gap-independent islands keep one interval, so either size the
    * flush horizon past the longest expected idle gap (q141 does — the
    * bounded-source parity entry) or have downstream consumers merge
    * adjacent same-type intervals. Asserted against q121 in
    * StreamingRunsSpec and hash-checked against q121's oracle by
    * catalog entry q141. */
  def streamingRuns(events: Dataset[RunEvent],
                    flushAfterMillis: Long = 60 * 60 * 1000L)
                   (implicit spark: SparkSession): Dataset[RunOut] = {
    import spark.implicits._

    def close(userId: Long, s: RunState): RunOut =
      RunOut(userId, s.runType, s.startUs, s.lastSeenUs, s.n)

    def update(userId: Long, rows: Iterator[RunEvent],
               state: GroupState[RunState]): Iterator[RunOut] = {
      if (state.hasTimedOut) {
        val s = state.get
        state.remove()
        return Iterator(close(userId, s))
      }
      var cur = state.getOption
      val out = scala.collection.mutable.ArrayBuffer.empty[RunOut]
      rows.toSeq.sortBy(e => (e.ts_us, e.event_id)).foreach { e =>
        cur match {
          case Some(s) if s.runType == e.event_type =>
            cur = Some(s.copy(lastSeenUs = e.ts_us, n = s.n + 1))
          case Some(s) =>
            out += close(userId, s)
            cur = Some(RunState(e.event_type, e.ts_us, e.ts_us, 1))
          case None =>
            cur = Some(RunState(e.event_type, e.ts_us, e.ts_us, 1))
        }
      }
      cur.foreach { s =>
        state.update(s)
        // timeout clock is event-time MILLIS (the watermark's unit);
        // floorDiv so a mid-millisecond lastSeen still waits the full
        // horizon
        state.setTimeoutTimestamp(
          Math.floorDiv(s.lastSeenUs, 1000L) + flushAfterMillis)
      }
      out.iterator
    }

    events
      .withWatermark("ts", "1 hour")
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append,
        GroupStateTimeout.EventTimeTimeout)(update)
  }
}
