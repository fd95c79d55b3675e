package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Encoders, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{ExpiredTimerInfo, GroupState,
  GroupStateTimeout, OutputMode, StatefulProcessor, TTLConfig, TimeMode,
  TimerValues, ValueState}

/** Structured Streaming surface (SURVEY.md §2.2 "Streaming").
  *
  * The reference has no data-plane streaming whatsoever — its only
  * periodic machinery is control-plane UDP heartbeats (reference
  * worker/__main__.py:103-111) — so this module is capability-surface
  * extension, not parity: event-time windows, watermarked late-data
  * handling, session windows, and custom keyed state.
  *
  * Every transform is written against a plain DataFrame so the SAME
  * function serves batch (`spark.read`) and streaming (`spark.readStream`)
  * inputs — the batch twins are checked against the DuckDB oracle in
  * [[graft.queries.EventsPack]], and the streaming specs assert
  * stream-batch equivalence on the same fixture data.
  *
  * Scale posture: watermarks bound state (no unbounded window buffers);
  * all aggregations key on (window, type) or user_id — high cardinality,
  * partial-aggregated before the shuffle by the streaming aggregation
  * operator itself.
  */
object StreamingOps {

  /** Tumbling 1-hour counts per event type; watermark bounds state and
    * admits late data up to `watermark`. Streaming twin of e01. */
  def hourlyCounts(events: DataFrame, watermark: String = "10 minutes"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(round(col("value") * 100, 0).cast("long")).as("value_cents"))
      .select(col("w.start").as("wstart"), col("event_type"),
        col("n"), col("value_cents"))

  /** Session windows with an inactivity gap; the streaming counterpart
    * of the batch lag/cumsum sessionization (e03). */
  def sessions(events: DataFrame, gap: String = "30 minutes"): DataFrame =
    events
      .withWatermark("ts", gap)
      .groupBy(session_window(col("ts"), gap).as("w"), col("user_id"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("user_id"), col("w.start").as("session_start"),
        col("w.end").as("session_end"), col("n_events"))

  /** [[sessions]] with a PER-EVENT gap expression (e27's dynamic
    * timeout — e.g. a purchase closes its session in 5 minutes, other
    * activity keeps 30): `session_window` accepts a Column gap in
    * streaming too, so the per-event-type session model runs
    * incrementally under the same watermark state contract. The
    * watermark delay must cover the LARGEST gap the expression can
    * produce, or late-merging sessions could be finalized early —
    * callers pass it explicitly for that reason. */
  def dynamicSessions(events: DataFrame,
      gapExpr: org.apache.spark.sql.Column,
      watermark: String = "30 minutes"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(session_window(col("ts"), gapExpr).as("w"), col("user_id"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("user_id"), col("w.start").as("session_start"),
        col("w.end").as("session_end"), col("n_events"))

  /** Stream-stream interval join: clicks matched to purchases by the
    * same user within `window` after the click. Both sides carry
    * watermarks so Spark can discard buffered state once the interval
    * can no longer match — the state-boundedness condition for
    * stream-stream joins at scale. */
  def clickToPurchase(clicks: DataFrame, purchases: DataFrame,
      window: String = "1 hour"): DataFrame = {
    val c = clicks.withWatermark("ts", window)
      .select(col("user_id").as("c_user"), col("ts").as("click_ts"),
        col("event_id").as("click_id"))
    val p = purchases.withWatermark("ts", window)
      .select(col("user_id").as("p_user"), col("ts").as("purchase_ts"),
        col("event_id").as("purchase_id"))
    c.join(p, col("c_user") === col("p_user")
      && col("purchase_ts") >= col("click_ts")
      && col("purchase_ts") <= col("click_ts") + expr(s"INTERVAL $window"))
  }

  /** LEFT OUTER stream-stream join — the funnel-abandonment stream:
    * every click emits, with null purchase columns once the watermark
    * PROVES no purchase can still arrive in the interval (outer rows
    * are withheld until then, so they appear with watermark latency,
    * not immediately). Same bounded-state condition as the inner join:
    * both sides' watermarks + the interval bound let Spark evict
    * buffered rows that can no longer match. */
  def clickToPurchaseOuter(clicks: DataFrame, purchases: DataFrame,
      window: String = "1 hour"): DataFrame = {
    val c = clicks.withWatermark("ts", window)
      .select(col("user_id").as("c_user"), col("ts").as("click_ts"),
        col("event_id").as("click_id"))
    val p = purchases.withWatermark("ts", window)
      .select(col("user_id").as("p_user"), col("ts").as("purchase_ts"),
        col("event_id").as("purchase_id"))
    c.join(p, col("c_user") === col("p_user")
      && col("purchase_ts") >= col("click_ts")
      && col("purchase_ts") <= col("click_ts") + expr(s"INTERVAL $window"),
      "left_outer")
  }

  /** Streaming dedup for bounded-delay replays:
    * `dropDuplicatesWithinWatermark` keeps each key's state only until
    * the watermark passes its first-seen time + the delay, unlike plain
    * `dropDuplicates(id)` whose key state never ages out (the
    * unbounded-state trap on an id column with no event-time). The
    * at-scale contract this encodes: duplicates come from
    * retries/replays and land within the delivery-delay bound, so
    * state is O(keys per delay window), not O(all keys ever seen). */
  def dedupWithinWatermark(events: DataFrame,
      delay: String = "30 minutes"): DataFrame =
    events.withWatermark("ts", delay)
      .dropDuplicatesWithinWatermark("event_id")

  final case class Event(event_id: Long, user_id: Long, event_type: String,
      value: Double)
  final case class UserStats(user_id: Long, n_events: Long, total_cents: Long)

  /** Custom keyed state via flatMapGroupsWithState: running per-user
    * event count and value sum, emitted on every update — the streaming
    * analogue of a reducer with carried state (which the reference
    * cannot express at all: its reducers see one sorted batch). */
  def runningUserStats(events: Dataset[Event]): Dataset[UserStats] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[UserStats, UserStats](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (uid: Long, batch: Iterator[Event], state: GroupState[UserStats]) =>
          var cur = state.getOption.getOrElse(UserStats(uid, 0L, 0L))
          batch.foreach { e =>
            cur = UserStats(uid, cur.n_events + 1,
              cur.total_cents + math.round(e.value * 100))
          }
          state.update(cur)
          Iterator.single(cur)
      }
  }

  /** The same running per-user stats through Spark 4's arbitrary-state
    * v2 API (`transformWithState` + [[StatefulProcessor]]): typed named
    * state handles instead of one opaque state object, TTL support, and
    * a state store that must be RocksDB-backed — the API Spark is
    * converging on for custom streaming state. Keeping the v1
    * (`flatMapGroupsWithState`, [[runningUserStats]]) and v2 twins side
    * by side pins that both produce identical results on the same
    * micro-batches.
    *
    * Scale posture: state is one fixed-size row per user in RocksDB
    * (spillable off-heap, incremental checkpoints) — bounded by key
    * cardinality, not stream length; TTL (`TTLConfig`) is the lever a
    * 100 TB deployment uses to age out dormant keys, kept NONE here so
    * the batch twin stays oracle-comparable. */
  class RunningStatsProcessor extends StatefulProcessor[Long, Event, UserStats] {
    @transient private var stats: ValueState[UserStats] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      stats = getHandle.getValueState[UserStats]("stats",
        Encoders.product[UserStats], TTLConfig.NONE)

    override def handleInputRows(uid: Long, rows: Iterator[Event],
        timers: TimerValues): Iterator[UserStats] = {
      var cur = Option(stats.get()).getOrElse(UserStats(uid, 0L, 0L))
      rows.foreach { e =>
        cur = UserStats(uid, cur.n_events + 1,
          cur.total_cents + math.round(e.value * 100))
      }
      stats.update(cur)
      Iterator.single(cur)
    }
  }

  /** [[runningUserStats]] via `transformWithState` (state API v2). */
  def runningUserStatsV2(events: Dataset[Event]): Dataset[UserStats] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(_.user_id)
      .transformWithState(new RunningStatsProcessor,
        TimeMode.None(), OutputMode.Append())
  }

  final case class TimedEvent(user_id: Long, ts: java.sql.Timestamp)
  final case class ClosedSession(user_id: Long, n_events: Long)

  /** Session timeout via EVENT-TIME TIMERS (state API v2): each input
    * batch re-arms a per-key timer at lastSeen + gap; when the
    * watermark passes it, [[handleExpiredTimer]] emits the closed
    * session and clears state. This is the custom-session-semantics
    * shape `session_window` can't express (emit-on-close with arbitrary
    * per-key payload), and the timer surface the v1 API only
    * approximated with GroupStateTimeout. State per key is two longs;
    * timers are store-backed and survive restarts with the checkpoint. */
  class SessionTimeoutProcessor(gapMs: Long)
      extends StatefulProcessor[Long, TimedEvent, ClosedSession] {
    @transient private var count: ValueState[Long] = _
    @transient private var timerAt: ValueState[Long] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit = {
      count = getHandle.getValueState[Long]("count",
        Encoders.scalaLong, TTLConfig.NONE)
      timerAt = getHandle.getValueState[Long]("timerAt",
        Encoders.scalaLong, TTLConfig.NONE)
    }

    override def handleInputRows(uid: Long, rows: Iterator[TimedEvent],
        timers: TimerValues): Iterator[ClosedSession] = {
      var n = if (count.exists()) count.get() else 0L
      var lastTs = 0L
      rows.foreach { e =>
        n += 1
        lastTs = math.max(lastTs, e.ts.getTime)
      }
      count.update(n)
      if (timerAt.exists()) getHandle.deleteTimer(timerAt.get())
      val target = lastTs + gapMs
      getHandle.registerTimer(target)
      timerAt.update(target)
      Iterator.empty
    }

    override def handleExpiredTimer(uid: Long, timers: TimerValues,
        expired: ExpiredTimerInfo): Iterator[ClosedSession] = {
      val n = if (count.exists()) count.get() else 0L
      count.clear(); timerAt.clear()
      Iterator.single(ClosedSession(uid, n))
    }
  }

  /** Sessions closed by event-time timeout; `lateness` is the watermark
    * delay, `gapMinutes` the inactivity that closes a session. */
  def sessionTimeouts(events: Dataset[TimedEvent], gapMinutes: Long = 30,
      lateness: String = "10 seconds"): Dataset[ClosedSession] = {
    import events.sparkSession.implicits._
    events
      .withWatermark("ts", lateness)
      .groupByKey(_.user_id)
      .transformWithState(new SessionTimeoutProcessor(gapMinutes * 60000L),
        TimeMode.EventTime(), OutputMode.Append())
  }

  /** Stream-static enrichment join: each micro-batch of the stream is
    * joined against a STATIC batch-source dimension. Spark re-plans the
    * static side every micro-batch (so a refreshed dim table is picked
    * up) and the explicit broadcast keeps it a stateless map-side join —
    * no streaming state at all, unlike a stream-stream join. This is
    * the standard enrichment shape at scale: the 100 TB stream never
    * shuffles; only the small dim ships to executors. */
  def enrichWithDim(events: DataFrame, dim: DataFrame,
      key: String = "user_id"): DataFrame =
    events.join(broadcast(dim), Seq(key), "left")

  /** Streaming decontamination gate: drop every stream row whose
    * content hash already exists in a STATIC reference set (benchmark
    * test sets à la p04/p06, or the exact-dup index of the corpus
    * ingested so far) — the ingestion-time twin of the batch
    * anti-joins. A stream-static LEFT ANTI join is stateless like
    * [[enrichWithDim]] (static side re-planned every micro-batch, so a
    * refreshed reference set is picked up; broadcast keeps it map-side)
    * — no watermark and no state store, because the reference set IS
    * the state. Complements [[dedupWithinWatermark]], which dedups the
    * stream against ITSELF over a bounded horizon; this dedups it
    * against HISTORY, and they compose: gate first, then in-stream
    * dedup. At 100 TB the reference set outgrows a broadcast —
    * swap `broadcast` for a bucketed static table co-partitioned on
    * the hash and the same left_anti stays shuffle-free per batch. */
  def decontaminate(stream: DataFrame, reference: DataFrame,
      key: String = "h"): DataFrame =
    stream.join(broadcast(reference.select(key).distinct()),
      Seq(key), "left_anti")

  /** One micro-batch's idempotent commit: batch `batchId` always lands
    * in its own `batch_id=N` partition dir with overwrite semantics, so
    * a replayed batch (failure between sink write and checkpoint
    * advance — the classic at-least-once window) rewrites the same dir
    * with the same rows instead of appending duplicates (the parquet
    * files themselves differ from replay to replay). Together with the
    * checkpoint this upgrades foreachBatch file output to effective
    * exactly-once. */
  def commitBatch(batch: DataFrame, batchId: Long, outDir: String): Unit =
    batch.write.mode("overwrite").parquet(s"$outDir/batch_id=$batchId")

  /** foreachBatch parquet sink built on [[commitBatch]]; reading
    * `outDir` back discovers `batch_id` as a partition column. */
  def idempotentParquetSink(events: DataFrame, outDir: String,
      checkpoint: String): org.apache.spark.sql.streaming.StreamingQuery =
    events.writeStream
      .foreachBatch((b: Dataset[org.apache.spark.sql.Row], id: Long) =>
        commitBatch(b.toDF(), id, outDir))
      .option("checkpointLocation", checkpoint)
      .outputMode("append")
      .start()
}
