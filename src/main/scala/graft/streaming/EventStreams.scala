package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout}

/** Structured Streaming over the events stream (SURVEY.md §2.G G19).
  *
  * The same logical window aggregation runs in batch (Relational.q19) and
  * here as a stream: `withWatermark` bounds state, tumbling/sliding/session
  * windows come from the built-in window functions, and custom per-key
  * state uses mapGroupsWithState. Batch/stream equivalence and late-row
  * semantics are asserted in StreamingSpec.
  *
  * Scale: streaming state is partitioned by group key across executors;
  * the watermark is what makes 100 TB/day ingestion possible — state for
  * closed windows is dropped, so memory is bounded by (watermark horizon ×
  * key cardinality), not by stream length.
  */
object EventStreams {

  /** Tumbling 1-hour window aggregation (stream form of q19_window_agg). */
  def hourlyAgg(events: DataFrame, watermark: String = "10 minutes"): DataFrame =
    events
      .withWatermark("ts", watermark)
      // group by the intact window struct — extracting .start before the agg
      // would strip the event-time marker append mode needs
      .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
      .agg(count(lit(1)).as("c"), round(sum("value"), 2).as("s"))
      .select(col("w.start").as("ws"), col("event_type"), col("c"), col("s"))

  /** Session windows per user with a 30-minute gap. */
  def sessionAgg(events: DataFrame, watermark: String = "10 minutes"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(session_window(col("ts"), "30 minutes").as("sw"), col("user_id"))
      .agg(count(lit(1)).as("c"))
      .select(col("sw.start").as("ss"), col("user_id"), col("c"))

  /** Streaming exact dedup: drop re-deliveries of the same event_id, with
    * watermarked state so the dedup table doesn't grow unboundedly — the
    * at-least-once→exactly-once repair stage of a 100 TB/day ingest. */
  def dedupStream(events: DataFrame, watermark: String = "10 minutes"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .dropDuplicates("event_id", "ts")

  case class UserRunning(user_id: Long, n: Long, total: Double)

  /** Custom keyed state: running per-user event count + value total via
    * mapGroupsWithState (the KeyValueGroupedDataset stateful API). */
  def runningTotals(spark: SparkSession, events: DataFrame): DataFrame = {
    import spark.implicits._
    events.select(col("user_id").as[Long], col("value").as[Double])
      .groupByKey(_._1)
      .mapGroupsWithState(GroupStateTimeout.NoTimeout()) {
        (user: Long, rows: Iterator[(Long, Double)], state: GroupState[UserRunning]) =>
          val prev = state.getOption.getOrElse(UserRunning(user, 0L, 0.0))
          var n = prev.n; var total = prev.total
          rows.foreach { r => n += 1; total += r._2 }
          val next = UserRunning(user, n, total)
          state.update(next)
          next
      }
      .toDF()
  }

  /** Stream-stream interval join: pair each click with EVERY preceding
    * view by the same user within `horizon` — one output row per
    * (click, view) pair, the raw attribution-candidate stream (the
    * last-touch reduction is a downstream `groupBy(click_id).agg(max_by
    * (view_id, v_ts))`; the per-click last-touch BATCH operator is
    * `EventAnalytics.attribution` / q34). Both sides carry watermarks and the join
    * condition bounds event-time distance, so Spark can EXPIRE buffered
    * state: rows older than (watermark + horizon) are evicted — without
    * the interval bound a stream-stream inner join would buffer both
    * streams forever. State is keyed by user_id, sharded across
    * executors; memory is O(rate × horizon), not stream length. */
  def clickAttribution(events: DataFrame, horizon: String = "15 minutes",
      watermark: String = "10 minutes"): DataFrame = {
    val views = events.filter(col("event_type") === "view")
      .select(col("user_id").as("v_user"), col("ts").as("v_ts"),
        col("event_id").as("view_id"))
      .withWatermark("v_ts", watermark)
    val clicks = events.filter(col("event_type") === "click")
      .select(col("user_id").as("c_user"), col("ts").as("c_ts"),
        col("event_id").as("click_id"))
      .withWatermark("c_ts", watermark)
    clicks.join(views,
      col("c_user") === col("v_user") &&
        col("c_ts") >= col("v_ts") &&
        col("c_ts") <= col("v_ts") + expr(s"INTERVAL $horizon"))
      .select(col("c_user").as("user_id"), col("click_id"), col("view_id"),
        col("c_ts"), col("v_ts"))
  }
}
