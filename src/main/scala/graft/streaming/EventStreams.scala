package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import org.apache.spark.sql.types._

/** Structured Streaming over the `events` table shape
  * (event_id, ts, user_id, event_type, value, props).
  *
  * The reference has no streaming surface (SURVEY §2.8); this is the
  * scale-extension: the same transformations run identically as a batch
  * DataFrame (used by the correctness gate) and as a readStream pipeline
  * (tested with availableNow + memory sink).
  */
object EventStreams {

  /** 5-minute tumbling-window counts+sums per event type. Works on both batch
    * and streaming inputs (add `withWatermark` upstream for streams). */
  def windowedAgg(events: DataFrame): DataFrame =
    events
      .groupBy(window(col("ts"), "5 minutes").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"), round(sum(col("value")), 2).as("sum_value"))
      .select(unix_timestamp(col("w.start")).as("window_start"),
        col("event_type"), col("n"), col("sum_value"))

  /** Streaming variant with watermark (late data bound). */
  def windowedAggStream(events: DataFrame): DataFrame =
    windowedAgg(events.withWatermark("ts", "10 minutes"))

  case class SessionEvent(user_id: Long, ts: java.sql.Timestamp, value: Double)
  case class SessionSummary(user_id: Long, session_start: Long, n_events: Long, total_value: Double)
  private case class SessionState(start: Long, lastTs: Long, n: Long, total: Double)

  /** Gap-based sessionization (30-min inactivity), batch form: pure window
    * functions — a new session starts when the gap from the previous event of
    * the same user exceeds the gap. Deterministic and oracle-expressible. */
  def sessionizeBatch(events: DataFrame, gapMinutes: Int = 30): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val flagged = events
      .withColumn("prev_ts", lag(col("ts"), 1).over(w))
      .withColumn("new_session",
        when(col("prev_ts").isNull ||
          unix_timestamp(col("ts")) - unix_timestamp(col("prev_ts")) > gapMinutes * 60L, 1)
          .otherwise(0))
      .withColumn("session_seq",
        sum(col("new_session")).over(w.rowsBetween(Window.unboundedPreceding, 0)))
    flagged.groupBy(col("user_id"), col("session_seq"))
      .agg(
        unix_timestamp(min(col("ts"))).as("session_start"),
        count(lit(1)).as("n_events"),
        round(sum(col("value")), 2).as("total_value"))
      .select(col("user_id"), col("session_start"), col("n_events"), col("total_value"))
  }

  /** Streaming sessionization with explicit state: one state object per user,
    * sessions emitted on gap expiry (flatMapGroupsWithState — the custom-state
    * scale path for streams).
    */
  def sessionizeStream(spark: SparkSession, events: DataFrame, gapMinutes: Int = 30): Dataset[SessionSummary] = {
    import spark.implicits._
    val gapMs = gapMinutes * 60L * 1000L
    events.select(col("user_id"), col("ts"), col("value")).as[SessionEvent]
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[SessionState, SessionSummary](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (uid: Long, it: Iterator[SessionEvent], state: GroupState[SessionState]) =>
          val out = scala.collection.mutable.ArrayBuffer.empty[SessionSummary]
          var st = state.getOption.orNull
          it.toSeq.sortBy(e => e.ts.getTime).foreach { e =>
            val t = e.ts.getTime
            if (st == null) st = SessionState(t, t, 0, 0.0)
            else if (t - st.lastTs > gapMs) {
              out += SessionSummary(uid, st.start / 1000, st.n, st.total)
              st = SessionState(t, t, 0, 0.0)
            }
            st = st.copy(lastTs = t, n = st.n + 1, total = st.total + e.value)
          }
          if (st != null) state.update(st)
          out.iterator
      }
  }

  /** Exact dedup by event id, batch form. */
  def dedupBatch(events: DataFrame): DataFrame =
    events.dropDuplicates("event_id")

  /** Streaming exact dedup with bounded state: duplicates are only tracked
    * within the watermark horizon, so dedup state ages out instead of
    * growing forever — the only scale-safe form of streaming dedup. */
  def dedupStream(events: DataFrame, watermark: String = "10 minutes"): DataFrame =
    events.withWatermark("ts", watermark)
      .dropDuplicatesWithinWatermark("event_id")

  /** Click→purchase attribution: purchases within `windowMinutes` AFTER a
    * click by the same user. Batch form — a plain time-bounded join. */
  def attributionBatch(clicks: DataFrame, purchases: DataFrame,
      windowMinutes: Int = 30): DataFrame =
    clicks.select(col("user_id"), col("event_id").as("click_id"),
        col("ts").as("click_ts"))
      .join(purchases.select(col("user_id"),
          col("event_id").as("purchase_id"), col("ts").as("purchase_ts")),
        Seq("user_id"))
      .filter(col("purchase_ts") >= col("click_ts") &&
        col("purchase_ts") <= col("click_ts") + expr(s"INTERVAL $windowMinutes MINUTES"))
      .select(col("user_id"), col("click_id"), col("purchase_id"))

  /** Stream-stream interval join: both sides watermarked, join condition
    * time-bounded in both directions so Spark can expire join state — the
    * only scale-safe stream-stream join shape. */
  def attributionStream(clicks: DataFrame, purchases: DataFrame,
      windowMinutes: Int = 30): DataFrame = {
    val c = clicks.withWatermark("ts", "10 minutes")
      .select(col("user_id"), col("event_id").as("click_id"),
        col("ts").as("click_ts"))
    val p = purchases.withWatermark("ts", "10 minutes")
      .select(col("user_id").as("p_user_id"),
        col("event_id").as("purchase_id"), col("ts").as("purchase_ts"))
    c.join(p,
      col("user_id") === col("p_user_id") &&
        col("purchase_ts") >= col("click_ts") &&
        col("purchase_ts") <= col("click_ts") + expr(s"INTERVAL $windowMinutes MINUTES"))
      .select(col("user_id"), col("click_id"), col("purchase_id"))
  }

  /** Stream-static enrichment: each event joined to a static dimension by
    * key. In streaming mode the static side is broadcast to every micro-batch
    * (no stream state at all — the scale-safe enrich shape); the same code
    * runs batch or streaming since the join is stateless. */
  def enrichBatch(events: DataFrame, dim: DataFrame, dimKey: String,
      eventKey: String = "user_id"): DataFrame =
    events.join(broadcast(dim), events(eventKey) === dim(dimKey))

  def enrichStream(events: DataFrame, dim: DataFrame, dimKey: String,
      eventKey: String = "user_id"): DataFrame =
    enrichBatch(events, dim, dimKey, eventKey)
}
