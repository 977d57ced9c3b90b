package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import java.sql.Timestamp

/** Structured Streaming operators over the `events` stream shape
  * (event_id, ts, user_id, event_type, value, props).
  *
  * The crawl frontier itself is an epoch-batch feedback loop (SURVEY.md
  * §2.11 — the reference's "streaming" is an async generator, not event-time
  * processing), but the engine's telemetry/ingest side IS a stream: these
  * are the watermarked windowed aggregation and custom-state session
  * operators a continuous deployment runs with `readStream`/`writeStream`.
  * All transforms below take a DataFrame so batch tests and streaming runs
  * share one code path.
  */
object EventStream {

  /** Tumbling-window event counts + value stats per event_type, tolerating
    * `lateness` of out-of-order data (event-time watermark).
    */
  def windowedCounts(events: DataFrame, windowLen: String = "1 hour",
                     lateness: String = "10 minutes"): DataFrame =
    events
      .withWatermark("ts", lateness)
      .groupBy(window(col("ts"), windowLen), col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("value")).as("sum_value"))
      .select(col("window.start").as("window_start"), col("event_type"),
        col("n"), col("sum_value"))

  final case class SessionEvent(user_id: Long, ts: Timestamp, value: Double)
  final case class SessionState(start: Long, last: Long, n: Int, total: Double)
  final case class SessionOut(user_id: Long, session_start: Timestamp,
                              session_end: Timestamp, n_events: Int, total_value: Double)

  /** Gap-based sessionization with custom state: a session closes after
    * `gapMs` of silence per user (flatMapGroupsWithState with processing-time
    * timeout — the KeyValueGroupedDataset custom-state surface).
    */
  def sessionize(events: Dataset[SessionEvent], gapMs: Long = 30 * 60 * 1000L)
      : Dataset[SessionOut] = {
    import events.sparkSession.implicits._
    events.groupByKey(_.user_id)
      .flatMapGroupsWithState[SessionState, SessionOut](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (userId: Long, rows: Iterator[SessionEvent], state: GroupState[SessionState]) =>
          // deterministic: order the group's batch by event time
          val sorted = rows.toSeq.sortBy(_.ts.getTime)
          var st = state.getOption.getOrElse(SessionState(-1L, -1L, 0, 0.0))
          val out = Seq.newBuilder[SessionOut]
          sorted.foreach { e =>
            val t = e.ts.getTime
            if (st.n == 0) st = SessionState(t, t, 1, e.value)
            else if (t - st.last > gapMs) {
              out += SessionOut(userId, new Timestamp(st.start),
                new Timestamp(st.last), st.n, st.total)
              st = SessionState(t, t, 1, e.value)
            } else st = st.copy(last = t, n = st.n + 1, total = st.total + e.value)
          }
          if (st.n > 0) state.update(st) else state.remove()
          out.result().iterator
      }
  }

  /** Streaming exact dedup of an incoming document stream: the FIRST
    * occurrence of each content hash survives; later duplicates are dropped
    * across micro-batches with state bounded by the watermark horizon
    * (`dropDuplicatesWithinWatermark` — duplicates arriving within
    * `lateness` of each other are guaranteed caught, state evicted beyond
    * it). This is `Dedup.exact`'s contract on the ingest stream: at crawl
    * scale the continuous pipeline dedups documents as they arrive instead
    * of re-scanning the corpus.
    */
  def streamingDedup(docs: DataFrame, hashCol: String = "content_hash",
                     tsCol: String = "ts", lateness: String = "1 hour"): DataFrame =
    docs.withWatermark(tsCol, lateness)
      .dropDuplicatesWithinWatermark(hashCol)

  final case class UrlArrival(url_hash: Long, url: String)

  /** Streaming URL-seen: the streaming twin of the crawl's seen ledger —
    * each url_hash's FIRST arrival is emitted exactly once; every later
    * occurrence (same micro-batch or any later one) is dropped against
    * per-key state (`flatMapGroupsWithState`, no timeout: a seen ledger
    * never expires within a crawl). Within a micro-batch the deterministic
    * first is the lexicographically-smallest url (mirrors the batch loop's
    * first-wins tiebreak on a stable key). At 10^10 scale the state store
    * is RocksDB-backed and hash-partitioned by key — the same key sharding
    * as the batch seen set, so the two deployments shard identically.
    */
  def streamingUrlSeen(urls: Dataset[UrlArrival]): Dataset[UrlArrival] = {
    import urls.sparkSession.implicits._
    urls.groupByKey(_.url_hash)
      .flatMapGroupsWithState[Boolean, UrlArrival](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (_: Long, rows: Iterator[UrlArrival], state: GroupState[Boolean]) =>
          if (state.exists) Iterator.empty
          else {
            state.update(true)
            Iterator.single(rows.minBy(_.url))
          }
      }
  }

  /** Batch twin of [[sessionize]] via lag-window gap detection — the
    * relational sessionization used in queries (and its DuckDB oracle).
    */
  def sessionizeBatch(events: DataFrame, gapMs: Long = 30 * 60 * 1000L): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("user_id").orderBy("ts")
    events
      .withColumn("prev_ts", lag(col("ts"), 1).over(w))
      .withColumn("new_session",
        when(col("prev_ts").isNull ||
          (col("ts").cast("timestamp").cast("long") -
            col("prev_ts").cast("timestamp").cast("long")) * 1000 > gapMs, 1)
          .otherwise(0))
      .withColumn("session_no", sum(col("new_session")).over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col("user_id"), col("session_no"))
      .agg(min(col("ts")).as("session_start"), max(col("ts")).as("session_end"),
        count(lit(1)).as("n_events"), sum(col("value")).as("total_value"))
  }
}
