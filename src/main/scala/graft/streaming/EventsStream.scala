package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import org.apache.spark.sql.types.StructType
import scala.collection.mutable.ArrayBuffer

/** Streaming/incremental semantics (SURVEY.md §2.10): the reference is a
  * 4-hour batch daemon whose logic is incremental CDC — offset resume,
  * late/duplicate drops, max-version-per-key consumption. Re-expressed
  * as Structured Streaming: watermarked event-time processing,
  * exactly-once-ish dedup within the watermark, and custom session
  * state via mapGroupsWithState (the data-driven sessionizers W2/W3 stay
  * batch windows; this module covers the time-driven side).
  */
object EventsStream {

  case class Event(event_id: Long, ts: java.sql.Timestamp, user_id: Long,
    event_type: String, value: Double)

  case class SessionUpdate(user_id: Long, session_start: java.sql.Timestamp,
    n_events: Long, total_value: Double, closed: Boolean)

  case class SessionState(start: Long, last: Long, n: Long, total: Double)

  /** Streaming source over a parquet events directory with the
    * testdata events schema. `readStream` needs an explicit schema:
    * `schema` is the on-disk shape, taken from a footer read rather
    * than hard-coded (the testdata's ts column has shipped both as
    * nanos-long and as TIMESTAMP(MICROS), and a pinned schema string
    * breaks on regeneration). Callers read it with [[graft.Tables.eventsRaw]]
    * off a stable directory holding the same files, such as the memo
    * dir `FeedMemo.copySlice` returns: a stream source is new every
    * run, so its own footer read would miss the schema memo and run a
    * job. Normalization to a zoned timestamp is shared with the batch
    * path (Tables.normalizeEventTs).
    */
  def readEvents(
      spark: SparkSession,
      dir: String,
      schema: StructType,
      maxFilesPerTrigger: Option[Int] = None): DataFrame = {
    val base = spark.readStream.schema(schema)
    val reader = maxFilesPerTrigger
      .fold(base)(n => base.option("maxFilesPerTrigger", n))
    graft.Tables.normalizeEventTs(reader.parquet(dir))
  }

  /** Watermarked tumbling-window aggregation with in-watermark dedup
    * (late/duplicate data handling, §2.10 rows 2-3): duplicates by
    * event_id are dropped inside the watermark, then per-window ×
    * event_type counts/sums.
    */
  def windowedCounts(
      events: DataFrame,
      watermark: String = "10 minutes",
      windowLen: String = "5 minutes"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .dropDuplicatesWithinWatermark("event_id")
      .groupBy(window(col("ts"), windowLen), col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("value")).as("total_value"))

  /** Gap-based session state per user via flatMapGroupsWithState
    * (§2.10 "custom state"): a session closes when the next event
    * arrives more than `gapMinutes` after the previous one. Every
    * CLOSED session is emitted with ITS OWN final stats (closed=true),
    * plus one update for the still-open tail session (closed=false).
    * The tail session closes on the next batch's gap; an idle-timeout
    * variant would register a state timeout here.
    *
    * Memory bound: the `it.toSeq.sortBy` buffers ONE user's events from
    * ONE micro-batch (not the whole stream) — bounded by
    * `maxOffsetsPerTrigger` / trigger interval, not by data scale. A
    * pathologically hot key that overflows that envelope needs the
    * source pre-sorted within partitions (then fold `it` incrementally)
    * or key salting upstream; for this workload's per-user event rates
    * the per-batch buffer is a few KB.
    */
  def sessionize(
      events: Dataset[Event],
      gapMinutes: Int = 30): Dataset[SessionUpdate] = {
    import events.sparkSession.implicits._
    val gapMs = gapMinutes * 60L * 1000L
    events.groupByKey(_.user_id)
      .flatMapGroupsWithState[SessionState, SessionUpdate](
        OutputMode.Update(), GroupStateTimeout.NoTimeout) {
        case (userId, it, state: GroupState[SessionState]) =>
          val out = ArrayBuffer.empty[SessionUpdate]
          def emit(st: SessionState, closed: Boolean): Unit =
            out += SessionUpdate(userId, new java.sql.Timestamp(st.start),
              st.n, math.rint(st.total * 100) / 100, closed)
          val sorted = it.toSeq.sortBy(e => (e.ts.getTime, e.event_id))
          var st = state.getOption.getOrElse(
            SessionState(sorted.head.ts.getTime, sorted.head.ts.getTime, 0, 0))
          for (e <- sorted) {
            if (st.n > 0 && e.ts.getTime - st.last > gapMs) {
              emit(st, closed = true) // finished session, final stats
              st = SessionState(e.ts.getTime, e.ts.getTime, 1, e.value)
            } else {
              // max(): a LATE cross-batch event must not move the
              // session's high-water mark backwards, or the next
              // on-time event would read as a spurious gap
              st = st.copy(last = math.max(st.last, e.ts.getTime),
                n = st.n + 1, total = st.total + e.value)
            }
          }
          state.update(st)
          emit(st, closed = false)
          out.iterator
      }
  }
}
