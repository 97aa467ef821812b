package graft.streaming

import org.apache.spark.sql.{DataFrame, Encoders}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Streaming gap-sessionization — the incremental counterpart of the
  * batch q39 operator (per-user lag → gap flag → running sum): as
  * events stream in, each user's OPEN session lives in the state store
  * and a session is emitted exactly once, when it CLOSES — either a
  * later event of the same user starts the next session (arrival gap >
  * `gapMs`) or the event-time watermark passes the session's end by the
  * full gap (no admissible event can extend it any more, the same
  * closure rule the batch window applies retrospectively).
  *
  * Reference analog: the watermark-cursor event feed that folds job
  * events into per-job status (`backend/lambdas/jobs/handlers.py` —
  * the stream_processor consumes the event stream incrementally rather
  * than re-scanning the table); here the fold is per-user session
  * extent rather than per-job status.
  *
  * Scale shape: state is ONE fixed-size entry (start, end, count) per
  * user with an open session inside the watermark horizon — never the
  * event history — and the only shuffle is the `groupByKey` on user id,
  * the same single key shuffle the batch window pays. A billion-user
  * feed holds state proportional to concurrently-active users.
  *
  * Ordering semantics: arrivals are processed in `(ts, tiebreak)` order
  * WITHIN each micro-batch, and an out-of-order event that lands within
  * `gapMs` of the open session merges exactly (it can extend the
  * session backwards: start = min(start, ts)). An event arriving out of
  * order by MORE than `gapMs` BEHIND the open session (possible only
  * across micro-batches, within the watermark delay) emits immediately
  * as its own single-event closed session — a deliberate bounded-state
  * approximation: merging it exactly would require keeping closed
  * sessions around for the whole watermark window. Feeds whose disorder
  * is bounded by `gapMs` (or contained within a micro-batch) match the
  * batch operator exactly — the differential in SessionizeSpec pins
  * this.
  *
  * A BATCH frame takes the identical declarative shape (the q39 window:
  * every window `PARTITION BY` user) and is the differential oracle for
  * the streaming path.
  */
object Sessionize {

  private[streaming] final case class SessEvent(user: String,
                                                ts: java.sql.Timestamp)
  private[streaming] final case class OpenSession(startMs: Long,
                                                  endMs: Long, n: Long)
  private[streaming] final case class SessionRow(user_id: String,
                                                 start_ms: Long,
                                                 end_ms: Long,
                                                 n_events: Long)

  /** Closed sessions of an event stream (or, for a batch frame, ALL its
    * sessions — batch has no "still open" notion).
    *
    * Output: (user_id: string, start_ms, end_ms, n_events) — epoch
    * millis extents, id as string (the engine-wide cast contract,
    * [[graft.find.Finder]] J2).
    *
    * @param events         streaming (or batch) frame
    * @param userCol        session key column
    * @param tsCol          event-time column (castable to timestamp;
    *                       a STRING column without an explicit offset
    *                       is interpreted in the SESSION timezone —
    *                       Spark's cast semantics. Feed
    *                       timestamp/epoch types or offset-bearing
    *                       strings for session-zone independence)
    * @param gapMs          inactivity gap that closes a session
    * @param watermarkDelay how late events may arrive, e.g. "10 minutes"
    */
  def sessions(events: DataFrame, userCol: String, tsCol: String,
               gapMs: Long, watermarkDelay: String): DataFrame = {
    require(gapMs > 0, s"gapMs must be > 0, got $gapMs")
    // ingest tolerance: an event with a NULL user has no
    // session key and one with a NULL/uncastable ts has no position
    // on the time axis — both are dropped, in BOTH branches (the
    // find-side null-identifier rule; previously a null ts NPE'd the
    // streaming closure's ts.getTime and a null user hit the key
    // encoder). try_cast, filtered AFTER the cast: a malformed ts
    // drops identically under ANSI on (where a plain cast would
    // error) and off (where it would null then NPE) — ANSI-mode
    // parity by construction.
    val keyed = events
      .select(
        col(userCol).cast("string").as("user"),
        col(tsCol).try_cast("timestamp").as("ts"))
      .filter(col("user").isNotNull && col("ts").isNotNull)
    if (events.isStreaming) {
      keyed
        .withWatermark("ts", watermarkDelay)
        .as[SessEvent](Encoders.product[SessEvent])
        .groupByKey(_.user)(Encoders.STRING)
        .flatMapGroupsWithState(OutputMode.Append,
          GroupStateTimeout.EventTimeTimeout)(
          (user: String, it: Iterator[SessEvent],
           state: GroupState[OpenSession]) => {
            if (state.hasTimedOut) {
              // watermark passed end + gap: nothing can extend it
              val s = state.get
              state.remove()
              Iterator.single(SessionRow(user, s.startMs, s.endMs, s.n))
            } else {
              val arrivals = it.map(_.ts.getTime).toArray.sorted
              val out = Seq.newBuilder[SessionRow]
              var open = state.getOption
              arrivals.foreach { ts =>
                open match {
                  case None =>
                    open = Some(OpenSession(ts, ts, 1))
                  case Some(s) if ts > s.endMs + gapMs =>
                    // gap exceeded forward: close, start the next
                    out += SessionRow(user, s.startMs, s.endMs, s.n)
                    open = Some(OpenSession(ts, ts, 1))
                  case Some(s) if ts < s.startMs - gapMs =>
                    // severely-late straggler behind the open session:
                    // its own immediately-closed session (see scaladoc)
                    out += SessionRow(user, ts, ts, 1)
                  case Some(s) =>
                    open = Some(OpenSession(math.min(s.startMs, ts),
                      math.max(s.endMs, ts), s.n + 1))
                }
              }
              open.foreach { s =>
                state.update(s)
                // close once the watermark passes end + gap (the
                // registration must sit above the current watermark or
                // Spark rejects it)
                state.setTimeoutTimestamp(math.max(s.endMs + gapMs,
                  state.getCurrentWatermarkMs + 1))
              }
              out.result().iterator
            }
          })(Encoders.product[OpenSession], Encoders.product[SessionRow])
        .toDF()
    } else {
      // batch oracle: the q39 declarative shape over epoch millis
      val byUser = Window.partitionBy(col("user")).orderBy(col("tms"))
      keyed.select(col("user"), unix_millis(col("ts")).as("tms"))
        .withColumn("_prev", lag(col("tms"), 1).over(byUser))
        .withColumn("_new",
          when(col("_prev").isNull || col("tms") - col("_prev") > gapMs, 1L)
            .otherwise(0L))
        .withColumn("_sid", sum(col("_new")).over(
          byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .groupBy(col("user"), col("_sid"))
        .agg(min(col("tms")).as("start_ms"), max(col("tms")).as("end_ms"),
          count(lit(1)).as("n_events"))
        .select(col("user").as("user_id"), col("start_ms"),
          col("end_ms"), col("n_events"))
    }
  }
}
