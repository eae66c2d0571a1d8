package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** One user event on the stream (event-time `ts`). */
final case class UserEvent(user_id: Long, ts: Timestamp, value: Double)

/** A closed session: gap-based grouping of one user's events. */
final case class UserSession(
    user_id: Long,
    start_ts: Timestamp,
    end_ts: Timestamp,
    n_events: Long,
    sum_value: Double)

/** Session bounds in epoch MICROS — java.sql.Timestamp.getTime is
  * millisecond-truncated, and event time carries microseconds. */
private final case class SessionState(
    start: Long, last: Long, n: Long, sum: Double)

/**
 * Gap-based sessionization with custom keyed state —
 * `flatMapGroupsWithState` + event-time timeout, the Structured Streaming
 * shape for state the built-in windows can't express. The timeout runs off
 * Spark's own watermark (`withWatermark` on `ts`), which the engine keeps
 * per partition and mins across them — where the reference kept per-queue
 * watermark state in its source
 * (legacy/common/watermark/WaterMarkPerQueue.java:30-55).
 *
 * A session closes when no event arrives within `gapMs` of its last event;
 * the timeout fires once the watermark passes last+gap, so state size is
 * bounded by active users — the property that lets this run indefinitely on
 * an unbounded stream.
 */
object Sessionize {

  /** Timestamp → epoch micros (getTime carries millis; getNanos the full
    * sub-second, so only its sub-milli part is added). */
  private def toMicros(t: Timestamp): Long =
    t.getTime * 1000L + (t.getNanos % 1000000L) / 1000L

  private def toTimestamp(us: Long): Timestamp = {
    val t = new Timestamp(Math.floorDiv(us, 1000L))
    t.setNanos(Math.floorMod(us, 1000000L).toInt * 1000)
    t
  }

  def sessions(
      events: Dataset[UserEvent],
      gapMs: Long,
      watermarkDelayMs: Long = 5000L): Dataset[UserSession] = {
    import events.sparkSession.implicits._
    val gapUs = gapMs * 1000L
    events
      .withWatermark("ts", s"$watermarkDelayMs milliseconds")
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[SessionState, UserSession](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        (userId: Long, rows: Iterator[UserEvent], state: GroupState[SessionState]) =>
          if (state.hasTimedOut) {
            val s = state.get
            state.remove()
            Iterator(UserSession(userId, toTimestamp(s.start), toTimestamp(s.last), s.n, s.sum))
          } else {
            val sorted = rows.toSeq.sortBy(e => toMicros(e.ts))
            var closed = List.empty[UserSession]
            var cur = state.getOption
            sorted.foreach { e =>
              val t = toMicros(e.ts)
              cur match {
                case Some(s) if t - s.last <= gapUs =>
                  cur = Some(SessionState(s.start, math.max(s.last, t), s.n + 1, s.sum + e.value))
                case Some(s) =>
                  closed ::= UserSession(userId, toTimestamp(s.start), toTimestamp(s.last), s.n, s.sum)
                  cur = Some(SessionState(t, t, 1, e.value))
                case None =>
                  cur = Some(SessionState(t, t, 1, e.value))
              }
            }
            cur.foreach { s =>
              state.update(s)
              state.setTimeoutTimestamp(s.last / 1000L + gapMs)
            }
            closed.reverseIterator
          }
      }
  }
}
