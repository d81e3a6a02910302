package graft.streaming

import org.apache.spark.sql.Dataset
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout,
  OutputMode}

/** X296: event-time sessionization with ARBITRARY per-key state — the
  * session shape `session_window` (X34) cannot express: the built-in
  * emits windowed AGGREGATES, while a production sessionizer emits one
  * COMPLETE SESSION RECORD per visit (entry/exit payloads, funnels,
  * billing units) exactly once, closed either by a successor event
  * that breaks the gap or by the WATERMARK passing the open session's
  * timeout — the flatMapGroupsWithState + EventTimeTimeout idiom.
  *
  * Semantics (shared with the batch face, `Sessionize.sharedSessions`:
  * islands break when the inter-event gap STRICTLY exceeds the gap):
  *  - a session closed by a later same-key event emits in that event's
  *    micro-batch;
  *  - a session with no successor emits when the watermark passes
  *    `last_event + gap` (the registered event-time timeout) — never
  *    earlier, so there are no speculative emissions to retract;
  *  - state per key is ONE open-session summary (4 Longs), bounded
  *    regardless of stream length; the timeout is the eviction.
  *
  * Scale: state is keyed by user and lives in the state store — the
  * shuffle is the `groupByKey`, identical to any streaming aggregate.
  * The per-micro-batch in-memory sort is per (key, batch) — bounded by
  * a key's events within one trigger, the same bound every
  * `flatMapGroupsWithState` fold in this repo documents. */
object SessionState extends Serializable {

  case class Ev(user_id: Long, ts: java.sql.Timestamp, value: Double)

  case class OpenSession(start_us: Long, last_us: Long, n: Long,
    cents: Long)

  case class Session(user_id: Long, session_start: java.sql.Timestamp,
    session_end: java.sql.Timestamp, n_events: Long, value_cents: Long)

  val DefaultGapMinutes = 30L
  val DefaultDelay = "10 minutes"

  private def toSession(user: Long, s: OpenSession): Session =
    Session(user,
      new java.sql.Timestamp(s.start_us / 1000L),
      new java.sql.Timestamp(s.last_us / 1000L),
      s.n, s.cents)

  /** Pure per-key fold: merge the batch's (sorted) events into the
    * open session, emitting every session a gap break closes. Shared
    * by the streaming operator and the spec's scalar replay. */
  def foldEvents(open: Option[OpenSession], sorted: Seq[(Long, Long)],
      gapUs: Long): (Seq[OpenSession], Option[OpenSession]) = {
    var closed = List.empty[OpenSession]
    var cur = open
    sorted.foreach { case (us, cents) =>
      cur match {
        case Some(s) if us - s.last_us > gapUs =>
          closed ::= s
          cur = Some(OpenSession(us, us, 1L, cents))
        case Some(s) =>
          cur = Some(OpenSession(s.start_us, math.max(s.last_us, us),
            s.n + 1L, s.cents + cents))
        case None =>
          cur = Some(OpenSession(us, us, 1L, cents))
      }
    }
    (closed.reverse, cur)
  }

  /** Gap-sessionize a watermarked event stream into complete session
    * records (see object scaladoc for the emission contract). */
  def sessionize(events: Dataset[Ev],
      gapMinutes: Long = DefaultGapMinutes,
      delay: String = DefaultDelay): Dataset[Session] = {
    import events.sparkSession.implicits._
    val gapUs = gapMinutes * 60L * 1000000L
    def update(user: Long, rows: Iterator[Ev],
        state: GroupState[OpenSession]): Iterator[Session] = {
      if (state.hasTimedOut) {
        val out = state.getOption.map(toSession(user, _)).iterator
        state.remove()
        out
      } else {
        val sorted = rows.map(e =>
            (e.ts.getTime * 1000L, math.round(e.value * 100.0)))
          .toSeq.sortBy(_._1)
        val (closed, open) =
          foldEvents(state.getOption, sorted, gapUs)
        open match {
          case Some(s) =>
            state.update(s)
            // the watermark passing last + gap is the no-successor
            // close signal
            state.setTimeoutTimestamp(
              s.last_us / 1000L + gapMinutes * 60000L)
          case None => state.remove()
        }
        closed.map(toSession(user, _)).iterator
      }
    }
    events.withWatermark("ts", delay)
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append,
        GroupStateTimeout.EventTimeTimeout)(update)
  }
}
