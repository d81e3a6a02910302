package graft.streaming

import java.sql.Timestamp
import org.apache.spark.sql.Dataset
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout,
  OutputMode}

/** Custom-state streaming via `flatMapGroupsWithState` — the
  * KeyValueGroupedDataset state API for semantics no built-in stateful
  * operator expresses: a per-user running-mean spike detector whose
  * verdict for each event depends on ALL history before it, emitted
  * per event in append mode (a windowed aggregate can't do per-row
  * emission; `dropDuplicates` has no arithmetic state).
  *
  * State is O(1) per user (count + sum). In production the state is
  * bounded by `ProcessingTimeTimeout`: a user idle past the timeout is
  * evicted (re-appearing users restart cold) — the same bounded-state
  * discipline as a watermark. The BATCH equivalent of this semantics
  * is a preceding-rows window (see `events_spike_scores` in
  * `StreamQueries`), which is the oracle-checked proof of the scoring
  * rule; the streaming specs prove state actually persists and evicts
  * across micro-batches.
  *
  * ORDERING CONTRACT: events are event-time sorted only WITHIN each
  * micro-batch. An event arriving in a LATER micro-batch than one with
  * a greater event time is scored against state that already includes
  * the later-ts event — so under cross-batch out-of-order arrival the
  * streaming output diverges from the batch window mirror, and the
  * mirror is an oracle only under in-order (or single-batch) arrival.
  * This is inherent to per-row O(1) state: bounding the disorder needs
  * an event-time buffer + timeout (hold each event until the watermark
  * passes it), which trades per-event latency and O(buffer) state for
  * exact event-time order. The producer contract here (monotone
  * event_id/ts batches, `StreamIngest.producerPayloadFromEvents`)
  * satisfies in-order arrival, so the cheap form is the right default.
  */
object Stateful {

  case class Obs(user_id: Long, ts: Timestamp, value: Double)
  /** Running count + EXACT integer cents sum: the observed values carry
    * two decimals, so ×100 accumulation is associative-exact — a double
    * running sum drifts by association order and disagrees with the
    * window-mirror oracle at round-boundary means (observed: one row in
    * 10k). The emitted mean is INTEGER micro-units (cents·10⁴ div n):
    * even a single exact division + round(…, 6) fails cross-engine,
    * because the engines break decimal ties differently (Spark decimal
    * HALF_UP vs DuckDB float tie-to-even) and cents/(100n) quotients
    * hit exact …5e-7 ties routinely. Integer out = no ties exist. */
  case class UserState(n: Long, sumCents: Long)
  case class Scored(user_id: Long, ts: Timestamp, value: Double,
    running_mean_e6: Long, is_spike: Boolean)

  /** A value this many times the running mean of the user's PRIOR
    * events counts as a spike (first event is never a spike). Integer
    * 3 so the spike test is exact: cents·n > 3·sumCents. */
  val SpikeFactor = 3L

  private def cents(v: Double): Long = math.round(v * 100)

  /** The scoring fold: consume one group's micro-batch rows in
    * event-time order against the carried state. Within a micro-batch,
    * event-time order with value tiebreak for determinism (matches the
    * batch mirror's ORDER BY). */
  private def scoreRows(rows: Iterator[Obs],
      st0: UserState): (Seq[Scored], UserState) = {
    var st = st0
    val out = rows.toSeq.sortBy(o => (o.ts.getTime, o.value)).map { o =>
      val meanE6 =
        if (st.n == 0) cents(o.value) * 10000L
        else st.sumCents * 10000L / st.n
      val spike = st.n > 0 && cents(o.value) * st.n > SpikeFactor * st.sumCents
      st = UserState(st.n + 1, st.sumCents + cents(o.value))
      Scored(o.user_id, o.ts, o.value, meanE6, spike)
    }
    (out, st)
  }

  private def score(evictAfter: Option[String])(user: Long,
      rows: Iterator[Obs],
      state: GroupState[UserState]): Iterator[Scored] = {
    if (state.hasTimedOut) { state.remove(); return Iterator.empty }
    val (out, st) = scoreRows(rows, state.getOption.getOrElse(UserState(0L, 0L)))
    state.update(st)
    evictAfter.foreach(state.setTimeoutDuration)
    out.iterator
  }

  /** Attach the detector to an observation stream (or batch frame —
    * the API runs in both; batch sees one group call with no state).
    * `evictAfter` turns on processing-time state eviction — the
    * production bound on per-user state; None (the default) keeps
    * state indefinitely, which is what deterministic tests want. */
  def spikeScores(events: Dataset[Obs],
      evictAfter: Option[String] = None): Dataset[Scored] = {
    import events.sparkSession.implicits._
    events.groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append,
        if (evictAfter.isDefined) GroupStateTimeout.ProcessingTimeTimeout
        else GroupStateTimeout.NoTimeout)(score(evictAfter))
  }
}
