package graft.streaming

import java.sql.Timestamp
import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout,
  OutputMode}

/** Per-key admission quota (X276) — the crawl-politeness / per-tenant
  * rate cap a live ingestion front-end enforces: admit at most `n`
  * events per key, drop the rest, and STAMP each admitted event with
  * its admission rank (the audit column the drop decision replays
  * from). The batch face is one rank window; the streaming face keeps
  * one Long of state per key (`flatMapGroupsWithState`), so the cap
  * holds ACROSS micro-batches — the semantics no stateless filter or
  * windowed aggregate expresses, and the per-event emission a
  * `groupBy.count` cannot give.
  *
  * Production notes: `evictAfter` is the QUOTA WINDOW — evicting an
  * idle key's state resets its budget, which is exactly the "N
  * requests per idle-bounded session" politeness rule; None (the
  * deterministic-test default) makes the cap lifetime-global. Same
  * ordering contract as [[Stateful]]: rows are event-time sorted
  * WITHIN a micro-batch (id tiebreak), so the batch mirror is an
  * oracle under in-order (or single-batch) arrival — the producer
  * contract the S16 feed satisfies.
  *
  * Scale: O(1) state per key, one shuffle on the key — the same
  * shape at any feed rate; the batch face's window partitions by the
  * key, never a global sort. */
object Quota {

  val DefaultQuota = 20L

  case class Ev(user_id: Long, ts: Timestamp, event_id: Long)
  case class Kept(user_id: Long, ts: Timestamp, event_id: Long,
    quota_rank: Long)
  /** Public (not `private`): the state encoder's generated code needs
    * constructor access — a private case class fails Janino compile
    * at runtime. */
  case class QState(accepted: Long)

  /** Batch face: the first `n` events per key in (ts, event_id)
    * order, stamped with their admission rank. */
  def quotaFilter(events: DataFrame, n: Long = DefaultQuota): DataFrame =
    events.select(col("user_id"), col("ts"), col("event_id"))
      .withColumn("quota_rank", row_number().over(
        Window.partitionBy(col("user_id"))
          .orderBy(col("ts"), col("event_id"))).cast("long"))
      .filter(col("quota_rank") <= n)

  /** The admission fold: consume one group's micro-batch rows in
    * (ts, event_id) order against the carried count, admit while under
    * budget. */
  private def admitRows(n: Long, rows: Iterator[Ev],
      acc0: Long): (Seq[Kept], Long) = {
    var acc = acc0
    val out = rows.toSeq.sortBy(e => (e.ts.getTime, e.event_id))
      .flatMap { e =>
        if (acc < n) {
          acc += 1
          Some(Kept(e.user_id, e.ts, e.event_id, acc))
        } else None
      }
    (out, acc)
  }

  private def admit(n: Long, evictAfter: Option[String])(user: Long,
      rows: Iterator[Ev], state: GroupState[QState]): Iterator[Kept] = {
    if (state.hasTimedOut) { state.remove(); return Iterator.empty }
    val (out, acc) = admitRows(n, rows,
      state.getOption.map(_.accepted).getOrElse(0L))
    state.update(QState(acc))
    evictAfter.foreach(state.setTimeoutDuration)
    out.iterator
  }

  /** Streaming face (runs identically on batch frames — one group
    * call with empty state): admit until the per-key budget is spent,
    * carrying the admission count across micro-batches. */
  def quotaStream(events: Dataset[Ev], n: Long = DefaultQuota,
      evictAfter: Option[String] = None): Dataset[Kept] = {
    import events.sparkSession.implicits._
    events.groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append,
        if (evictAfter.isDefined) GroupStateTimeout.ProcessingTimeTimeout
        else GroupStateTimeout.NoTimeout)(admit(n, evictAfter))
  }
}
