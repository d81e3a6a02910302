package graft.streaming

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Row, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.DataStreamWriter

import graft.qc.Recon

/** Streaming change-data-capture: [[Recon.snapshotCdc]] driven by a
  * stream of FULL table snapshots — each micro-batch is diffed against
  * the stored previous snapshot, the insert/update/delete feed is
  * appended, and the new snapshot becomes the stored state. The
  * streaming analogue of a table format's change-data-feed (Delta
  * CDF), reproduced on plain parquet for sources that can't emit one
  * themselves (VERDICT r4 #5 — the composition of the X63 diff with
  * the X68 replay guard).
  *
  * Exactly-once layout, all under `root`:
  *  - `snap/v<id>` — the stored snapshot, committed via
  *    [[VersionedState]] (batch id atomic with the data);
  *  - `feed/b<id>` — that batch's change rows (`op` ∈
  *    insert|update|delete + before/after values + `batch_id`).
  *
  * Order per batch: write `feed/b<id>` FIRST (overwrite — a replay
  * recomputes the identical diff against the still-uncommitted-over
  * previous snapshot and idempotently rewrites it), then commit
  * `snap/v<id>`. A crash between the two replays into the same diff;
  * a crash after the snapshot commit makes the replay a no-op — the
  * feed is never double-appended.
  *
  * Scale shape: per batch one full-outer equi-join on the pk (hash
  * partition both sides, nothing quadratic) — cost |snapshot|, not
  * |history|; the feed is append-only partitioned by batch.
  */
object StreamCdc {

  private def snapRoot(root: String) = s"$root/snap"
  private def feedDir(root: String, id: Long) = s"$root/feed/b$id"

  /** Highest committed batch id. */
  def currentVersion(spark: SparkSession, root: String): Long =
    VersionedState.currentVersion(spark, snapRoot(root))

  /** The stored current snapshot (None before the first commit). */
  def currentSnapshot(spark: SparkSession, root: String): Option[DataFrame] =
    VersionedState.current(spark, snapRoot(root))

  private val FeedDir = "^b(\\d+)$".r

  /** The accumulated change feed across all committed batches. A crash
    * between the feed write and the snapshot commit leaves an orphan
    * `feed/b<id>` for an UNcommitted batch (replay will idempotently
    * rewrite it); reading only the listed `feed/b<id>` directories with
    * `id <=` the committed snapshot version keeps those phantom rows
    * invisible until the commit lands — the same read-your-committed
    * contract as [[SegmentLedger]]'s watermark. Fails before the first
    * commit (there is no feed yet). */
  def feed(spark: SparkSession, root: String): DataFrame = {
    val committed = currentVersion(spark, root)
    val fs = VersionedState.fsOf(spark, root)
    val dirs = fs.listStatus(new Path(s"$root/feed")).toSeq.map(_.getPath)
      .filter(_.getName match {
        case FeedDir(id) => id.toLong <= committed
        case _ => false
      })
    spark.read.parquet(dirs.map(_.toString): _*)
  }

  /** Diff one full-snapshot micro-batch against the stored snapshot,
    * append the change feed, commit the new snapshot. Returns false
    * (and changes nothing) when `id` was already committed. Public so
    * tests drive redelivery directly. */
  def applyBatch(snapshot: DataFrame, id: Long, root: String,
      pk: Seq[String], valueCols: Seq[String]): Boolean = {
    val spark = snapshot.sparkSession
    val last = VersionedState.currentVersion(spark, snapRoot(root))
    if (id <= last) return false
    val cols = (pk ++ valueCols).map(col)
    val snap = snapshot.select(cols: _*)
    val prev =
      if (last < 0) snap.limit(0) // first batch: every row is an insert
      else VersionedState.read(spark, snapRoot(root), last, snap.schema)
    Recon.snapshotCdc(prev, snap, pk, valueCols)
      .withColumn("batch_id", lit(id))
      .write.mode(SaveMode.Overwrite).parquet(feedDir(root, id))
    VersionedState.commit(snap, id, snapRoot(root))
    true
  }

  /** The stream writer: a stream whose every micro-batch is a full
    * snapshot → stored snapshot + append-only change feed. */
  def sink(snapshots: DataFrame, root: String, pk: Seq[String],
      valueCols: Seq[String]): DataStreamWriter[Row] =
    snapshots.writeStream.foreachBatch(
      (batch: org.apache.spark.sql.Dataset[Row], id: Long) => {
        applyBatch(batch, id, root, pk, valueCols); ()
      })
}
