package graft.streaming

import org.apache.hadoop.fs.Path
import org.apache.hadoop.fs.FileSystem
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions.{col, lit}
import org.apache.spark.sql.types.StructType

/** Versioned parquet state with an atomic commit point — the shared
  * persistence primitive under the `foreachBatch` sinks
  * ([[StreamRollup]], [[StreamCdc]]); [[SegmentLedger]] is its
  * append-only sibling.
  *
  * Each commit writes a fresh `v<id>` directory; a version only
  * becomes current once the parquet commit protocol drops its
  * `_SUCCESS` marker, so the applied batch id is persisted ATOMICALLY
  * WITH the data — there is no separate pointer file whose update
  * could race a rewrite. "Current" = highest committed version, from
  * one directory listing. A writer that dies mid-batch leaves an
  * uncommitted directory readers ignore and the redelivered batch
  * overwrites; a redelivery after commit is detected by
  * `id <= currentVersion`. Superseded versions are deleted best-effort
  * AFTER the new commit — a crash there leaves extra directories,
  * never a wrong answer.
  */
object VersionedState {

  private val VersionDir = "^v(\\d+)$".r

  private[streaming] def fsOf(spark: SparkSession, root: String) =
    new Path(root).getFileSystem(spark.sessionState.newHadoopConf())

  /** A directory's commit point: the parquet commit protocol's
    * `_SUCCESS` marker, dropped only after every data file landed. */
  private[streaming] def committed(fs: FileSystem, dir: Path): Boolean =
    fs.exists(new Path(dir, "_SUCCESS"))

  /** Highest committed (has `_SUCCESS`) version id under `root`, or -1
    * when none exists — the replay-guard watermark AND the read
    * pointer. */
  def currentVersion(spark: SparkSession, root: String): Long = {
    val fs = fsOf(spark, root)
    if (!fs.exists(new Path(root))) return -1L
    fs.listStatus(new Path(root)).iterator.flatMap { st =>
      st.getPath.getName match {
        case VersionDir(id) if committed(fs, st.getPath) => Some(id.toLong)
        case _ => None
      }
    }.foldLeft(-1L)(math.max)
  }

  /** The current committed state (None before the first commit). */
  def current(spark: SparkSession, root: String): Option[DataFrame] = {
    val v = currentVersion(spark, root)
    if (v < 0) None else Some(spark.read.parquet(s"$root/v$v"))
  }

  /** Committed version `v`, read with the schema its writer commits:
    * a sink calls this once per micro-batch, so it skips the schema
    * inference job that [[current]] pays on every read. */
  def read(spark: SparkSession, root: String, v: Long,
      schema: StructType): DataFrame =
    spark.read.schema(schema).parquet(s"$root/v$v")

  /** Write `df` as version `id` and garbage-collect superseded
    * versions. The caller must have already checked the replay guard
    * (`id > currentVersion`); `df` must not read from `root`'s current
    * version lazily unless it reads a DIFFERENT version directory than
    * it writes (always true here: reads v<last>, writes v<id>). */
  def commit(df: DataFrame, id: Long, root: String): Unit = {
    df.write.mode(SaveMode.Overwrite).parquet(s"$root/v$id")
    val fs = fsOf(df.sparkSession, root)
    fs.listStatus(new Path(root)).foreach { st =>
      st.getPath.getName match {
        case VersionDir(v) if v.toLong < id => fs.delete(st.getPath, true)
        case _ => ()
      }
    }
  }
}

/** Append-only committed-segment ledger — the state under the
  * `foreachBatch` sinks whose state only grows ([[StreamDedup]],
  * [[StreamDebounce]]).
  *
  * Each micro-batch appends one `seg<id>` directory whose rows carry
  * `batch_id = id`; like a [[VersionedState]] version, a segment only
  * exists once its `_SUCCESS` marker lands, so the applied batch id is
  * persisted atomically with the data. A redelivered id is detected by
  * `id <= watermark` and skipped; a writer that dies mid-segment
  * leaves no `_SUCCESS`, so readers ignore the partial directory and
  * the redelivery overwrites it. [[compactSegments]] folds segments
  * into `cmp<lo>_<hi>` generations (each covering every batch id in
  * [lo, hi]) without changing the ledger's rows, so segment count —
  * and with it per-batch parquet open cost — stays bounded.
  */
object SegmentLedger {

  private val SegDir = "^seg(\\d+)$".r
  private val CmpDir = "^cmp(\\d+)_(\\d+)$".r

  /** One ledger directory: a raw per-batch segment (`seg<id>`,
    * lo == hi) or a compacted generation (`cmp<lo>_<hi>`). */
  case class LedgerUnit(lo: Long, hi: Long, path: Path)

  /** One listing of a ledger root: its committed units, ascending by
    * range start. A sink takes one per batch and uses it for both the
    * replay guard and the read. */
  case class Listing(spark: SparkSession, units: Seq[LedgerUnit]) {
    /** Highest committed batch id — the replay-guard watermark (-1
      * before the first commit). */
    def watermark: Long = units.foldLeft(-1L)((m, u) => math.max(m, u.hi))

    /** Every committed row (None before the first commit). */
    def read: Option[DataFrame] =
      if (units.isEmpty) None
      else Some(spark.read.parquet(units.map(_.path.toString): _*))
  }

  /** Every segment or generation directory under `root`, committed or
    * not. */
  private def dirs(fs: FileSystem, root: String): Seq[LedgerUnit] =
    if (!fs.exists(new Path(root))) Seq.empty
    else fs.listStatus(new Path(root)).toSeq.flatMap { st =>
      st.getPath.getName match {
        case SegDir(id) => Some(LedgerUnit(id.toLong, id.toLong, st.getPath))
        case CmpDir(lo, hi) =>
          Some(LedgerUnit(lo.toLong, hi.toLong, st.getPath))
        case _ => None
      }
    }

  /** The committed units among `ds`, with any unit whose id range sits
    * inside another committed unit's range dropped: a crash between a
    * compaction commit and the covered-segment cleanup leaves both on
    * disk, and the committed compaction is the one source of truth. */
  private def live(fs: FileSystem, ds: Seq[LedgerUnit]): Seq[LedgerUnit] = {
    val all = ds.filter(u => VersionedState.committed(fs, u.path))
    all.filterNot(u => all.exists(v =>
      (v ne u) && v.lo <= u.lo && u.hi <= v.hi &&
        (v.hi - v.lo) > (u.hi - u.lo)))
      .sortBy(_.lo)
  }

  /** List `root` once: its committed, unmasked units. */
  def list(spark: SparkSession, root: String): Listing = {
    val fs = VersionedState.fsOf(spark, root)
    Listing(spark, live(fs, dirs(fs, root)))
  }

  /** Write `rows` stamped with `batch_id = id` as segment `id`. The
    * caller must have checked the replay guard (`id > watermark`);
    * `rows` may read the committed ledger, never `seg<id>` itself. */
  def append(rows: DataFrame, id: Long, root: String): Unit =
    rows.withColumn("batch_id", lit(id))
      .write.mode(SaveMode.Overwrite).parquet(s"$root/seg$id")

  /** Compact the ledger's units into bounded-count generations, using
    * [[graft.maint.Maintenance.compactionPlan]] on the ledger's own
    * manifest (one row per committed unit, sized in bytes): each plan
    * bin holding ≥ 2 units merges into one `cmp<lo>_<hi>` generation.
    * Rows are copied verbatim (`batch_id` kept per row), so the ledger
    * CONTENT is invariant — only the file layout changes.
    *
    * Crash-safe, watermark-monotone protocol: (1) write the merged
    * generation (its `_SUCCESS` is the commit), (2) only then delete
    * the covered inputs. A crash before (1) commits leaves an ignored
    * partial dir that the next run overwrites; a crash inside (2)
    * leaves covered units that [[list]] masks and the next run
    * deletes. At no point does the watermark regress, so a redelivered
    * batch id is rejected identically before, during, and after
    * compaction.
    *
    * Scale shape: the manifest is one row per unit (micro-batch count,
    * not corpus size — and bounded precisely by running this job), the
    * plan is collected driver-side at that bounded size, and each merge
    * is one read-write of its inputs' bytes. Returns the number of
    * generations written. */
  def compactSegments(spark: SparkSession, root: String,
      target: Long = graft.maint.Maintenance.TargetBytes): Int = {
    val fs = VersionedState.fsOf(spark, root)
    val ds = dirs(fs, root)
    val units = live(fs, ds)
    // masked leftovers from a prior interrupted cleanup go first
    ds.filter(d => !units.contains(d) &&
        units.exists(u => u.lo <= d.lo && d.hi <= u.hi))
      .foreach(d => fs.delete(d.path, true))
    if (units.size <= 1) return 0
    import spark.implicits._
    def bytes(u: LedgerUnit) = fs.listStatus(u.path).iterator
      .filter(_.isFile).map(_.getLen).sum
    val manifest = units.map(u => ("ledger", u.hi, bytes(u)))
      .toDF("part", "hi", "bytes")
    val bins = graft.maint.Maintenance
      .compactionPlan(manifest, "part", "hi", "bytes", target)
      .select(col("hi"), col("bin")).as[(Long, Long)].collect().toMap
    val byBin = units.groupBy(u => bins(u.hi)).values.filter(_.size >= 2)
    byBin.foreach { group =>
      val lo = group.map(_.lo).min
      val hi = group.map(_.hi).max
      spark.read.parquet(group.map(_.path.toString): _*)
        .write.mode(SaveMode.Overwrite).parquet(s"$root/cmp${lo}_$hi")
      // commit landed (_SUCCESS); covered inputs are now dead weight
      group.foreach(u => fs.delete(u.path, true))
    }
    byBin.size
  }
}
