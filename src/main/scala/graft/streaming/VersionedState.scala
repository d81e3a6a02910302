package graft.streaming

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.types.StructType

/** Versioned parquet state with an atomic commit point — the shared
  * persistence primitive under the `foreachBatch` sinks
  * ([[StreamRollup]], [[StreamCdc]]).
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

  private def fsOf(spark: SparkSession, root: String) =
    new Path(root).getFileSystem(spark.sessionState.newHadoopConf())

  /** Highest committed (has `_SUCCESS`) version id under `root`, or -1
    * when none exists — the replay-guard watermark AND the read
    * pointer. */
  def currentVersion(spark: SparkSession, root: String): Long = {
    val fs = fsOf(spark, root)
    if (!fs.exists(new Path(root))) return -1L
    fs.listStatus(new Path(root)).iterator.flatMap { st =>
      st.getPath.getName match {
        case VersionDir(id)
            if fs.exists(new Path(st.getPath, "_SUCCESS")) => Some(id.toLong)
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
