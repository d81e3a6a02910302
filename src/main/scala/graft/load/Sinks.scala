package graft.load

import graft.core.SessionCache.Checkpointable
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** Sink-side operators (SURVEY §2.1 S10/S12/S13): CSV sink, chunked
  * append, and the delta-upsert write path. The reference's JDBC sinks
  * (`mySQLClass.writeToDB`) map to `df.write.jdbc` with a batchsize —
  * modeled here on files since the test environment has no database;
  * the delta semantics (J5) are engine-side and identical either way.
  */
object Sinks {

  /** S10: CSV sink with header (reference `to_csv(index=False)`). */
  def writeCsv(df: DataFrame, path: String): Unit =
    df.write.option("header", "true").mode(SaveMode.Overwrite).csv(path)

  /** S12's chunking knob: bound rows per output file (the reference's
    * 5000-row insert chunks; for files this is `maxRecordsPerFile`). */
  def writeParquetChunked(df: DataFrame, path: String,
      maxRecordsPerFile: Int = 5000): Unit =
    df.write.option("maxRecordsPerFile", maxRecordsPerFile.toString)
      .mode(SaveMode.Overwrite).parquet(path)

  /** Cluster-layout writer: hive-partition by the given columns and
    * sort rows within each task before writing. The leading repartition
    * on the partition columns means each output partition value is
    * written by ONE task — without it every task writes a file into
    * every partition directory (tasks × partitions small files, the
    * classic 100 TB write pathology); the sort gives parquet row-group
    * min/max stats on the sort keys, so later scans prune row groups on
    * those predicates and partition directories on the partition keys.
    * Skewed partition values (one giant language) would make the
    * repartition one-task-hot; the standard composition is salting the
    * repartition key and keeping partitionBy unchanged. */
  def writePartitionedSorted(df: DataFrame, path: String,
      partCols: Seq[String], sortCols: Seq[String]): Unit =
    df.repartition(partCols.map(col): _*)
      .sortWithinPartitions((partCols ++ sortCols).map(col): _*)
      .write.partitionBy(partCols: _*)
      .mode(SaveMode.Overwrite).parquet(path)

  /** Single-pass write metrics: attach `Observation` counters to the
    * frame and write it — the QC numbers (row count, sums, null
    * counts) come out of the SAME job that wrote the data, not a
    * second scan. At 100 TB the difference between "write, then
    * re-read to count" and this is an entire extra pass over the
    * table; `observe` aggregates per-task and merges on the driver at
    * O(metrics) cost. Returns the metric row as a name→value map. */
  def writeParquetObserved(df: DataFrame, path: String,
      metrics: Seq[org.apache.spark.sql.Column]): Map[String, Any] = {
    require(metrics.nonEmpty, "writeParquetObserved: no metrics given")
    val obs = org.apache.spark.sql.Observation()
    df.observe(obs, metrics.head, metrics.tail: _*)
      .write.mode(SaveMode.Overwrite).parquet(path)
    obs.get
  }

  /** S15: truncate — keep the table's schema, drop every row
    * (reference `mySQLClass.py:107-115`; its bug — truncating the
    * literal name "table_name" — is deliberately not reproduced,
    * SURVEY §2.1 S15). */
  def truncate(spark: SparkSession, targetPath: String): Unit = {
    val empty = spark.read.parquet(targetPath).limit(0)
    val tmp = targetPath + "__rewrite"
    empty.write.mode(SaveMode.Overwrite).parquet(tmp)
    spark.read.parquet(tmp).write.mode(SaveMode.Overwrite).parquet(targetPath)
    val tmpPath = new org.apache.hadoop.fs.Path(tmp)
    tmpPath.getFileSystem(spark.sessionState.newHadoopConf())
      .delete(tmpPath, true)
  }

  /** S14: DELETE-with-predicate (reference `mySQLClass.py:237-257`) as
    * the anti-predicate rewrite of the target table: keep rows NOT
    * matching, overwrite. Null-safe: rows where the predicate is NULL
    * are kept (SQL DELETE only removes rows where the predicate is
    * true). Returns the number of rows deleted.
    *
    * NOT atomic: a crash between the tmp write and the target
    * overwrite leaves the data only in `<target>__rewrite` (recoverable
    * by hand). The cluster-scale form of both this and the upsert below
    * is a transactional table format (Delta/Iceberg `DELETE`/`MERGE`
    * with deletion vectors); plain parquet can only do
    * write-tmp-then-overwrite. */
  def deleteWhere(spark: SparkSession, targetPath: String,
      predicate: org.apache.spark.sql.Column): Long = {
    val target = spark.read.parquet(targetPath)
    val keep = target.filter(!coalesce(predicate, lit(false)))
    val before = target.count()
    val kept = keep.count()
    // overwrite requires materializing first (can't read+overwrite lazily)
    val tmp = targetPath + "__rewrite"
    keep.write.mode(SaveMode.Overwrite).parquet(tmp)
    spark.read.parquet(tmp).write.mode(SaveMode.Overwrite).parquet(targetPath)
    val tmpPath = new org.apache.hadoop.fs.Path(tmp)
    tmpPath.getFileSystem(spark.sessionState.newHadoopConf())
      .delete(tmpPath, true)
    before - kept
  }

  /** S13 at partition granularity — the `replaceWhere`-shaped MERGE a
    * 100 TB hive-partitioned table actually needs: only the partitions
    * PRESENT IN the incoming delta are read and rewritten. Existing
    * rows of an affected partition survive unless the delta supersedes
    * their pk (delta wins); rows of untouched partitions are never
    * read, let alone rewritten — the cost is |affected partitions| +
    * |delta|, not |table|. Dynamic partition overwrite does the
    * selective directory swap; the merged content is materialized
    * first (`localCheckpoint`) because a lazy plan cannot read the
    * partitions it is about to overwrite. The delta's partition values
    * are collected as a BOUNDED literal set (|touched partitions| —
    * the replaceWhere predicate every MERGE engine computes on the
    * driver) and applied as a static `isin` filter, so the pruning
    * reaches the reader as a PartitionFilter and untouched directories
    * are never read; the r16 semi-join spelling left the full-table
    * scan in the plan whenever runtime DPP declined to fire. Returns
    * the number of rows written. On a cluster this is Delta/Iceberg
    * MERGE with `replaceWhere`; plain parquet reproduces the semantics
    * at partition granularity (same tiering note as
    * [[deltaUpsertAppend]]). */
  def partitionedUpsert(spark: SparkSession, newDf: DataFrame,
      targetPath: String, partCol: String, pk: Seq[String]): Long = {
    val pType = newDf.schema(partCol).dataType
    // the delta feeds three consumers (the partition-value collect,
    // the pk anti-join, the merged union) — persist for the merge span
    val delta = graft.core.SessionCache.transient(newDf)
    val raw = spark.read.parquet(targetPath)
    // collect the affected values ALREADY CAST to the reader's
    // (inferred) partition type so the isin literals match the column
    // and the filter prunes directories instead of coercing the column
    val tType = raw.schema(partCol).dataType
    val pairs = delta
      .select(col(partCol), col(partCol).cast(tType),
        col(partCol).cast("string").cast(tType))
      .distinct().collect()
    // the reader parses a partition's value from its directory name,
    // the delta value's string form; a cast that yields NULL or another
    // value (float 0.1 is the double 0.10000000149, the directory reads
    // 0.1) leaves that partition out of the pruning set, so its
    // survivors would never be read while dynamic overwrite still
    // replaces the directory
    val lossy = pairs.filter(r => !r.isNullAt(0) &&
      (r.isNullAt(1) || !java.util.Objects.equals(r.get(1), r.get(2))))
    require(lossy.isEmpty, s"partitionedUpsert: delta $partCol value(s) " +
      s"${lossy.map(_.get(0)).mkString(", ")} do not cast losslessly to " +
      s"the target's partition type ${tType.simpleString}; upserting them " +
      "would drop the surviving rows of their partitions")
    val affected = pairs.map(_.get(1)).distinct
    // partition-column type inference would retype e.g. "199601" to
    // INT; cast back to the delta's declared type so the joins align
    val target = raw.filter(col(partCol).isin(affected.toIndexedSeq: _*))
      .withColumn(partCol, col(partCol).cast(pType))
    val survivors = target
      .join(delta.select(pk.map(col): _*), pk, "left_anti")
      .select(delta.columns.toIndexedSeq.map(col): _*)
    val merged = survivors.unionByName(delta).trackedCheckpoint()
    merged.write.mode(SaveMode.Overwrite)
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy(partCol).parquet(targetPath)
    merged.count()
  }

  /** S13: delta upsert against a parquet target (reference
    * `mySQLClass.py:148-220`): read the target, keep only new rows
    * whose value columns differ (or whose PK is absent), append just
    * those. Returns the number of rows appended. On a cluster this is
    * Delta Lake `MERGE`; the join+filter+append reproduces the
    * reference's exact semantics on plain parquet. */
  def deltaUpsertAppend(spark: SparkSession, newDf: DataFrame,
      targetPath: String, pk: Seq[String]): Long = {
    // ONLY a missing target means "first load": any other read failure
    // (corrupt file, permissions, transient FS error) must propagate —
    // treating it as absence would append the full newDf and duplicate
    // every existing row
    val target =
      try Some(spark.read.parquet(targetPath)) catch {
        case e: org.apache.spark.sql.AnalysisException
            if Option(e.getCondition).exists(_.contains("PATH_NOT_FOUND")) =>
          None
      }
    val delta = target match {
      case None => newDf
      case Some(db) =>
        val valueCols = newDf.columns.filterNot(pk.contains)
        if (valueCols.isEmpty) newDf.join(db, pk, "left_anti")
        else {
          // existence marker: a new row whose PK is absent must append
          // even when all its value columns are NULL (the per-column
          // difference predicate alone evaluates to NULL for such rows
          // and would silently drop them)
          val renamed = valueCols.foldLeft(db)((d, c) =>
            d.withColumnRenamed(c, s"${c}__db"))
            .withColumn("__exists", lit(1))
          newDf.join(renamed, pk, "left")
            .filter(col("__exists").isNull ||
              valueCols.map(c =>
                col(s"${c}__db").isNull =!= col(c).isNull ||
                  col(c) =!= col(s"${c}__db")).reduce(_ || _))
            .select(newDf.columns.toIndexedSeq.map(col): _*)
        }
    }
    val n = delta.count()
    if (n > 0) delta.write.mode(SaveMode.Append).parquet(targetPath)
    n
  }

  /** Bucketed external table write — the storage half of the
    * co-located join story a 100 TB star schema lives on: both join
    * sides hash-bucketed on the join key with the SAME bucket count
    * means the scan itself IS the join's required distribution, and
    * the equi-join plans with NO Exchange on either side
    * (`BucketedJoinSpec` asserts it). On a cluster this is
    * `CLUSTERED BY ... INTO n BUCKETS` in the metastore / Iceberg's
    * bucket partition transform; locally it writes through the
    * session catalog with an explicit external path. `sortBy` on the
    * bucket key additionally lets the sort-merge join skip its sort.
    * One-time write cost buys every subsequent join's shuffle — the
    * standard trade for a fact table joined daily. */
  def writeBucketedTable(df: DataFrame, table: String, path: String,
      bucketCol: String, nBuckets: Int): Unit =
    df.write.mode(SaveMode.Overwrite)
      .option("path", path)
      .bucketBy(nBuckets, bucketCol)
      .sortBy(bucketCol)
      .format("parquet")
      .saveAsTable(table)
}
