package graft.operators

import org.apache.spark.sql.{DataFrame, Encoders, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructType}

/** Distributed prefix scan — a GLOBAL running aggregate (sum or max)
  * over a total order, without the single-task trap.
  *
  * The naive spelling (`SUM(v) OVER (ORDER BY k ROWS UNBOUNDED
  * PRECEDING)` with no PARTITION BY) is correct and unusable at scale:
  * Spark plans an empty-key window, which moves EVERY row into one
  * task. This operator is the classic two-phase scan instead:
  *
  *  1. range-partition by the order key and sort within partitions —
  *     one linear shuffle, all cores busy;
  *  2. one pass per partition accumulates the local running value
  *     (genuine per-partition sequential state — the one shape
  *     `mapPartitions` exists for; a window over the partition id
  *     would re-shuffle the full frame a second time for nothing);
  *  3. the per-partition totals (≤ numPartitions rows — a BOUNDED
  *     driver collect, independent of data size) combine into
  *     exclusive per-partition offsets, broadcast back, and add in.
  *
  * Exactness: values are LONG (integer accumulation is associative, so
  * partition boundaries cannot change results — the same reason the
  * repo's windowed sums accumulate cents, not doubles; a double scan
  * would make the output depend on where ranges fall). The caller's
  * order columns must form a UNIQUE total order — with ties, which
  * tied row sees which running value is boundary-dependent. Both
  * inclusive and exclusive (strictly-before) columns emit in one pass;
  * the exclusive form is what order-sensitive algorithms (skyline
  * domination, "rank of first exceed") actually need.
  *
  * The range partitioner samples the frame to place boundaries; the
  * partitioned frame is persisted ([[graft.core.SessionCache.transient]])
  * so the totals pass and the scan pass read the SAME materialized
  * partitioning.
  */
object PrefixScan {

  /** op = "sum" | "max". Appends `outIncl` (running value through the
    * current row) and `outExcl` (running value strictly before it;
    * 0 / Long.MinValue at the global first row). */
  def prefixAgg(df: DataFrame, order: Seq[String], value: String,
      op: String, outIncl: String, outExcl: String,
      numParts: Int = 0): DataFrame = {
    require(op == "sum" || op == "max", s"unsupported scan op: $op")
    val vIdx = df.schema.fieldIndex(value)
    require(df.schema(vIdx).dataType == LongType,
      s"prefix scan value column `$value` must be LONG (integer " +
        "accumulation is associative; doubles would make results " +
        "depend on partition boundaries)")
    val identity = if (op == "sum") 0L else Long.MinValue
    def combine(a: Long, b: Long): Long =
      if (op == "sum") a + b else math.max(a, b)

    val spark = df.sparkSession
    val parts = if (numParts > 0) numParts
      else spark.sparkContext.defaultParallelism
    val oc = order.map(col)
    val ranged = graft.core.SessionCache.transient(
      df.repartitionByRange(parts, oc: _*)
        .withColumn("_pid", spark_partition_id()))
    // phase 2: per-partition sequential scan (sorted within partition)
    val outSchema = new StructType(ranged.schema.fields)
      .add(outIncl, LongType).add(outExcl, LongType)
    val enc = Encoders.row(outSchema)
    val local = ranged.sortWithinPartitions(oc: _*)
      .mapPartitions { it =>
        var acc = identity
        it.map { r =>
          val excl = acc
          acc = combine(acc, r.getLong(vIdx))
          Row.fromSeq(r.toSeq :+ acc :+ excl)
        }
      }(enc)
    // phase 3: bounded collect of per-partition totals -> exclusive
    // offsets (running combine over pid order), broadcast-joined back
    val totalAgg = if (op == "sum") sum(col(value)) else max(col(value))
    val totals = ranged.groupBy(col("_pid"))
      .agg(totalAgg.cast("long").as("_t"))
      .collect().map(r => (r.getInt(0), r.getLong(1))).sortBy(_._1)
    // empty partitions emit no totals row and no data row — skipping
    // them in the running combine is the identity contribution anyway
    val offsets = totals.map(_._1)
      .zip(totals.map(_._2).scanLeft(identity)(combine).init)
    import spark.implicits._
    val offDf = offsets.toSeq.toDF("_pid", "_off")
    def merged(c: org.apache.spark.sql.Column) =
      if (op == "sum") c + col("_off") else greatest(c, col("_off"))
    local.join(broadcast(offDf), Seq("_pid"))
      .withColumn(outIncl, merged(col(outIncl)))
      .withColumn(outExcl, merged(col(outExcl)))
      .drop("_pid", "_off")
  }

  /** Global running total of a LONG column. */
  def prefixSum(df: DataFrame, order: Seq[String], value: String,
      out: String, numParts: Int = 0): DataFrame =
    prefixAgg(df, order, value, "sum", out, out + "_excl", numParts)
      .drop(out + "_excl")
}
