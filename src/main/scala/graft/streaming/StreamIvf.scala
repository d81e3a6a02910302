package graft.streaming

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.sql.streaming.DataStreamWriter

/** X316 streaming leg: the incremental IVF index driven by a live
  * arrival stream — [[graft.similarity.Similarity.ivfIncremental]] is
  * the two-step batch mirror (oracle-green); this is the `foreachBatch`
  * sink a continuously-growing corpus actually runs, with the
  * assignment table persisted through [[VersionedState]] (the X68
  * commit pattern: applied batch id commits atomically with the data,
  * a redelivered batch is a no-op).
  *
  * The quantizer is FROZEN: trained once on the seed corpus
  * ([[seed]]), committed under `root/quantizer`, and READ by every
  * micro-batch — an arrival only computes its own nCells distances
  * and appends `(vec_id, cell)` rows. Because assignment is per-row
  * against the same centers, the stored index after any prefix of
  * batches ≡ assigning those vectors in one shot
  * ([[StreamIvfSpec]] proves final state ≡ the one-shot assignment
  * of everything fed).
  *
  * Scale: per batch \|batch\|·nCells integer-quantized distances, one
  * append-merge at index grain — never a corpus re-scan. */
object StreamIvf {

  /** Highest committed batch id (see [[VersionedState.currentVersion]]). */
  def currentVersion(spark: SparkSession, root: String): Long =
    VersionedState.currentVersion(spark, root)

  /** The current stored `(vec_id, cell)` index (None before seeding). */
  def current(spark: SparkSession, root: String): Option[DataFrame] =
    VersionedState.current(spark, root)

  private def qRoot(root: String) = s"$root/quantizer"

  /** What [[seed]] commits under [[qRoot]]: `(cell, dim, c_e6)`. */
  private val QuantizerSchema = StructType(Seq(
    StructField("cell", IntegerType), StructField("dim", IntegerType),
    StructField("c_e6", LongType)))

  /** Train the frozen quantizer on the seed corpus and commit it plus
    * the seed corpus' own assignments as version 0. Call once before
    * starting the stream; a no-op if the quantizer already exists. */
  def seed(seedEmb: DataFrame, root: String, nCells: Int = 16): Unit = {
    val spark = seedEmb.sparkSession
    import spark.implicits._
    if (VersionedState.currentVersion(spark, qRoot(root)) >= 0L) return
    val c = graft.similarity.Similarity.lloydCentersE6(seedEmb, nCells)
    VersionedState.commit(
      c.zipWithIndex.flatMap { case (row, cell) =>
        row.zipWithIndex.map { case (v, dim) => (cell, dim, v) }
      }.toSeq.toDF("cell", "dim", "c_e6"), 0L, qRoot(root))
    VersionedState.commit(assign(seedEmb, root), 0L, root)
  }

  /** Stored-quantizer read-back (bounded: nCells·dim rows). */
  private def centersOf(spark: SparkSession, root: String)
      : Array[Array[Double]] = {
    val v = VersionedState.currentVersion(spark, qRoot(root))
    if (v < 0) throw new IllegalStateException(
      s"StreamIvf: no committed quantizer under ${qRoot(root)} — " +
        "call seed() before streaming arrivals")
    val rows = VersionedState.read(spark, qRoot(root), v, QuantizerSchema)
      .collect()
    val dim = rows.map(_.getInt(1)).max + 1
    val out = Array.ofDim[Long](rows.map(_.getInt(0)).max + 1, dim)
    rows.foreach(r => out(r.getInt(0))(r.getInt(1)) = r.getLong(2))
    out.map(_.map(_.toDouble / 1000000.0))
  }

  /** Top-1 cell assignment of `emb` against the stored quantizer. */
  def assign(emb: DataFrame, root: String): DataFrame = {
    val centers = centersOf(emb.sparkSession, root)
    graft.similarity.Similarity.assignCells(emb, centers)
  }

  /** Merge one arrival micro-batch into the stored index. Arrival
    * batch `id` commits as index version `id + 1` — version 0 is the
    * [[seed]] corpus, so the stream's own batch 0 lands on v1 and the
    * replay guard stays monotone. Returns false (and changes nothing)
    * when the version was already committed. Public so tests drive
    * redelivery directly. */
  def applyBatch(batch: DataFrame, id: Long, root: String): Boolean = {
    val spark = batch.sparkSession
    val last = VersionedState.currentVersion(spark, root)
    if (id + 1 <= last) return false
    val arrivals = assign(batch, root)
    val merged =
      if (last < 0) arrivals
      else VersionedState.read(spark, root, last, arrivals.schema)
        .unionByName(arrivals)
    VersionedState.commit(merged, id + 1, root)
    true
  }

  /** The stream writer: embeddings (vec_id, embedding) → stored
    * `(vec_id, cell)` index kept current per micro-batch. */
  def sink(emb: DataFrame, root: String): DataStreamWriter[Row] =
    emb.writeStream.foreachBatch(
      (batch: org.apache.spark.sql.Dataset[Row], id: Long) => {
        applyBatch(batch, id, root); ()
      })
}
