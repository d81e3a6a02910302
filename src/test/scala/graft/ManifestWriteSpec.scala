package graft

import java.nio.file.Files
import org.apache.spark.sql.functions._
import graft.pipeline.Pipeline

class ManifestWriteSpec extends SparkSpec {
  import spark.implicits._

  test("writeManifestShards: the written shards re-read equal to the " +
    "lazy manifest plan, the observed metrics match the written " +
    "table, and the X82 compaction planner bins the written files") {
    val docs = graft.core.Tables(spark, SfDir, "documents")
    val out = Files.createTempDirectory("graft_manifest").toString +
      "/shards"
    val metrics = Pipeline.writeManifestShards(docs, out)
    graft.core.SessionCache.endQuery()

    // 1. round-trip equality: partition column comes back as the
    // directory value (int) — cast before comparing
    val cols = Seq("shard", "seq", "doc_id", "rank", "n_tokens",
      "tok_start", "tok_end")
    val written = spark.read.parquet(out)
      .select(cols.map(c => col(c).cast("long").as(c)): _*)
    val plan = Pipeline.pretrainManifest(docs)
      .select(cols.map(c => col(c).cast("long").as(c)): _*)
    assert(written.exceptAll(plan).count() == 0 &&
      plan.exceptAll(written).count() == 0,
      "written shards diverge from the lazy manifest plan")
    graft.core.SessionCache.endQuery()

    // 2. metrics-vs-written parity: the observe() numbers came from
    // the WRITE job, the right side from an independent re-read
    val w = written.agg(
      count(lit(1)).cast("long"),
      sum(col("n_tokens")).cast("long"),
      sum(col("tok_end") - col("tok_start")).cast("long"),
      max(col("shard")).cast("long"))
      .as[(Long, Long, Long, Long)].head()
    assert(metrics("n_rows") == w._1, s"n_rows: $metrics vs $w")
    assert(metrics("n_tokens") == w._2, s"n_tokens: $metrics vs $w")
    assert(metrics("span_tokens") == w._3, s"span_tokens: $metrics vs $w")
    assert(metrics("max_shard") == w._4, s"max_shard: $metrics vs $w")

    // 3. one file per shard directory (the repartition(shard)
    // contract — no tasks × shards small-file explosion), and the
    // X82 compaction planner accepts the written file manifest
    val fs = new java.io.File(out).listFiles()
      .filter(d => d.isDirectory && d.getName.startsWith("shard="))
      .flatMap { d =>
        val parts = d.listFiles().filter(_.getName.endsWith(".parquet"))
        parts.map(f =>
          (d.getName.stripPrefix("shard=").toLong, f.getName,
            f.length()))
      }.toSeq
    assert(fs.nonEmpty, "no shard files written")
    assert(fs.groupBy(_._1).forall(_._2.sizeIs == 1),
      s"a shard directory holds more than one file: $fs")
    val bins = graft.maint.Maintenance.compactionPlan(
      fs.toDF("shard", "file", "bytes"),
      partCol = "shard", fileCol = "file", sizeCol = "bytes")
      .as[(Long, String, Long, Long)].collect()
    assert(bins.length == fs.length && bins.forall(_._4 >= 0L),
      "compaction plan must bin every written file deterministically")
  }
}
