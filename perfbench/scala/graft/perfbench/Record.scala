package graft.perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.functions._

/** Computes the outputs the workloads check against: per-query row count
  * and checksum (kept only when three runs agree), per-month loaded rows
  * and value sum, per-year Recon verdict counts. `run.py --record` runs
  * it in two processes and stores what both agree on. */
object Record {
  def main(args: Array[String]): Unit = {
    val spec = new ObjectMapper().readTree(
      Files.readString(Paths.get(args(0)), StandardCharsets.UTF_8))
    val ctx = new Ctx(spec, new Tracer(false, System.nanoTime()))
    val spark = Main.newSession(ctx)
    ctx.spark = spark
    val dir = ctx.dataDir
    def list(k: String) = spec.get(k).elements.asScala.map(_.asText).toSeq

    val queries = list("queries").flatMap { name =>
      val runs = (1 to 3).map { _ =>
        val r = Checksum.read(Checksum.frame(
          graft.SparkEntry.queries(name)(spark, dir)).collect().head)
        graft.core.CacheBay.drain()
        graft.core.CheckpointBay.drain()
        r
      }
      if (runs.distinct.size == 1) Some(name -> Json.obj(Seq(
        "rows" -> runs.head._1.toString, "checksum" -> Json.str(runs.head._2))))
      else { System.err.println(s"[record] unstable: $name $runs"); None }
    }
    val months = list("months").map { m =>
      val fin = EtlCycle.transform(spark, dir, EtlCycle.extract(spark, dir, m), m)
      val r = fin.agg(count(lit(1)), sum(col("value")),
        count_distinct(EtlCycle.pk.map(col).head, EtlCycle.pk.tail.map(col): _*))
        .collect().head
      require(r.getLong(0) == r.getLong(2), s"month $m: upsert key not unique")
      m -> Json.obj(Seq("rows" -> r.getLong(0).toString,
        "value_sum" -> Json.num(r.getDouble(1))))
    }
    val years = list("years").map { y =>
      val st = EtlCycle.thresholdCounts(spark, dir, y.toInt)
      val (n, newN) = EtlCycle.variance(spark, dir, y.toInt)
      y -> Json.obj(Seq("qc_pass" -> st.getOrElse("PASS", 0L).toString,
        "qc_fail" -> st.getOrElse("FAIL", 0L).toString,
        "variance_rows" -> n.toString, "variance_new_n" -> newN.toString))
    }
    Main.stopSession(ctx)
    Files.writeString(Paths.get(spec.get("out").asText), Json.obj(Seq(
      "queries" -> Json.obj(queries),
      "etl" -> Json.obj(Seq("months" -> Json.obj(months),
        "years" -> Json.obj(years))))), StandardCharsets.UTF_8)
  }
}
