package graft.perfbench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.execution.datasources.InsertIntoHadoopFsRelationCommand
import org.apache.spark.sql.functions._
import org.apache.spark.sql.util.QueryExecutionListener

import graft.extract.Extracts
import graft.load.Sinks
import graft.qc.Recon
import graft.transform.{JobConfig, Runner, Transform}

/** Rows, files and bytes of every successful file write (traced runs). */
final class WriteListener(tracer: Tracer) extends QueryExecutionListener {
  override def onSuccess(funcName: String, qe: QueryExecution,
      durationNs: Long): Unit =
    PlanStats.collectWithSubqueries(qe.executedPlan) {
      case w: DataWritingCommandExec => w.cmd
    }.foreach { cmd =>
      val m = cmd.metrics
      def v(k: String) = m.get(k).map(_.value).getOrElse(0L).toDouble
      // the month-partition append carries the whole extract
      val path = cmd match {
        case i: InsertIntoHadoopFsRelationCommand => i.outputPath.toString
        case _ => ""
      }
      if (path.contains("/history/"))
        tracer.add("extract.rows", v("numOutputRows"))
      tracer.add("load.rows_written", v("numOutputRows"))
      tracer.add("load.files_written", v("numFiles"))
      tracer.add("load.mb_written", v("numOutputBytes") / 1e6)
    }
  override def onFailure(funcName: String, qe: QueryExecution,
      exception: Exception): Unit = ()
}

/** Closed loop, one client: the monthly DP-Waterfall cycle for seed-chosen
  * as-of months. Each stage is one op: extract and transform build the
  * lazy job inputs, the two loads run them (a chunked month partition
  * plus an upsert into a target that persists across cycles), and three
  * Recon reports check before against after. */
final class EtlCycle(ctx: Ctx) extends Workload {
  private val months = ctx.strings("months")
  private val warmMonth = ctx.spec.get("warm_month").asText
  private val expMonths = ctx.expected.get("months")
  private val expYears = ctx.expected.get("years")
  import EtlCycle.pk
  private val root = s"${ctx.workDir}/etl"
  private var prev: Option[String] = None
  private val loaded = mutable.LinkedHashSet[String]()
  private val appendOps = mutable.Map[String, mutable.Buffer[Op]]()
  private val upsertOps = mutable.Buffer[Op]()
  private var cycleId = 0L
  private var failNext = false

  private def spark: SparkSession = ctx.spark
  private def hist(m: String) = s"$root/history/asof=$m"
  private def rows(m: String) = expMonths.get(m).get("rows").asLong
  private def year(m: String) = m.take(4).toInt

  private def mismatch(stage: String, got: Any, want: Any): Boolean = {
    ctx.fail(stage, s"got $got, want $want")
    false
  }

  private def cycle(month: String, timed: Boolean): Unit = {
    cycleId += 1
    val tr = ctx.tracer
    def stage(name: String)(body: => Boolean): Option[Op] =
      if (timed) Some(ctx.timed(name, cycleId)(body))
      else { try body catch { case e: Throwable => ctx.fail(name, e) }; None }
    var ext: (DataFrame, DataFrame) = null
    var fin: DataFrame = null
    val inject = failNext
    failNext = false
    stage("extract") {
      ext = tr.span("extract.build", cycleId)(
        EtlCycle.extract(spark, ctx.dataDir, month))
      true
    }
    stage("transform") {
      fin = tr.span("transform.build", cycleId)(
        EtlCycle.transform(spark, ctx.dataDir, ext, month))
      true
    }
    stage("load.append") {
      tr.span("load.write", cycleId)(
        Sinks.writeParquetChunked(fin, hist(month), 1000))
      true
    }.foreach(op => appendOps.getOrElseUpdate(month, mutable.Buffer()) += op)
    val firstLoad = !loaded.contains(month)
    loaded += month
    stage("load.upsert") {
      val n = tr.span("load.write", cycleId)(Sinks.deltaUpsertAppend(spark,
        spark.read.parquet(hist(month)), s"$root/target", pk))
      val want = if (firstLoad) rows(month) else 0L
      n == want || mismatch(s"load.upsert $month", n, want)
    }.foreach(upsertOps += _)
    prev.foreach { p =>
      stage("qc.cdc") {
        val keys = pk.filterNot(_ == "snapshot")
        val ops = tr.span("qc.report", cycleId)(Recon.snapshotCdc(
          spark.read.parquet(hist(p)).drop("snapshot"),
          spark.read.parquet(hist(month)).drop("snapshot"),
          keys, Seq("value")).groupBy("op").count().collect())
          .map(r => r.getString(0) -> r.getLong(1)).toMap
        val net = ops.getOrElse("insert", 0L) - ops.getOrElse("delete", 0L)
        net == rows(month) - rows(p) ||
          mismatch(s"qc.cdc $p->$month", net, rows(month) - rows(p))
      }
    }
    val want = expYears.get(year(month).toString)
    stage("qc.threshold") {
      val st = tr.span("qc.report", cycleId)(
        EtlCycle.thresholdCounts(spark, ctx.dataDir, year(month)))
      val fails = st.getOrElse("FAIL", 0L)
      tr.add("qc.fail_rows", fails)
      val exp = (want.get("qc_pass").asLong, want.get("qc_fail").asLong)
      (st.getOrElse("PASS", 0L), fails) == exp ||
        mismatch(s"qc.threshold $month", st, exp)
    }
    stage("qc.variance") {
      if (inject) throw new RuntimeException("injected failure")
      val got = tr.span("qc.report", cycleId)(
        EtlCycle.variance(spark, ctx.dataDir, year(month)))
      val exp = (want.get("variance_rows").asLong, want.get("variance_new_n").asLong)
      got == exp || mismatch(s"qc.variance $month", got, exp)
    }
    tr.add("etl.cycles", 1)
    prev = Some(month)
  }

  def setup(ctx: Ctx): Unit = {
    if (ctx.tracer.enabled)
      spark.listenerManager.register(new WriteListener(ctx.tracer))
    Tiers.build(ctx, Seq("star.siop", "star.calendar"))
  }

  override def warmUp(ctx: Ctx): Unit = cycle(warmMonth, timed = false)

  def window(ctx: Ctx): Unit = {
    val it = months.iterator
    failNext = ctx.injectFail
    while (ctx.nowMs() < ctx.seconds * 1000 || ctx.ops.count(_.ok) < ctx.minOps) {
      require(it.hasNext, "etl_cycle: plan has too few months")
      cycle(it.next(), timed = true)
    }
  }

  /** Every loaded month partition and the upsert target hold exactly the
    * stored row counts and value sums. */
  def check(ctx: Ctx): Unit = {
    def countSum(path: String): (Long, Double) = try {
      val r = spark.read.parquet(path)
        .agg(count(lit(1)), coalesce(sum(col("value")), lit(0.0))).collect().head
      (r.getLong(0), r.getDouble(1))
    } catch { case e: Throwable => ctx.fail(s"read $path", e); (-1L, 0.0) }
    def same(a: (Long, Double), b: (Long, Double)) =
      a._1 == b._1 && math.abs(a._2 - b._2) <= 1e-9 * math.max(1.0, math.abs(b._2))
    def want(m: String) = (rows(m), expMonths.get(m).get("value_sum").asDouble)
    loaded.foreach { m =>
      val got = countSum(hist(m))
      if (!same(got, want(m))) {
        mismatch(s"history $m", got, want(m))
        appendOps.getOrElse(m, Nil).foreach(_.ok = false)
      }
    }
    val total = loaded.toSeq.map(want).foldLeft((0L, 0.0)) {
      case ((n, s), (a, b)) => (n + a, s + b)
    }
    val got = countSum(s"$root/target")
    if (!same(got, total)) {
      mismatch("target", got, total)
      upsertOps.foreach(_.ok = false)
    }
  }
}

/** The cycle's engine calls, shared with the recorder of expected values. */
object EtlCycle {
  val pk: Seq[String] = Seq("source", "snapshot", "material",
    "sales_organization", "country", "attribute", "bu")
  private val fcstJob = JobConfig(label = "FCST",
    extract = (s, d) => Extracts.demandWindow(s, d, 0, Some(6)),
    valueCol = "consensus")

  /** The window extracts of the two jobs for an as-of month (lazy). */
  def extract(spark: SparkSession, dir: String, month: String)
      : (DataFrame, DataFrame) =
    (Extracts.actDemandBlank(spark, dir, month),
      Extracts.demandWindow(spark, dir, 0, Some(6), month))

  /** Both jobs transformed to the canonical 8-column schema (lazy). */
  def transform(spark: SparkSession, dir: String, ext: (DataFrame, DataFrame),
      month: String): DataFrame = {
    val mapping = Transform.salesOrgMapping(spark, dir)
    Runner.transformToFinal(ext._1, Runner.jobs("act_blank"), Some(mapping), month)
      .unionByName(Runner.transformToFinal(ext._2, fcstJob, None, month))
  }

  /** Threshold-QC verdict counts, this year against the one before. */
  def thresholdCounts(spark: SparkSession, dir: String, year: Int)
      : Map[String, Long] =
    Recon.thresholdQc(spark, dir, year, year - 1)
      .groupBy("status").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap

  /** (rows, summed new-year order count) of the variance report. */
  def variance(spark: SparkSession, dir: String, year: Int): (Long, Long) = {
    val r = Recon.varianceReport(spark, dir, year, year - 1)
      .agg(count(lit(1)), sum(col("new_n"))).collect().head
    (r.getLong(0), r.getLong(1))
  }
}
