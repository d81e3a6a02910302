package graft.perfbench

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Order-insensitive result checksum over every column of every row.
  * Doubles are compared at 10 significant digits and nested values by
  * their JSON text, so summation order inside Spark does not leak in. */
object Checksum {
  def frame(df: DataFrame): DataFrame = {
    val named = df.toDF(df.columns.indices.map(i => s"c$i"): _*)
    val cols = named.schema.fields.toSeq.map { f =>
      f.dataType match {
        case DoubleType | FloatType => format_string("%.10g", col(f.name))
        case _: MapType | _: ArrayType | _: StructType => to_json(col(f.name))
        case _ => col(f.name)
      }
    }
    named.select(xxhash64(cols: _*).as("h"))
      .agg(count(lit(1)).as("n"), sum(col("h").cast("decimal(38,0)")).as("h"))
  }

  /** (rows, checksum) from a one-row `frame` result. */
  def read(r: org.apache.spark.sql.Row): (Long, String) =
    (r.getLong(0), if (r.isNullAt(1)) "0" else r.getDecimal(1).toPlainString)
}

/** The session tiers registry queries share, as `graft.Bench` prices
  * them. Each builder materializes its tier and returns a row count. */
object Tiers {
  val builders: Map[String, (SparkSession, String) => Long] = Map(
    "star.siop" -> ((s, d) => graft.core.Star.siop(s, d).count()),
    "star.calendar" -> ((s, d) => graft.core.Star.calendar(s, d).count()),
    "dedup.shingles" -> ((s, d) => graft.dedup.Dedup.sharedShingles(s, d).count()),
    "pipe.quality" ->
      ((s, d) => graft.pipeline.Pipeline.sharedQualityScored(s, d).count()),
    "sessions" -> ((s, d) => graft.operators.Sessionize.sharedSessions(s, d).count()))

  /** Build the named tiers, one `core.tier` span each. */
  def build(ctx: Ctx, names: Seq[String]): Unit = {
    val t0 = System.nanoTime()
    names.foreach { n =>
      ctx.tracer.span("core.tier", -1)(builders(n)(ctx.spark, ctx.dataDir))
    }
    val ms = (System.nanoTime() - t0) / 1e6
    ctx.tracer.add("core.tier_build_ms", ms)
    ctx.tracer.add("core.tiers_built", names.size)
    System.err.println(f"[perfbench] tiers built in $ms%.0f ms")
  }
}

/** Closed loop, one client: registry queries in a seed-shuffled order
  * per pass, each built and fully materialized into a checksum that is
  * compared with the stored value. */
final class QueryMix(ctx: Ctx) extends Workload {
  private val passes: Seq[Seq[String]] = ctx.spec.get("passes").elements
    .asScala.map(_.elements.asScala.map(_.asText).toSeq).toSeq
  private val expected = ctx.expected.get("queries")
  private val queries = graft.SparkEntry.queries
  private var opId = 0L
  private var maxCheckpoints = 0

  private def runQuery(name: String, inject: Boolean = false): Boolean = {
    opId += 1
    val tr = ctx.tracer
    val fn: (SparkSession, String) => DataFrame =
      if (inject) (_, _) => throw new RuntimeException("injected failure")
      else queries(name)
    val jobs0 = if (tr.enabled) { ctx.drainListeners(); jobCount } else 0.0
    val df = tr.span("registry.build", opId)(fn(ctx.spark, ctx.dataDir))
    if (tr.enabled) {
      ctx.drainListeners()
      tr.add("registry.build_jobs", jobCount - jobs0)
    }
    val cs = Checksum.frame(df)
    if (tr.enabled) tr.span("plan", opId)(cs.queryExecution.executedPlan)
    val row = tr.span("exec", opId)(cs.collect().head)
    if (tr.enabled) recordPlan(cs)
    maxCheckpoints = maxCheckpoints.max(graft.core.CheckpointBay.liveCount)
    graft.core.CacheBay.drain()
    graft.core.CheckpointBay.drain()
    val (n, h) = Checksum.read(row)
    val want = expected.get(name)
    val ok = want != null && want.get("rows").asLong == n &&
      want.get("checksum").asText == h
    if (!ok) ctx.fail(name, s"checksum mismatch: rows=$n checksum=$h")
    ok
  }

  private def jobCount: Double = ctx.exec.values.getOrElse("exec.jobs", 0.0)

  private def recordPlan(cs: DataFrame): Unit = {
    val qe = cs.queryExecution
    val phases = qe.tracker.phases
    Seq("analysis", "optimization", "planning").foreach { p =>
      phases.get(p).foreach(s => ctx.tracer.add(s"plan.${p}_ms", s.durationMs))
    }
    val rules = qe.tracker.rules
    Seq("RangeJoinRewrite", "SaltedJoinRewrite").foreach { r =>
      val ns = rules.get(s"graft.plans.$r").map(_.totalTimeNs).getOrElse(0L)
      ctx.tracer.add(s"plan.rule_ms.$r", ns / 1e6)
    }
    PlanStats.of(qe.executedPlan).foreach { case (k, v) => ctx.tracer.add(k, v) }
  }

  def setup(ctx: Ctx): Unit = Tiers.build(ctx, ctx.strings("tiers"))

  /** `warm_passes` untimed passes in a fixed order, so lazy tiers and
    * the first run of every code path stay out of the window; their
    * outputs are checked too. */
  override def warmUp(ctx: Ctx): Unit =
    for (_ <- 1 to ctx.spec.get("warm_passes").asInt; q <- passes.head.sorted)
    try runQuery(q) catch { case e: Throwable => ctx.fail(q, e) }

  /** Whole passes until `seconds` have passed and `minOps` ops
    * succeeded. Each pass boundary is stamped with the window clock and
    * the ops' CPU time, so run.py can take medians over passes. */
  def window(ctx: Ctx): Unit = {
    val it = passes.tail.iterator
    val cpu0 = Cpu.opNs()
    val stamps = mutable.ArrayBuffer((ctx.nowMs(), 0.0))
    while (ctx.nowMs() < ctx.seconds * 1000 || ctx.ops.count(_.ok) < ctx.minOps) {
      require(it.hasNext, "query_mix: plan has too few passes")
      // --inject-fail: the first op of every pass throws
      it.next().zipWithIndex.foreach { case (q, i) =>
        ctx.timed(q, opId + 1)(runQuery(q, ctx.injectFail && i == 0))
      }
      stamps += ((ctx.nowMs(), (Cpu.opNs() - cpu0) / 1e9))
    }
    ctx.extra("pass_stamps") = Json.arr(stamps.map { case (ms, cpu) =>
      Json.arr(Seq(Json.num(ms), Json.num(cpu))) })
    ctx.tracer.set("core.checkpoints_live", maxCheckpoints)
  }

  def check(ctx: Ctx): Unit = ()
}
