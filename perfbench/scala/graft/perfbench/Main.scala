package graft.perfbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.sql.SparkSession

/** One closed-loop operation: ms since the window opened. */
final case class Op(name: String, startMs: Double, endMs: Double, var ok: Boolean)

/** CPU clocks of the harness process. JIT compilation is warm-up left
  * over, not the ops' cost, and it is the noisiest part of process CPU:
  * `opNs` leaves it out. */
object Cpu {
  private def processNs(): Long = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime

  /** CPU time of the JIT compiler threads, from Linux's per-thread
    * `/proc/self/task/<tid>/stat` (user + system ticks). The compiler
    * threads are not Java threads, so the JMX thread bean cannot see
    * them; run.py keeps them alive for the whole process. */
  private def compilerNs(): Long = {
    val tickNs = 1e9 / 100 // USER_HZ
    val tasks = Files.list(Paths.get("/proc/self/task"))
    try tasks.iterator.asScala.map { t =>
      val stat = try Files.readString(t.resolve("stat")) catch {
        case _: java.io.IOException => "" } // the thread has ended
      val name = stat.indexOf('(')
      val end = stat.lastIndexOf(')')
      if (name < 0 || end < 0 || !stat.substring(name + 1, end).contains("CompilerThre")) 0L
      else {
        // fields after the name: state is field 3, utime 14, stime 15
        val f = stat.substring(end + 2).split(' ')
        ((f(11).toLong + f(12).toLong) * tickNs).toLong
      }
    }.sum finally tasks.close()
  }

  /** Process CPU less the JIT compiler threads'. */
  def opNs(): Long = processNs() - compilerNs()
}

/** What every workload shares: the run's settings, its session, the
  * tracer and the op log. */
final class Ctx(val spec: JsonNode, val tracer: Tracer) {
  val dataDir: String = spec.get("data_dir").asText
  val workDir: String = spec.get("work_dir").asText
  val seconds: Double = spec.get("seconds").asDouble
  val minOps: Int = spec.get("min_ops").asInt
  val injectFail: Boolean = spec.get("inject_fail").asBoolean
  val expected: JsonNode = spec.get("expected")
  val exec = new ExecListener
  var spark: SparkSession = _
  /** Harness clock value at which the timed window opened. */
  var windowStartNs = 0L
  val ops = mutable.ArrayBuffer[Op]()
  val errors = mutable.LinkedHashMap[String, String]()
  /** Workload-specific raw results, as JSON values. */
  val extra = mutable.LinkedHashMap[String, String]()

  def strings(key: String): Seq[String] =
    spec.get(key).elements.asScala.map(_.asText).toSeq

  def nowMs(): Double = (tracer.now() - windowStartNs) / 1e6

  def fail(name: String, e: Throwable): Unit =
    fail(name, s"${e.getClass.getSimpleName}: ${e.getMessage}")

  def fail(name: String, msg: String): Unit = {
    if (!errors.contains(name)) errors(name) = msg.take(300)
    System.err.println(s"[perfbench] FAILED $name: ${msg.take(300)}")
  }

  /** Run one closed-loop op; a throw is recorded as a failed op. */
  def timed(name: String, opId: Long)(body: => Boolean): Op = {
    val t0 = nowMs()
    val ok = try tracer.span(s"op:$name", opId)(body) catch {
      case e: Throwable => fail(name, e); false
    }
    val op = Op(name, t0, nowMs(), ok)
    ops += op
    op
  }

  /** Wait for queued listener events (traced runs read their counters). */
  def drainListeners(): Unit =
    if (tracer.enabled)
      org.apache.spark.PerfbenchBridge.drainListeners(spark.sparkContext)
}

/** A workload: set up on a fresh session (charged to `setup_s`), then
  * run ops for the window, then check outputs. */
trait Workload {
  /** Per-session set-up, repeated each round on a fresh session; the
    * last round's state is what the window runs against. */
  def setup(ctx: Ctx): Unit
  /** The untimed warm-up, once, after the last set-up round. */
  def warmUp(ctx: Ctx): Unit = ()
  /** Timed ops until `seconds` have passed and `minOps` ops succeeded. */
  def window(ctx: Ctx): Unit
  /** Output checks after the window; mark failed ops. */
  def check(ctx: Ctx): Unit
  /** Extra bytes held across ops besides persisted blocks. */
  def stateBytes(ctx: Ctx): Long = 0L
}

object Main {
  def newSession(ctx: Ctx): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[${ctx.spec.get("cores").asInt}]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", ctx.spec.get("partitions").asText)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.extensions", "graft.functions.GraftExtensions")
      .config("spark.sql.warehouse.dir", s"${ctx.workDir}/warehouse")
      .config("spark.local.dir", s"${ctx.workDir}/local")
      .config("spark.driver.host", "localhost")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .config("spark.sql.streaming.numRecentProgressUpdates", "100000")
      .config("spark.sql.codegen.cache.maxEntries", "2000")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s.sparkContext.addSparkListener(ctx.exec)
    s
  }

  def stopSession(ctx: Ctx): Unit = if (ctx.spark != null) {
    graft.core.CacheBay.drain()
    graft.core.CheckpointBay.drain()
    graft.core.SessionCache.clear(ctx.spark)
    ctx.spark.stop()
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    ctx.spark = null
  }

  private def gcMs(): Double = ManagementFactory.getGarbageCollectorMXBeans
    .asScala.map(_.getCollectionTime.max(0L)).sum.toDouble

  /** Generated classes compiled so far (codegen cache misses). */
  private def compiles(): Long =
    org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  private def jitMs(): Double =
    ManagementFactory.getCompilationMXBean.getTotalCompilationTime.toDouble

  /** Persisted-block bytes (memory, disk). */
  def persisted(spark: SparkSession): (Long, Long) = {
    val infos = spark.sparkContext.getRDDStorageInfo
    (infos.map(_.memSize).sum, infos.map(_.diskSize).sum)
  }

  def main(args: Array[String]): Unit = {
    val epoch = System.nanoTime()
    val spec = new ObjectMapper().readTree(
      Files.readString(Paths.get(args(0)), StandardCharsets.UTF_8))
    val tracer = new Tracer(spec.get("trace").asBoolean, epoch)
    val ctx = new Ctx(spec, tracer)
    val workload: Workload = spec.get("workload").asText match {
      case "query_mix" => new QueryMix(ctx)
      case "etl_cycle" => new EtlCycle(ctx)
      case "stream_ingest" => new StreamLoad(ctx)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    val rounds = spec.get("setup_rounds").asInt
    val setupS = (1 to rounds).map { r =>
      stopSession(ctx)
      val t0 = System.nanoTime()
      ctx.spark = newSession(ctx)
      workload.setup(ctx)
      val dt = (System.nanoTime() - t0) / 1e9
      System.err.println(f"[perfbench] setup round $r: $dt%.2f s")
      dt
    }
    val w0 = System.nanoTime()
    workload.warmUp(ctx)
    val warmS = (System.nanoTime() - w0) / 1e9
    System.err.println(f"[perfbench] warm-up: $warmS%.2f s")
    val (tierMem, tierDisk) = persisted(ctx.spark)
    // tier counters are per setup round; everything else is per window
    val tiers = tracer.counters.collect {
      case (k, v) if k.startsWith("core.tier") => k -> v / rounds
    }
    tracer.clearCounters()
    ctx.drainListeners()
    ctx.exec.reset()
    val gc0 = gcMs(); val jit0 = jitMs(); val cpu0 = Cpu.opNs(); val cg0 = compiles()
    ctx.windowStartNs = tracer.now()
    workload.window(ctx)
    val windowS = ctx.nowMs() / 1e3
    val cpuS = (Cpu.opNs() - cpu0) / 1e9
    val gcS = (gcMs() - gc0) / 1e3
    val jit = jitMs() - jit0
    val (mem, disk) = persisted(ctx.spark)
    val state = workload.stateBytes(ctx)
    val heapMb = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1e6
    ctx.drainListeners()
    val layer = ctx.exec.values ++ tracer.counters ++ tiers ++ Map(
      "plan.codegen_compiles" -> (compiles() - cg0).toDouble,
      "core.tier_mem_mb" -> tierMem / 1e6, "core.tier_disk_mb" -> tierDisk / 1e6,
      "jvm.gc_s" -> gcS, "jvm.jit_ms" -> jit, "jvm.heap_used_mb" -> heapMb)
    workload.check(ctx)
    stopSession(ctx)

    val out = new StringBuilder
    out ++= "{" ++= Json.field("setup_s", Json.arr(setupS.map(Json.num)))
    out ++= "," ++= Json.field("warmup_s", Json.num(warmS))
    out ++= "," ++= Json.field("window_s", Json.num(windowS))
    out ++= "," ++= Json.field("window_start_ms", Json.num(ctx.windowStartNs / 1e6))
    out ++= "," ++= Json.field("cpu_s", Json.num(cpuS))
    out ++= "," ++= Json.field("resident_mb", Json.num((mem + disk + state) / 1e6))
    out ++= "," ++= Json.field("errors", Json.obj(ctx.errors.toSeq.map {
      case (k, v) => k -> Json.str(v) }))
    out ++= "," ++= Json.field("layer", Json.obj(layer.toSeq.sortBy(_._1).map {
      case (k, v) => k -> Json.num(v) }))
    out ++= "," ++= Json.field("ops", Json.arr(ctx.ops.map(o => Json.arr(Seq(
      Json.str(o.name), Json.num(o.startMs), Json.num(o.endMs), o.ok.toString)))))
    ctx.extra.foreach { case (k, v) => out ++= "," ++= Json.field(k, v) }
    out ++= "," ++= Json.field("spans", Json.arr(tracer.allSpans.map(s =>
      Json.arr(Seq(s.id.toString, s.parent.toString, Json.str(s.name),
        s.op.toString, Json.num(s.startNs / 1e6), Json.num(s.endNs / 1e6))))))
    out ++= "}"
    Files.writeString(Paths.get(spec.get("out").asText), out.toString,
      StandardCharsets.UTF_8)
  }
}

object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
    case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
  } + "\""
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else d.toString
  def arr(xs: Iterable[String]): String = xs.mkString("[", ",", "]")
  def obj(kv: Iterable[(String, String)]): String =
    kv.map { case (k, v) => field(k, v) }.mkString("{", ",", "}")
  def field(k: String, v: String): String = str(k) + ":" + v
}
