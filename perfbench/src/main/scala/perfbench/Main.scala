package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** One benchmark run in one JVM: set up, run the workload's passes, check
  * the outputs, write the figures as JSON for `run.py`.
  *
  * Usage: perfbench.Main --workload W --data DIR --work DIR --seed N
  *   --seconds S --trace 0|1 --cores C --out FILE
  */
object Main {
  final case class Args(workload: String, data: String, work: String, seed: Long,
      seconds: Int, trace: Boolean, cores: Int, out: String)

  def main(argv: Array[String]): Unit = {
    val kv = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val a = Args(kv("workload"), kv("data"), kv("work"), kv("seed").toLong,
      kv("seconds").toInt, kv("trace") == "1", kv("cores").toInt, kv("out"))
    val wl = Workloads.byName(a.workload)
    val json = new Runner(a, wl).run()
    Files.writeString(Paths.get(a.out), json)
  }
}

/** A named operation of a pass. `prep` runs untimed before it. */
final case class Op(name: String, prep: () => Unit, body: Ctx => Unit)

/** What a workload's operations see: the session and the phase helper. */
final class Ctx(val spark: SparkSession, val args: Main.Args, val spans: Spans) {
  @volatile var tracing = false
  private var opSpan = -1L
  private var opId = ""
  /** Phase span ids of the traced pass, keyed by (opId, phase). */
  val phaseIds = scala.collection.mutable.Map.empty[(String, String), Long]

  def op[T](name: String, id: String)(body: => T): T = {
    val sc = spark.sparkContext
    sc.setLocalProperty(Tags.Op, name); sc.setLocalProperty(Tags.OpId, id)
    opId = id
    val start = System.currentTimeMillis().toDouble
    val sid = if (tracing) spans.nextId() else -1L
    opSpan = sid
    try body
    finally {
      if (tracing) spans.add(Span(sid, -1, "op", name, start, System.currentTimeMillis().toDouble,
        Map("op_id" -> id)))
      sc.setLocalProperty(Tags.Op, null); sc.setLocalProperty(Tags.OpId, null)
      sc.setLocalProperty(Tags.Phase, null)
    }
  }

  /** Tags every job launched by `body` with `name` and, when tracing,
    * records the phase span. */
  def phase[T](name: String)(body: => T): T = {
    val sc = spark.sparkContext
    sc.setLocalProperty(Tags.Phase, name)
    val start = System.currentTimeMillis().toDouble
    try body
    finally {
      if (tracing) {
        val id = spans.nextId()
        phaseIds((opId, name)) = id
        spans.add(Span(id, opSpan, "phase", name, start, System.currentTimeMillis().toDouble))
      }
    }
  }
}

/** A workload: its operations, an untimed preparation and checks, and the
  * workload-specific figures it adds to the traced run. */
trait Workload {
  /** Warm passes timed after the cold one, about --seconds worth. */
  def warmPasses: Int
  def prepare(ctx: Ctx): Unit
  def ops(ctx: Ctx): Seq[Op]
  /** Untimed output checks; returns (operations checked, failure messages). */
  def check(ctx: Ctx): (Int, Seq[String])
  /** Per-layer figures only this workload has, from the untraced pass's
    * operation times and the traced pass. */
  def layers(ctx: Ctx, untraced: Map[String, Double], out: Layers): Unit = ()
  /** Extra untimed work in the traced run (e.g. a rate sweep). */
  def tracedExtra(ctx: Ctx, out: Layers): Unit = ()
}

final class Runner(a: Main.Args, wl: Workload) {
  private def session(): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[${a.cores}]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", a.cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", s"${a.work}/spark-local")
      .config("spark.sql.warehouse.dir", s"${a.work}/warehouse")
      .config("spark.sql.streaming.stateStore.maintenanceInterval", "600s")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** A ready session plus one warm-up query over the run's inputs. */
  private def setup(): SparkSession = {
    val s = session()
    graft.queries.Tables.t(s, a.data, "lineitem")
      .groupBy("l_returnflag").count().write.format("noop").mode("overwrite").save()
    s
  }

  private def stop(s: SparkSession): Unit = {
    s.stop()
    SparkSession.clearActiveSession(); SparkSession.clearDefaultSession()
  }

  private def secs(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  /** One pass: every operation once, in order. Returns (name, seconds). */
  private def pass(ctx: Ctx, ops: Seq[Op], tag: String, after: String => Unit = _ => ()): Seq[(String, Double)] =
    ops.zipWithIndex.map { case (o, i) =>
      o.prep()
      val t0 = System.nanoTime()
      ctx.op(o.name, s"$tag.$i")(o.body(ctx))
      val d = secs(t0)
      System.err.println(f"[op] $tag ${o.name} $d%.3f s")
      after(o.name)
      o.name -> d
    }

  private def rssPeakMb(): Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024).getOrElse(0.0)

  private def gcSeconds(): Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum / 1e3

  def run(): String = {
    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime
    var spark = setup()
    val firstSetup = (System.currentTimeMillis() - jvmStart) / 1e3
    // setup_s: the median of three further set-ups, each a fresh
    // SparkContext and session plus the warm-up query
    val setups = (1 to 3).map { _ =>
      stop(spark)
      val t0 = System.nanoTime()
      spark = setup()
      secs(t0)
    }
    def mark(what: String): Unit =
      System.err.println(f"[perfbench] $what at ${(System.currentTimeMillis() - jvmStart) / 1e3}%.1f s")
    mark("set-up done")
    val ctx = new Ctx(spark, a, new Spans)
    wl.prepare(ctx)
    val ops = wl.ops(ctx)
    val cold = pass(ctx, ops, "cold")
    val failures = scala.collection.mutable.ArrayBuffer.empty[String]
    val metrics: Seq[(String, Double)] =
      if (!a.trace) {
        // The JIT keeps warming for many passes, so every run times the
        // same number of warm passes, the same distance along that curve;
        // --seconds caps the warm phase on a slow machine.
        val warm = scala.collection.mutable.ArrayBuffer.empty[Seq[(String, Double)]]
        val deadline = System.nanoTime() + a.seconds * 1000000000L
        while (warm.isEmpty || (warm.size < wl.warmPasses && System.nanoTime() < deadline))
          warm += pass(ctx, ops, s"warm${warm.size}")
        // Host noise only ever slows an operation down, so each operation
        // counts its fastest warm pass (min-of-N, as graft.Bench does).
        val perOp = ops.map(o => warm.map(_.find(_._1 == o.name).get._2).min)
        Seq(
          "setup_s" -> Stats.median(setups),
          "suite_warm_s" -> perOp.sum,
          "query_tail_s" -> Stats.pct(perOp, 90))
      } else {
        val out = new Layers(Layout.perLayer)
        val untraced = pass(ctx, ops, "untraced")
        val tracer = new Tracer(spark.sparkContext)
        val storage = scala.collection.mutable.ArrayBuffer.empty[Double]
        def retainedMb(): Double = spark.sparkContext.getRDDStorageInfo
          .map(r => r.memSize + r.diskSize).sum / 1048576.0
        tracer.install()
        ctx.tracing = true
        val gc0 = gcSeconds()
        val t0 = System.currentTimeMillis()
        val traced = pass(ctx, ops, "traced", _ => storage += retainedMb())
        val wallMs = (System.currentTimeMillis() - t0).toDouble
        ctx.tracing = false
        out("driver.gc_s") = gcSeconds() - gc0
        val spans = ctx.spans.snapshot ++ tracer.jobSpans(ctx.spans, ctx.phaseIds.toMap)
        tracer.remove()
        Layout.fill(out, tracer.jobs, spans, a.cores)
        out("operators.retained_mb") = if (storage.isEmpty) 0.0 else storage.max
        // untraced passes before and after bracket the JIT's warming trend
        val after = pass(ctx, ops, "untraced-after")
        out("trace.overhead_pct") = 100.0 * (traced.map(_._2).sum /
          ((untraced.map(_._2).sum + after.map(_._2).sum) / 2) - 1.0)
        // reconciliation: the traced phases must account for the traced wall
        val phaseMs = spans.filter(_.kind == "phase").map(_.durMs).sum
        val gap = math.abs(wallMs - phaseMs) / wallMs
        System.err.println(f"[perfbench] traced wall $wallMs%.0f ms, phase spans $phaseMs%.0f ms " +
          f"(${gap * 100}%.2f%% apart), tracing overhead ${out("trace.overhead_pct")}%.1f%%")
        if (gap > 0.05) failures += f"reconciliation: phase spans $phaseMs%.0f ms vs wall $wallMs%.0f ms"
        val trace = Paths.get(a.work, "trace.json")
        Files.writeString(trace, Json.spans(spans, ctx.spans.selfTimes(spans)))
        System.err.println(s"[perfbench] wrote ${spans.size} spans to $trace")
        wl.layers(ctx, untraced.toMap, out)
        wl.tracedExtra(ctx, out)
        System.gc()
        val rt = Runtime.getRuntime
        out("driver.heap_retained_mb") = (rt.totalMemory - rt.freeMemory) / 1048576.0
        out("driver.first_setup_s") = firstSetup
        out("suite.cold_s") = cold.map(_._2).sum
        out("suite.query_p50_s") = Stats.median(untraced.map(_._2))
        out("driver.rss_peak_mb") = rssPeakMb()
        out.all
      }
    mark("measured")
    val (checked, wrong) = wl.check(ctx)
    failures ++= wrong
    stop(spark)
    mark("checked")
    val attempted = checked + (if (a.trace) 1 else 0)
    Json.obj(Seq(
      "attempted" -> attempted.toString,
      "failed" -> failures.size.toString,
      "failures" -> failures.map(Json.str).mkString("[", ", ", "]"),
      "metrics" -> Json.obj(metrics.map { case (k, v) => k -> Json.num(v) })))
  }
}
