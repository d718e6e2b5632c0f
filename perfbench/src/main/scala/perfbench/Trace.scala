package perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.streaming.StreamingQueryListener._

/** Local properties the benchmark sets around each of its own calls, so a
  * listener can tell which operation and which phase launched a job. */
object Tags {
  val Op = "perfbench.op"
  val OpId = "perfbench.opId"
  val Phase = "perfbench.phase"
}

/** One timed interval: an operation, a phase inside it, a Spark job or a
  * stage. `parent` is -1 for operations. */
final case class Span(id: Long, parent: Long, kind: String, name: String,
    startMs: Double, endMs: Double, attrs: Map[String, String] = Map.empty) {
  def durMs: Double = endMs - startMs
}

/** Spans kept in memory while a pass runs. Operation and phase spans come
  * from the benchmark's own calls, job and stage spans from [[JobListener]]. */
final class Spans {
  private val ids = new AtomicLong(0)
  private val all = new java.util.concurrent.ConcurrentLinkedQueue[Span]()
  def nextId(): Long = ids.incrementAndGet()
  def add(s: Span): Unit = all.add(s)
  def snapshot: Seq[Span] = all.asScala.toSeq.sortBy(s => (s.startMs, s.id))

  /** Self time per span: its duration minus the union of its children's
    * intervals, clipped to the span (stages of one job overlap). */
  def selfTimes(spans: Seq[Span]): Map[Long, Double] = {
    val kids = spans.groupBy(_.parent)
    spans.map { s =>
      val iv = kids.getOrElse(s.id, Nil)
        .map(c => (math.max(c.startMs, s.startMs), math.min(c.endMs, s.endMs)))
        .filter(p => p._2 > p._1).sortBy(_._1)
      var covered = 0.0
      var (curS, curE) = (Double.NaN, Double.NaN)
      iv.foreach { case (a, b) =>
        if (curS.isNaN) { curS = a; curE = b }
        else if (a <= curE) curE = math.max(curE, b)
        else { covered += curE - curS; curS = a; curE = b }
      }
      if (!curS.isNaN) covered += curE - curS
      s.id -> math.max(0.0, s.durMs - covered)
    }.toMap
  }
}

/** Per-stage task totals, filled from task-end events. */
final class StageRec(val id: Int, val job: Int) {
  var submitMs = 0L
  var doneMs = 0L
  var tasks = 0
  var failed = 0
  var runMs = 0L
  var cpuNs = 0L
  var shuffleWrite = 0L
  var shuffleRead = 0L
  var spill = 0L
  var peakMem = 0L
  var waitMs = 0L
}

final case class JobRec(id: Int, op: String, opId: String, phase: String,
    module: String, gate: Boolean, startMs: Long, stages: Seq[Int]) {
  @volatile var endMs: Long = startMs
}

/** Records every Spark job and stage with the tags of the call that
  * launched it, and names the engine module that launched it: the first
  * frame of the call site outside Spark, Scala and the JDK. */
final class JobListener extends SparkListener {
  val jobs = new ConcurrentHashMap[Int, JobRec]()
  val stages = new ConcurrentHashMap[Int, StageRec]()

  private val gateActions = Set("count", "collect", "take", "head", "first",
    "collectAsList", "takeAsList", "isEmpty", "reduce", "toLocalIterator", "treeAggregate")

  /** Call sites of SQL executions: jobs that adaptive execution or a
    * broadcast submits from Spark's own threads carry no engine frame,
    * so they take the call site of the execution they belong to. */
  private val sqlSites = new ConcurrentHashMap[String, String]()

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart =>
      sqlSites.put(s.executionId.toString, s.details)
    case _ =>
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val p = Option(e.properties)
    def prop(k: String) = p.flatMap(x => Option(x.getProperty(k))).getOrElse("")
    val last = if (e.stageInfos.isEmpty) None else Some(e.stageInfos.maxBy(_.stageId))
    val own = last.map(s => JobListener.module(s.details)).getOrElse("spark")
    val module =
      if (own != "spark") own
      else Option(sqlSites.get(prop("spark.sql.execution.id"))).map(JobListener.module).getOrElse(own)
    val action = last.map(_.name.takeWhile(_ != ' ')).getOrElse("")
    jobs.put(e.jobId, JobRec(e.jobId, prop(Tags.Op), prop(Tags.OpId), prop(Tags.Phase),
      module, gateActions(action), e.time, e.stageIds))
    e.stageIds.foreach(s => stages.putIfAbsent(s, new StageRec(s, e.jobId)))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobs.get(e.jobId)).foreach(_.endMs = e.time)

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    Option(stages.get(e.stageInfo.stageId)).foreach { s =>
      s.synchronized { s.submitMs = e.stageInfo.submissionTime.getOrElse(System.currentTimeMillis()) }
    }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    Option(stages.get(e.stageInfo.stageId)).foreach { s =>
      s.synchronized { s.doneMs = e.stageInfo.completionTime.getOrElse(System.currentTimeMillis()) }
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    Option(stages.get(e.stageId)).foreach { s =>
      s.synchronized {
        s.tasks += 1
        if (!e.taskInfo.successful) s.failed += 1
        if (s.submitMs > 0) s.waitMs += math.max(0L, e.taskInfo.launchTime - s.submitMs)
        val m = e.taskMetrics
        if (m != null) {
          s.runMs += m.executorRunTime
          s.cpuNs += m.executorCpuTime
          s.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
          s.shuffleRead += m.shuffleReadMetrics.totalBytesRead
          s.spill += m.memoryBytesSpilled + m.diskBytesSpilled
          s.peakMem = math.max(s.peakMem, m.peakExecutionMemory)
        }
      }
    }

  def stagesOf(j: JobRec): Seq[StageRec] = j.stages.flatMap(id => Option(stages.get(id))).filter(_.job == j.id)
}

object JobListener {
  private val foreign = Seq("org.apache.spark.", "scala.", "java.", "jdk.", "sun.")

  /** `graft.operators.Checkpoints$.stable(Checkpoints.scala:53)` →
    * `operators.Checkpoints`; the benchmark's own frames → `harness`. */
  def module(callSite: String): String =
    callSite.split("\n").iterator.map(_.trim).filter(_.nonEmpty)
      .find(f => !foreign.exists(f.startsWith) && f != "<unknown>")
      .map { frame =>
        val cls = frame.takeWhile(_ != '(').split('.').dropRight(1).mkString(".").takeWhile(_ != '$')
        if (cls.startsWith("perfbench")) "harness"
        else if (cls.startsWith("graft.")) cls.stripPrefix("graft.")
        else cls
      }.getOrElse("spark")
}

/** Streaming progress, with the benchmark's generated-row count sampled
  * at each progress so the backlog is known per trigger. */
final case class Progress(triggerMs: Long, addBatchMs: Long, planningMs: Long, walMs: Long,
    stateRows: Long, stateBytes: Long, dropped: Long, backlog: Long)

final class ProgressListener(generated: () => Long) extends StreamingQueryListener {
  val progress = new java.util.concurrent.ConcurrentLinkedQueue[Progress]()
  private val consumed = new AtomicLong(0)
  override def onQueryStarted(e: QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(e: QueryProgressEvent): Unit = {
    val p = e.progress
    def d(k: String): Long = Option(p.durationMs.get(k)).map(_.longValue).getOrElse(0L)
    val c = consumed.addAndGet(p.numInputRows)
    progress.add(Progress(d("triggerExecution"), d("addBatch"), d("queryPlanning"), d("walCommit"),
      p.stateOperators.map(_.numRowsTotal).sum,
      p.stateOperators.map(_.memoryUsedBytes).sum,
      p.stateOperators.map(_.numRowsDroppedByWatermark).sum,
      math.max(0L, generated() - c)))
  }
}

/** The traced run's job listener. */
final class Tracer(sc: SparkContext) {
  val jobs = new JobListener
  def install(): Unit = sc.addSparkListener(jobs)
  def remove(): Unit = { org.apache.spark.perfbench.Bus.drain(sc); sc.removeSparkListener(jobs) }

  /** Job and stage spans under the phase span whose tags they carry. */
  def jobSpans(spans: Spans, phaseIds: Map[(String, String), Long]): Seq[Span] = {
    org.apache.spark.perfbench.Bus.drain(sc)
    jobs.jobs.values.asScala.toSeq.sortBy(_.id).flatMap { j =>
      val parent = phaseIds.getOrElse((j.opId, j.phase), -1L)
      val jid = spans.nextId()
      Span(jid, parent, "job", s"job ${j.id}", j.startMs, j.endMs,
        Map("module" -> j.module, "phase" -> j.phase, "op" -> j.op)) +:
        jobs.stagesOf(j).filter(_.doneMs > 0).map { s =>
          Span(spans.nextId(), jid, "stage", s"stage ${s.id}", s.submitMs, s.doneMs,
            Map("tasks" -> s.tasks.toString, "cpu_ms" -> (s.cpuNs / 1000000).toString))
        }
    }
  }
}

object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else java.math.BigDecimal.valueOf(d).toPlainString
  def obj(kv: Iterable[(String, String)]): String =
    kv.map { case (k, v) => s"${str(k)}: $v" }.mkString("{", ", ", "}")

  def spans(spans: Seq[Span], self: Map[Long, Double]): String =
    spans.map { s =>
      obj(Seq("id" -> s.id.toString, "parent" -> s.parent.toString, "kind" -> str(s.kind),
        "name" -> str(s.name), "start_ms" -> num(s.startMs), "dur_ms" -> num(s.durMs),
        "self_ms" -> num(self.getOrElse(s.id, 0.0))) ++ s.attrs.map { case (k, v) => k -> str(v) })
    }.mkString("[\n", ",\n", "\n]\n")
}

object Stats {
  /** Linear-interpolated percentile, p in [0, 100]. */
  def pct(xs: Seq[Double], p: Double): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val r = p / 100.0 * (s.size - 1)
      val lo = math.floor(r).toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (r - lo)
    }
  def median(xs: Seq[Double]): Double = pct(xs, 50)
}

/** Mutable per-layer metric sink with a fixed key set: every declared
  * per-layer metric is printed, zero where a workload has no such work. */
final class Layers(names: Seq[String]) {
  private val v = mutable.LinkedHashMap(names.map(_ -> 0.0): _*)
  def update(k: String, x: Double): Unit = {
    require(v.contains(k), s"undeclared per-layer metric $k")
    v(k) = x
  }
  def apply(k: String): Double = v(k)
  def all: Seq[(String, Double)] = v.toSeq
}
