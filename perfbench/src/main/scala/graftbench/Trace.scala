package graftbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.{SparkContext, Success}
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Spans around the benchmark's calls into the program, plus a Spark
  * listener that attributes every job, stage and task to the span that was
  * open when the job was submitted. Everything stays in memory until the
  * run ends. With tracing off, `span` only runs its body.
  *
  * Attribution: `span` sets the SparkContext local property `SpanProp`
  * before the call; Spark copies local properties into each job it
  * submits, and driver threads the program creates inside the call
  * (N2kBinding's per-call pools) inherit them. All times are epoch
  * milliseconds with sub-millisecond precision for spans. */
final class Trace(spark: SparkSession, val enabled: Boolean) {
  import Trace._

  private val sc: SparkContext = spark.sparkContext
  private val ids = new AtomicLong(0)
  private val stack = new ThreadLocal[List[Span]] { override def initialValue() = Nil }
  @volatile private var currentOp: Long = -1L

  val spans = new ConcurrentLinkedQueue[Span]()
  val jobs = new java.util.concurrent.ConcurrentHashMap[Int, JobRec]()
  val stages = new java.util.concurrent.ConcurrentHashMap[Int, StageRec]()
  val plans = new ConcurrentLinkedQueue[PlanRec]()

  private val baseMs = System.currentTimeMillis().toDouble
  private val baseNs = System.nanoTime()
  def nowMs: Double = baseMs + (System.nanoTime() - baseNs) / 1e6

  /** Runs `body` as op `opId`: its spans share that id. */
  def op[A](opId: Long)(body: => A): A = {
    currentOp = opId
    try span("op")(body) finally currentOp = -1L
  }

  def span[A](name: String)(body: => A): A =
    if (!enabled) body
    else {
      val parent = stack.get()
      val s = Span(ids.incrementAndGet(), parent.headOption.map(_.id).getOrElse(0L),
        currentOp, name, nowMs)
      val prevProp = sc.getLocalProperty(SpanProp)
      stack.set(s :: parent)
      sc.setLocalProperty(SpanProp, s.id.toString)
      try body
      finally {
        s.endMs = nowMs
        sc.setLocalProperty(SpanProp, prevProp)
        stack.set(parent)
        spans.add(s)
      }
    }

  /** Records planning phases of a query the benchmark plans itself. */
  def plan(qe: QueryExecution): Unit = if (enabled) recordPlan(qe)

  private def recordPlan(qe: QueryExecution): Unit = {
    val phases = qe.tracker.phases
    if (phases.nonEmpty) {
      val start = phases.values.map(_.startTimeMs).min.toDouble
      plans.add(PlanRec(start, phases.values.map(_.durationMs).sum / 1e3))
    }
  }

  private object Listener extends SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val span = Option(e.properties).flatMap(p => Option(p.getProperty(SpanProp)))
        .map(_.toLong).getOrElse(0L)
      jobs.put(e.jobId, JobRec(e.jobId, span, e.time.toDouble))
      e.stageInfos.foreach(si => stages.putIfAbsent(si.stageId, StageRec(si.stageId, e.jobId)))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobs.get(e.jobId)).foreach(_.endMs = e.time.toDouble)
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val si = e.stageInfo
      val r = stages.computeIfAbsent(si.stageId, id => StageRec(id, -1))
      r.module = moduleOf(si.details)
      r.attempted = true
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val r = stages.computeIfAbsent(e.stageId, id => StageRec(id, -1))
      r.synchronized {
        r.tasks += 1
        if (e.reason != Success) r.taskFailures += 1
        val m = e.taskMetrics
        if (m != null) {
          r.runMs += m.executorRunTime
          r.cpuNs += m.executorCpuTime
          r.gcMs += m.jvmGCTime
          r.shuffleRead += m.shuffleReadMetrics.remoteBytesRead + m.shuffleReadMetrics.localBytesRead
          r.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
          r.spill += m.memoryBytesSpilled + m.diskBytesSpilled
          r.peakMem = math.max(r.peakMem, m.peakExecutionMemory)
        }
      }
    }
  }

  private object QeListener extends QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      recordPlan(qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
      recordPlan(qe)
  }

  if (enabled) {
    sc.addSparkListener(Listener)
    spark.listenerManager.register(QeListener)
  }

  /** Waits until every submitted job has reported its end (the listener
    * bus is asynchronous), with a finite deadline. */
  def drain(): Unit = if (enabled) {
    val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
    while (jobs.values.asScala.exists(_.endMs.isNaN) && System.nanoTime() < deadline)
      Thread.sleep(20)
    Thread.sleep(200) // trailing task-end and QE events
  }

  def stop(): Unit = if (enabled) {
    sc.removeSparkListener(Listener)
    spark.listenerManager.unregister(QeListener)
  }
}

object Trace {
  val SpanProp = "graftbench.span"

  final case class Span(id: Long, parent: Long, opId: Long, name: String, startMs: Double) {
    @volatile var endMs: Double = Double.NaN
    def durS: Double = (endMs - startMs) / 1e3
  }
  final case class JobRec(jobId: Int, span: Long, startMs: Double) {
    @volatile var endMs: Double = Double.NaN
  }
  final case class StageRec(stageId: Int, jobId: Int) {
    @volatile var module: String = "spark"
    @volatile var attempted: Boolean = false
    var tasks = 0L; var taskFailures = 0L
    var runMs = 0L; var cpuNs = 0L; var gcMs = 0L
    var shuffleRead = 0L; var shuffleWrite = 0L; var spill = 0L; var peakMem = 0L
  }
  final case class PlanRec(startMs: Double, durS: Double)

  /** The program's modules, by package: a stage is attributed to the
    * innermost program frame of its call site. */
  val Modules: Seq[String] = Seq("api", "operators", "sources", "dedup", "functions",
    "queries", "similarity", "streaming", "multimodal", "plans", "core")

  private val FramePkg = """^\s*(?:at\s+)?graft\.([A-Za-z0-9_]+)[.$]""".r.unanchored

  def moduleOf(callSiteLong: String): String =
    Option(callSiteLong).toSeq.flatMap(_.split("\n")).iterator.collectFirst {
      case FramePkg(pkg) => pkg match {
        case "api" | "operators" | "sources" | "dedup" | "functions" | "queries" |
             "similarity" | "streaming" | "multimodal" | "plans" => pkg
        case "SparkEntry" => "queries"
        case "GraftExtensions" => "plans"
        case _ => "core"
      }
    }.getOrElse("bench")

  /** Total length of the union of intervals, clipped to [lo, hi]. */
  def unionLen(iv: Seq[(Double, Double)], lo: Double, hi: Double): Double = {
    val clipped = iv.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var total = 0.0; var curA = Double.NaN; var curB = Double.NaN
    clipped.foreach { case (a, b) =>
      if (curB.isNaN || a > curB) {
        if (!curB.isNaN) total += curB - curA
        curA = a; curB = b
      } else curB = math.max(curB, b)
    }
    if (!curB.isNaN) total += curB - curA
    total
  }
}
