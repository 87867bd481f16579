package graftbench

import scala.jdk.CollectionConverters._

import graftbench.Main.OpRec
import graftbench.Trace._

/** Turns a traced run's spans, jobs, stages and tasks into per-layer
  * metrics. Times and counts are per timed op (mean over ops); ratios are
  * over the whole run. */
object Layers {

  /** Spans of each op, and the op span itself. */
  private def spansByOp(tr: Trace): Map[Long, Seq[Span]] =
    tr.spans.asScala.toSeq.filter(_.opId >= 0).groupBy(_.opId)

  /** The op id a span id belongs to (0 = outside any span). */
  private def spanOp(tr: Trace): Map[Long, Long] =
    tr.spans.asScala.map(s => s.id -> s.opId).toMap

  /** Spans named `name` inside the given ops. */
  def spansOf(tr: Trace, ops: Seq[OpRec], name: String): Seq[Span] = {
    val ids = ops.map(_.i.toLong).toSet
    tr.spans.asScala.toSeq.filter(s => s.name == name && ids(s.opId))
  }

  /** Jobs submitted inside the given ops. */
  def jobsOf(tr: Trace, ops: Seq[OpRec]): Seq[JobRec] = {
    val ids = ops.map(_.i.toLong).toSet
    val sOp = spanOp(tr)
    tr.jobs.values.asScala.toSeq.filter(j => ids(sOp.getOrElse(j.span, -1L)))
  }

  /** The Spark engine layers under every module. */
  def spark(tr: Trace, ops: Seq[OpRec], cpus: Int,
      execModule: Int => Option[String]): Seq[(String, Double, String)] = {
    val n = math.max(ops.size, 1).toDouble
    val sOp = spanOp(tr)
    val spanName = tr.spans.asScala.map(s => s.id -> s.name).toMap
    val jobs = jobsOf(tr, ops)
    val jobIds = jobs.map(_.jobId).toSet
    val stages = tr.stages.values.asScala.toSeq.filter(s => jobIds(s.jobId))
    // wall time inside at least one job, per op
    val jobWall = ops.map { o =>
      val iv = jobs.filter(j => sOp(j.span) == o.i.toLong && !j.endMs.isNaN)
        .map(j => (j.startMs, j.endMs))
      unionLen(iv, o.startMs, o.endMs) / 1e3
    }.sum
    val opWall = ops.map(_.s).sum
    val runS = stages.map(_.runMs).sum / 1e3
    // a stage whose call site is the benchmark itself runs the plan the
    // op's workload names (a query gate's final plan: the gate family's
    // module), or else the one the enclosing span's module built
    val spanModule: Long => String = sp =>
      sOp.get(sp).flatMap(op => execModule(op.toInt))
        .orElse(spanName.get(sp).map(_.takeWhile(_ != '.')).filter(Modules.contains))
        .getOrElse("core")
    val jobSpan = jobs.map(j => j.jobId -> j.span).toMap
    val perModule = stages.groupBy { s =>
      if (s.module == "bench") spanModule(jobSpan.getOrElse(s.jobId, 0L)) else s.module
    }.map { case (m, ss) => m -> ss.map(_.runMs).sum / 1e3 }
    val planS = tr.plans.asScala.toSeq.filter { p =>
      ops.exists(o => p.startMs >= o.startMs && p.startMs <= o.endMs)
    }.map(_.durS).sum
    Seq(
      ("spark.plan_s", planS / n, "s"),
      ("driver.no_job_s", (opWall - jobWall) / n, "s"),
      ("spark.jobs", jobs.size / n, "count"),
      ("spark.stages", stages.count(_.attempted) / n, "count"),
      ("spark.tasks", stages.map(_.tasks).sum / n, "count"),
      ("spark.job_wall_s", jobWall / n, "s"),
      ("spark.core_busy_ratio", if (jobWall > 0) runS / (jobWall * cpus) else 0.0, "ratio"),
      ("spark.executor_run_s", runS / n, "s"),
      ("spark.executor_cpu_s", stages.map(_.cpuNs).sum / 1e9 / n, "s"),
      ("spark.shuffle_read_bytes", stages.map(_.shuffleRead).sum / n, "bytes"),
      ("spark.shuffle_write_bytes", stages.map(_.shuffleWrite).sum / n, "bytes"),
      ("spark.spill_bytes", stages.map(_.spill).sum / n, "bytes"),
      ("spark.peak_exec_mem_bytes", (0L +: stages.map(_.peakMem)).max.toDouble, "bytes"),
      ("spark.gc_s", stages.map(_.gcMs).sum / 1e3 / n, "s"),
      ("spark.task_failures", stages.map(_.taskFailures).sum.toDouble, "count"),
      ("trace.uncovered_s", uncovered(tr, ops).sum / n, "s")) ++
      Modules.map(m => (s"spark.executor_run_s.$m", perModule.getOrElse(m, 0.0) / n, "s"))
  }

  /** Mean per-op duration of the spans named `name`, in seconds. */
  def spanMean(tr: Trace, ops: Seq[OpRec], name: String): Double =
    spansOf(tr, ops, name).map(_.durS).sum / math.max(ops.size, 1)

  /** Job wall (union of job intervals) inside the spans named `name` and
    * their descendants, per op. */
  def jobWallUnder(tr: Trace, ops: Seq[OpRec], name: String): Double = {
    val all = tr.spans.asScala.toSeq
    val parent = all.map(s => s.id -> s.parent).toMap
    val roots = spansOf(tr, ops, name)
    val rootIds = roots.map(_.id).toSet
    def under(id: Long): Boolean =
      Iterator.iterate(id)(parent.getOrElse(_, 0L)).takeWhile(_ != 0L).exists(rootIds)
    val iv = tr.jobs.values.asScala.toSeq.filter(j => under(j.span) && !j.endMs.isNaN)
      .map(j => (j.startMs, j.endMs))
    roots.map(r => unionLen(iv, r.startMs, r.endMs)).sum / 1e3 / math.max(ops.size, 1)
  }

  /** Per op: the part of its wall no layer span covers, in seconds. */
  def uncovered(tr: Trace, ops: Seq[OpRec]): Seq[Double] = {
    val byOp = spansByOp(tr)
    ops.map { o =>
      val sp = byOp.getOrElse(o.i.toLong, Nil)
      val opSpan = sp.find(_.name == "op").map(_.id).getOrElse(-1L)
      val top = sp.filter(_.parent == opSpan).map(s => (s.startMs, s.endMs))
      o.s - unionLen(top, o.startMs, o.endMs) / 1e3
    }
  }

  /** Per-op span table (self time per span name, uncovered remainder)
    * and each layer's mean self time, as a JSON object. */
  def spanReport(tr: Trace, ops: Seq[OpRec]): String = {
    val byOp = spansByOp(tr)
    val unc = uncovered(tr, ops)
    def selfTimes(sp: Seq[Span]): Map[String, Double] = {
      val kids = sp.groupBy(_.parent)
      sp.filter(_.name != "op").groupBy(_.name).map { case (nm, ss) =>
        nm -> ss.map { s =>
          val c = kids.getOrElse(s.id, Nil).map(k => (k.startMs, k.endMs))
          s.durS - unionLen(c, s.startMs, s.endMs) / 1e3
        }.sum
      }
    }
    val perOp = ops.zip(unc).map { case (o, u) =>
      val st = selfTimes(byOp.getOrElse(o.i.toLong, Nil))
      s"""{"i":${o.i},"kind":${J.str(o.kind)},"wall_s":${J.num(o.s)},"uncovered_s":${J.num(u)},"self_s":""" +
        st.toSeq.sortBy(_._1).map { case (k, v) => s"${J.str(k)}:${J.num(v)}" }.mkString("{", ",", "}") + "}"
    }
    val n = math.max(ops.size, 1).toDouble
    val agg = ops.flatMap(o => selfTimes(byOp.getOrElse(o.i.toLong, Nil)).toSeq)
      .groupBy(_._1).map { case (k, vs) => k -> vs.map(_._2).sum / n }
    val spanCount = tr.spans.size
    s"""{"span_count":$spanCount,"mean_uncovered_s":${J.num(unc.sum / n)},"mean_self_s":""" +
      agg.toSeq.sortBy(_._1).map { case (k, v) => s"${J.str(k)}:${J.num(v)}" }.mkString("{", ",", "}") +
      s""","per_op":${perOp.mkString("[", ",", "]")}}"""
  }
}
