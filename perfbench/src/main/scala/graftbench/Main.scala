package graftbench

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** One benchmark run: one workload, one closed-loop client, in a fresh
  * process. perfbench/run.py builds the program and launches this main;
  * see perfbench/README.md for the metrics it reports.
  *
  * Args: --workload W --seed N --seconds S --trace 0|1 --data DIR
  *       --cpus N --work DIR --t0-ms EPOCH_MS --out FILE
  *       [--digests DIR] [--record-digests] */
object Main {

  /** What a workload does, step by step. `op` runs one timed operation and
    * returns its kind; `check` runs after each op outside the timed region
    * and returns the problems it found. */
  trait Workload {
    def fixture(): Unit
    def warmup(): Unit
    def op(i: Int): String
    def check(i: Int): Seq[String] = Nil
    /** True when the loop may stop once the time budget is spent. */
    def atBoundary(nextOp: Int): Boolean = true
    def finish(): Seq[String] = Nil
    def layerMetrics(ops: Seq[OpRec]): Seq[(String, Double, String)] = Nil
    /** The program module whose code runs in the stages op `i` starts from
      * the benchmark's own call sites (None: the module of the enclosing
      * span's name). */
    def execModule(i: Int): Option[String] = None
    def info: Seq[(String, String)] = Nil
  }

  final case class OpRec(i: Int, kind: String, startMs: Double, endMs: Double,
      ok: Boolean, error: String) {
    def s: Double = (endMs - startMs) / 1e3
  }

  def main(argv: Array[String]): Unit = {
    val recordDigests = argv.contains("--record-digests")
    val a = argv.filter(_ != "--record-digests").grouped(2)
      .collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def arg(k: String) = a.getOrElse(k, sys.error(s"missing --$k"))
    val workload = arg("workload")
    val seed = arg("seed").toLong
    val seconds = arg("seconds").toDouble
    val traced = arg("trace") == "1"
    val dir = arg("data")
    val cpus = arg("cpus").toInt
    val work = arg("work")
    val t0Ms = arg("t0-ms").toDouble
    val out = arg("out")
    val digestDir = a.get("digests")

    // the session graft.Bench builds, plus a scratch dir inside the run's
    // work directory
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.local.dir", s"$work/spark-local")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val tr = new Trace(spark, traced)
    val launchS = (tr.nowMs - t0Ms) / 1e3

    val w: Workload = workload match {
      case "n2k_import" => new N2kImport(spark, dir, seed, tr)
      case "curate_ingest" => new CurateIngest(spark, dir, seed, tr, work, digestDir, recordDigests)
      case "query_mix" => new QueryMix(spark, dir, seed, tr, digestDir, recordDigests)
      case other => sys.error(s"unknown workload $other")
    }

    // set-up: the fresh-state fixture, then one untimed warm-up op;
    // setup_s runs from process start to the first timed op
    val fix0 = System.nanoTime()
    w.fixture()
    val fixtureS = (System.nanoTime() - fix0) / 1e9
    val warm0 = System.nanoTime()
    w.warmup()
    val warmupS = (System.nanoTime() - warm0) / 1e9
    val setupS = (tr.nowMs - t0Ms) / 1e3

    // the closed loop: next op starts when the previous one ends; time
    // spent in output checks is excluded from the timed wall
    val ops = mutable.ArrayBuffer.empty[OpRec]
    val problems = mutable.ArrayBuffer.empty[String]
    var checkMs = 0.0
    val loop0 = tr.nowMs
    var i = 0
    while ((tr.nowMs - loop0 - checkMs) / 1e3 < seconds || !w.atBoundary(i)) {
      val s0 = tr.nowMs
      val (kind, err) =
        try (tr.op(i.toLong)(w.op(i)), "")
        catch { case e: Throwable => ("error", s"${e.getClass.getSimpleName}: ${e.getMessage}") }
      val s1 = tr.nowMs
      val found = if (err.nonEmpty) Nil else
        try w.check(i) catch { case e: Throwable => Seq(s"op $i check threw: ${e.getMessage}") }
      checkMs += tr.nowMs - s1
      if (err.nonEmpty) problems += s"op $i failed: $err"
      problems ++= found
      ops += OpRec(i, kind, s0, s1, err.isEmpty && found.isEmpty,
        if (err.nonEmpty) err else found.mkString("; "))
      System.err.println(f"[perfbench] op $i%d $kind%s ${(s1 - s0) / 1e3}%.3f s")
      i += 1
    }
    val wallS = (tr.nowMs - loop0 - checkMs) / 1e3

    val finalProblems =
      try w.finish() catch { case e: Throwable => Seq(s"final check threw: ${e.getMessage}") }
    problems ++= finalProblems
    val failed = if (finalProblems.nonEmpty) ops.size else ops.count(!_.ok)

    val lat = ops.filter(_.ok).map(_.s).sorted.toSeq
    val (tail, tailPct) = Stats.tail(lat)
    val e2e = Seq(
      ("setup_s", setupS, "s"),
      ("ops_per_s", ops.count(_.ok) / wallS, "1/s"),
      ("op_p50_s", Stats.median(lat), "s"),
      ("op_tail_s", tail, "s"),
      ("peak_rss_mb", Stats.peakRssMb(), "MB"))
    tr.drain()
    val layers = if (traced) w.layerMetrics(ops.toSeq) ++ Layers.spark(tr, ops.toSeq, cpus, w.execModule) else Nil
    val traceDetail = if (traced) Layers.spanReport(tr, ops.toSeq) else "null"
    tr.stop()
    spark.stop()

    val rec = new StringBuilder
    rec ++= "{"
    rec ++= s""""workload":${J.str(workload)},"seed":$seed,"seconds":${J.num(seconds)},"trace":${if (traced) 1 else 0},"""
    rec ++= s""""cpus":$cpus,"spark_version":${J.str(spark.version)},"jvm":${J.str(System.getProperty("java.vm.name") + " " + System.getProperty("java.runtime.version"))},"""
    rec ++= s""""jvm_flags":${J.str(java.lang.management.ManagementFactory.getRuntimeMXBean.getInputArguments.toArray.mkString(" "))},"""
    rec ++= s""""attempted":${ops.size},"failed":$failed,"correct":${problems.isEmpty},"""
    rec ++= s""""samples":${lat.size},"op_tail_pct":${J.num(tailPct)},"timed_wall_s":${J.num(wallS)},"check_s":${J.num(checkMs / 1e3)},"""
    rec ++= s""""fail_ratio":${J.num(if (ops.isEmpty) 1.0 else failed.toDouble / ops.size)},"""
    rec ++= s""""setup":{"launch_s":${J.num(launchS)},"fixture_s":${J.num(fixtureS)},"warmup_s":${J.num(warmupS)}},"""
    rec ++= s""""problems":${problems.take(50).map(J.str).mkString("[", ",", "]")},"""
    rec ++= s""""info":${w.info.map { case (k, v) => s"${J.str(k)}:$v" }.mkString("{", ",", "}")},"""
    rec ++= s""""e2e":${J.metrics(e2e)},"layers":${J.metrics(layers)},"""
    rec ++= s""""ops":${ops.map(o => s"""{"i":${o.i},"kind":${J.str(o.kind)},"s":${J.num(o.s)},"ok":${o.ok}}""").mkString("[", ",", "]")},"""
    rec ++= s""""spans":$traceDetail}"""
    java.nio.file.Files.write(java.nio.file.Paths.get(out), rec.toString.getBytes("UTF-8"))
  }
}

/** Minimal JSON writing (numbers keep all their digits). */
object J {
  def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    (b += '"').toString
  }
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
  /** Reads a flat JSON object of string values; a missing file is empty. */
  def readFlatMap(path: String): Map[String, String] = {
    val f = new java.io.File(path)
    if (!f.exists) Map.empty
    else org.json4s.jackson.JsonMethods.parse(f) match {
      case org.json4s.JObject(fields) => fields.collect { case (k, org.json4s.JString(v)) => k -> v }.toMap
      case _ => sys.error(s"$path is not a JSON object")
    }
  }
  def writeFlatMap(path: String, kv: Seq[(String, String)]): Unit = {
    val p = java.nio.file.Paths.get(path).toAbsolutePath
    java.nio.file.Files.createDirectories(p.getParent)
    java.nio.file.Files.write(p,
      kv.map { case (k, v) => s"  ${str(k)}: ${str(v)}" }.mkString("{\n", ",\n", "\n}\n").getBytes("UTF-8"))
  }
  def metrics(ms: Seq[(String, Double, String)]): String =
    ms.map { case (k, v, u) => s"""${str(k)}:{"value":${num(v)},"unit":${str(u)}}""" }
      .mkString("{", ",", "}")
}

object Stats {
  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted; val n = s.size
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
    }

  /** The latency at the highest percentile that has at least ten samples
    * beyond it: the sample at sorted rank n-11 (0-based), and its
    * percentile. With ten or fewer samples no such percentile exists and
    * the maximum is reported as percentile 100. */
  def tail(sorted: Seq[Double]): (Double, Double) = {
    val n = sorted.size
    if (n == 0) (Double.NaN, Double.NaN)
    else if (n <= 10) (sorted.last, 100.0)
    else (sorted(n - 11), 100.0 * (n - 10) / n)
  }

  /** The process's peak resident set (VmHWM), in MB. */
  def peakRssMb(): Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().collectFirst {
      case l if l.startsWith("VmHWM:") => l.split("\\s+")(1).toDouble / 1024.0
    }.getOrElse(Double.NaN)
    finally src.close()
  }

  /** Order-independent 64-bit digest of a multiset of strings. */
  def digest(items: Iterator[String]): String = {
    var sum = 0L; var n = 0L
    items.foreach { s =>
      val md = java.security.MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8"))
      sum += java.nio.ByteBuffer.wrap(md).getLong
      n += 1
    }
    f"$n:${sum}%016x"
  }
}
