package graft

import org.apache.spark.sql.SparkSession

/** One SparkSession shared across all suites in the forked test JVM. */
object SparkTestBase {
  lazy val spark: SparkSession = {
    val s = GraftSession.local("4")
      .appName("graft-test")
      .config("spark.sql.warehouse.dir",
        java.nio.file.Files.createTempDirectory("graft-wh").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** Spark jobs `body` starts, counted with AQE off: an eager
    * localCheckpoint is then exactly 2 jobs in this Spark version (plan
    * compute + the checkpoint's cache-reading count), so an iterative
    * loop's per-round job count can be pinned exactly. */
  def jobsWithAqeOff(group: String)(body: => Unit): Int = {
    val prev = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    spark.sparkContext.setJobGroup(group, "")
    try body finally {
      spark.sparkContext.clearJobGroup()
      spark.conf.set("spark.sql.adaptive.enabled", prev)
    }
    // poll the async status store until the job count stabilizes
    def jobs(): Int = spark.sparkContext.statusTracker.getJobIdsForGroup(group).length
    var last = -1; var cur = jobs(); var i = 0
    while (cur != last && i < 50) { last = cur; Thread.sleep(100); cur = jobs(); i += 1 }
    cur
  }
}
