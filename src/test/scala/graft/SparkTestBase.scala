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
}
