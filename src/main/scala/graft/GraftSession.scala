package graft

import org.apache.spark.sql.SparkSession

/** The session every graft main runs in. */
object GraftSession {
  /** A `local[cpus]` builder with one shuffle partition per core, UTC
    * session time, parquet nanosecond timestamps read as BIGINT (see
    * `Tables.events`), the graft extensions and AQE. Callers add their own
    * confs and call `getOrCreate()`. */
  def local(cpus: String): SparkSession.Builder =
    SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.adaptive.enabled", "true")
}
