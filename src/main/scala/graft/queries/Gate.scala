package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One gate of the driver contract: its key, the Spark build over a
  * scale-factor directory, and the equivalent ANSI SQL the DuckDB oracle
  * runs on the same parquet tables. */
final case class Gate(key: String, build: (SparkSession, String) => DataFrame, oracleSql: String)

object Gate {
  /** Indexes gates by key. Fails on a duplicate key or a blank oracle SQL
    * (a null SQL is an object initialized out of order). */
  def index(gates: Seq[Gate]): Map[String, Gate] = {
    val dups = gates.groupBy(_.key).collect { case (k, gs) if gs.size > 1 => k }
    require(dups.isEmpty, s"duplicate gate keys: ${dups.toSeq.sorted.mkString(", ")}")
    val blank = gates.filter(g => g.oracleSql == null || g.oracleSql.trim.isEmpty).map(_.key)
    require(blank.isEmpty, s"gates without oracle SQL: ${blank.sorted.mkString(", ")}")
    gates.map(g => g.key -> g).toMap
  }
}
