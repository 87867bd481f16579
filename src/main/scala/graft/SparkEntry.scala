package graft
import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.queries._

/** Driver contract — see SURVEY.md §7. */
object SparkEntry {
  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    Relational.q5(spark, "/root/testdata/sf0.001")

  private val gates: Map[String, Gate] = Gate.index(Seq(
    Relational.gates, Relational2.gates, Relational3.gates, Relational4.gates,
    Relational5.gates, Relational6.gates, Relational7.gates, Relational8.gates,
    Relational9.gates, Relational10.gates, Relational11.gates, Relational12.gates,
    GraphQ.gates, Events.gates, Etl.gates, Etl2.gates, Etl3.gates, Etl4.gates,
    Text.gates, Text2.gates, Web.gates, DedupQ.gates, Similarity.gates,
    Similarity2.gates, Modal.gates, Modal2.gates, Modal3.gates, Modal4.gates,
    N2k.gates).flatten)

  /** One entry per implemented operator from SURVEY.md §2. */
  val queries: Map[String, (SparkSession, String) => DataFrame] =
    gates.map { case (k, g) => k -> g.build }

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. */
  val oracleSql: Map[String, String] = gates.map { case (k, g) => k -> g.oracleSql }
}
