package graft

import org.apache.spark.sql.Observation
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftshim.ObservationBridge
import org.scalatest.funsuite.AnyFunSuite

/** The non-blocking metric read every bounded poll relies on
  * (GraphIterate.metric, Hierarchy.resolve, Components, the n2k key
  * checks): before the metrics land it must read as empty — so the poll
  * waits — and never throw. */
class ObservationBridgeSpec extends AnyFunSuite {
  lazy val spark = SparkTestBase.spark

  test("an Observation that never ran reads as Map.empty, not an NPE") {
    assert(ObservationBridge.getOrEmpty(new Observation()) == Map.empty)
  }

  test("an Observation that ran reads its metrics, and awaitLong returns them") {
    val obs = new Observation()
    spark.range(10).observe(obs, count(lit(1)).as("n"), sum(col("id")).as("s"))
      .collect()
    assert(ObservationBridge.awaitLong(obs, "n")(-1L) == 10L)
    assert(ObservationBridge.getOrEmpty(obs) == Map("n" -> 10L, "s" -> 45L))
  }

  test("a sum over zero rows reads as 0, not as a lost metric") {
    val obs = new Observation()
    spark.range(0).observe(obs, sum(col("id")).as("s")).collect()
    assert(ObservationBridge.awaitLong(obs, "s")(-1L) == 0L)
  }
}
