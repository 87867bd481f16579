package org.apache.spark.sql.graftshim

import org.apache.spark.sql.Observation

/** private[sql] bridge: the NON-blocking read of an Observation's metrics.
  * Callers poll with a bounded deadline instead of Observation.get's
  * indefinite block (a materialization path that never routes through
  * withAction would hang the driver forever there). */
object ObservationBridge {
  /** The metrics once they have landed, else `Map.empty`. Spark 4.1's own
    * Observation.getOrEmpty falls back to `Row.empty`, whose schema is
    * null, and then throws on `schema.map` — so a metric that crosses the
    * listener bus late crashed the poll instead of making it wait. */
  def getOrEmpty(o: Observation): Map[String, Any] = o.getRowOrEmpty match {
    case Some(r) if r.schema != null => r.getValuesMap[Any](r.schema.fieldNames.toSeq)
    case _ => Map.empty
  }

  /** Bounded poll (60 s) for one Long metric. An aggregate over zero rows
    * reads as 0; a metric that never lands runs `fallback`, which must
    * recompute the same figure the slow way rather than skip the check. */
  def awaitLong(o: Observation, key: String)(fallback: => Long): Long = {
    val deadline = System.nanoTime() + 60L * 1000 * 1000 * 1000
    var m = getOrEmpty(o)
    while (m.isEmpty && System.nanoTime() < deadline) {
      Thread.sleep(25); m = getOrEmpty(o)
    }
    m.get(key) match {
      case Some(n: Long) => n
      case Some(null)    => 0L // aggregate over zero rows
      case _             => fallback
    }
  }
}
