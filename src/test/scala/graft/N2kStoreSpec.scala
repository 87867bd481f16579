package graft

import java.sql.DriverManager

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.api.N2kBinding
import graft.sources.JdbcUpsertSink

/** The concrete n2kresult binding against a real database: all fourteen
  * tables (7 dims, 2 links, analysis/anomaly/observation/result facts and
  * the analysis_dataset link) land FK-first in ONE transaction, a
  * mid-transaction death makes NOTHING visible, and a plain retry
  * converges — the reference's single-DBI-transaction contract over the
  * whole graph, not just one dim+fact pair. */
class N2kStoreSpec extends AnyFunSuite {
  lazy val spark = SparkTestBase.spark

  private val url = "jdbc:derby:memory:n2kdb;create=true"
  private val dir = "/root/testdata/sf0.001"

  /** (Re)create the fourteen target tables, empty, in the database at
    * `db`: each table's columns and types are its empty state's schema
    * (the stamped tables' stamp columns included), keyed on its keyCols. */
  private def createTables(db: String): Unit = {
    val w = N2kBinding.window(spark, dir, "1996-01-01", "1996-02-01")
    val conn = DriverManager.getConnection(db)
    try {
      for (t <- N2kBinding.Graph) {
        try conn.createStatement().executeUpdate(s"DROP TABLE n2k_${t.name}")
        catch { case _: Exception => () }
        conn.createStatement().executeUpdate(JdbcUpsertSink.DerbyDialect.ddl(
          s"n2k_${t.name}", N2kBinding.emptyState(t, w).schema, t.keyCols))
      }
    } finally conn.close()
  }

  /** Every row of every target table, rendered and sorted per table. */
  private def contents(db: String): Map[String, Seq[String]] = {
    val c = DriverManager.getConnection(db)
    try N2kBinding.Graph.map { t =>
      val rs = c.createStatement().executeQuery(s"SELECT * FROM n2k_${t.name}")
      val n = rs.getMetaData.getColumnCount
      val rows = scala.collection.mutable.ArrayBuffer.empty[String]
      while (rs.next()) rows += (1 to n).map(i => String.valueOf(rs.getObject(i))).mkString("|")
      t.name -> rows.sorted.toSeq
    }.toMap
    finally c.close()
  }

  /** Imports `w` into `state` and stores it, the way a production import
    * runs (window checkpointed once, then prepare, commit, store). */
  private def importAndStore(state: Map[String, org.apache.spark.sql.DataFrame],
      w: org.apache.spark.sql.DataFrame, stamp: Long, db: String) = {
    val next = N2kBinding.importAll(state, w, stamp)
    N2kBinding.storeAll(next, db)
    next
  }

  private def count(table: String): Int = {
    val c = DriverManager.getConnection(url)
    try {
      val rs = c.createStatement().executeQuery(s"SELECT COUNT(*) FROM $table")
      rs.next(); rs.getInt(1)
    } finally c.close()
  }

  private def despawnedCount(table: String): Int = {
    val c = DriverManager.getConnection(url)
    try {
      val rs = c.createStatement().executeQuery(
        s"SELECT COUNT(*) FROM $table WHERE despawned")
      rs.next(); rs.getInt(1)
    } finally c.close()
  }

  test("whole-graph store: mid-transaction death leaves all 14 tables empty; retry converges; despawn lands") {
    createTables(url)

    val w1 = N2kBinding.window(spark, dir, "1996-01-01", "1998-01-01").localCheckpoint()
    val w2 = N2kBinding.window(spark, dir, "1997-01-01", "1999-01-01").localCheckpoint()
    val st0 = N2kBinding.empty(w1)
    val st1 = N2kBinding.importAll(st0, w1, stamp = 1L)

    // kill the single transaction AFTER all seven dim merges and both
    // link merges ran, BEFORE the fact merges commit — the worst partial
    // state
    val ex = intercept[RuntimeException] {
      N2kBinding.storeAll(st1, url,
        onMergeStepForTest = i => if (i == 9) throw new RuntimeException("injected crash"))
    }
    assert(ex.getMessage == "injected crash")
    for (t <- N2kBinding.Graph)
      assert(count(s"n2k_${t.name}") == 0,
        s"n2k_${t.name} must be empty after the rollback — no partial import visible")

    // plain retry of the same call converges (idempotent staging + MERGE)
    N2kBinding.storeAll(st1, url)
    val counts1 = N2kBinding.Graph.map(t => t.name -> count(s"n2k_${t.name}")).toMap
    for (t <- N2kBinding.Graph) {
      val expected = st1(t.name).count().toInt
      assert(counts1(t.name) == expected,
        s"n2k_${t.name}: ${counts1(t.name)} rows in DB, expected $expected")
      assert(counts1(t.name) > 0, s"n2k_${t.name} must not be empty at sf0.001")
    }

    // and re-running the SAME import against the database state is a no-op
    N2kBinding.storeAll(st1, url)
    for (t <- N2kBinding.Graph)
      assert(count(s"n2k_${t.name}") == counts1(t.name))

    // import 2: the shifted window — despawns must land as soft-delete
    // UPDATEs (rows kept), inserts/updates as new content
    val st2 = N2kBinding.importAll(st1, w2, stamp = 2L)
    N2kBinding.storeAll(st2, url)
    var totalDespawned = 0
    for (t <- N2kBinding.Graph if t.stamped) {
      val merged = st2(t.name)
      val expectedRows = merged.count().toInt // full history: old + new keys
      assert(count(s"n2k_${t.name}") == expectedRows,
        s"n2k_${t.name}: despawn must keep rows, never delete")
      val expectedDespawned = merged.filter(col("despawned")).count().toInt
      assert(despawnedCount(s"n2k_${t.name}") == expectedDespawned)
      totalDespawned += expectedDespawned
    }
    // the year the shift drops must despawn at least the year-keyed facts
    // (the link table may legitimately see every pair recur at sf0.001)
    assert(totalDespawned > 0, "the shifted window must despawn something")
  }

  test("the key check runs inside the merge job: a null sg_brand aborts importAll, naming its table, and no database table changes") {
    val db = "jdbc:derby:memory:n2kvalid;create=true"
    createTables(db)
    val w1 = N2kBinding.window(spark, dir, "1996-01-01", "1998-01-01").localCheckpoint()
    val st0 = N2kBinding.empty(w1)
    val st1 = importAndStore(st0, w1, 1L, db)
    val before = contents(db)
    assert(before.values.forall(_.nonEmpty))

    // plant null species-group keys in import 2's window; prepareImport
    // is lazy, so nothing fails until the merge job evaluates the extracts
    val broken = N2kBinding.window(spark, dir, "1997-01-01", "1999-01-01")
      .withColumn("sg_brand", when(col("l_partkey") % 7 === 0, lit(null)).otherwise(col("sg_brand")))
      .localCheckpoint()
    val extracts = N2kBinding.prepareImport(broken)
    assert(extracts.map(_._1) == N2kBinding.Graph)
    val e = intercept[Exception](importAndStore(st1, broken, 2L, db))
    val sgTables = N2kBinding.Graph.filter(_.keyCols.contains("sg_brand")).map(_.name)
    val named = s"validation failed: (${sgTables.mkString("|")}) has a null key".r
    assert(named.findFirstIn(e.getMessage).isDefined, s"got: ${e.getMessage}")
    assert(contents(db) == before, "a failed validation must leave every target table unchanged")
  }

  test("anomaly: the key check runs BEFORE the return-ratio filter") {
    val anomaly = N2kBinding.Graph.find(_.name == "anomaly").get
    // null keys only on non-returned lines: the null group's return ratio
    // is 0, so the ratio filter alone would drop it from the extract
    val w = N2kBinding.window(spark, dir, "1996-01-01", "1998-01-01")
      .withColumn("sg_brand",
        when(col("l_returnflag") =!= "R" && col("l_partkey") % 7 === 0, lit(null))
          .otherwise(col("sg_brand")))
      .localCheckpoint()
    assert(N2kBinding.extract(anomaly, w).filter(col("sg_brand").isNull).count() == 0L)
    val e = intercept[Exception](N2kBinding.checkKeys(anomaly, N2kBinding.extract(anomaly, w)).count())
    assert(e.getMessage.contains("validation failed: anomaly has a null key"), s"got: ${e.getMessage}")
  }

  test("job budget: a repeated import at sf0.001 starts at most 67 Spark jobs") {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val db = "jdbc:derby:memory:n2kbudget;create=true"
    createTables(db)
    def importWindow(state: Map[String, org.apache.spark.sql.DataFrame], lo: String,
        hi: String, stamp: Long) =
      importAndStore(state, N2kBinding.window(spark, dir, lo, hi).localCheckpoint(), stamp, db)
    val w0 = N2kBinding.window(spark, dir, "1996-01-01", "1996-02-01")
    val st0 = N2kBinding.empty(w0)
    val st1 = importWindow(st0, "1996-01-01", "1997-01-01", 1L)

    // jobs are counted up to a marker job: the listener bus delivers
    // events in order, so every job of the import has been seen by then
    val marker = "graft.n2k.budget.marker"
    val jobs = new java.util.concurrent.atomic.AtomicInteger()
    val markerSeen = new java.util.concurrent.CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        if (Option(j.properties).exists(_.getProperty(marker) != null)) markerSeen.countDown()
        else jobs.incrementAndGet()
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      importWindow(st1, "1996-04-01", "1997-04-01", 2L)
      spark.sparkContext.setLocalProperty(marker, "1")
      try spark.sparkContext.parallelize(Seq(1), 1).count()
      finally spark.sparkContext.setLocalProperty(marker, null)
      assert(markerSeen.await(60, java.util.concurrent.TimeUnit.SECONDS))
    } finally spark.sparkContext.removeSparkListener(listener)
    // window checkpoint, one merge job per table (plus its AQE shuffle
    // stages) and one staging job per table; the parquet schemas come
    // from the memo and no extract is checkpointed or validated apart
    assert(jobs.get <= 67, s"a repeated import started ${jobs.get} jobs")
  }
}
