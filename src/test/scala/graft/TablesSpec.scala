package graft

import java.nio.file.{Files, Path, StandardCopyOption}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType
import org.scalatest.funsuite.AnyFunSuite

/** Tables.load resolves each single file's parquet schema once per file
  * identity and hands it to the reader: the result must be exactly what
  * inference gives, and a file rewritten in place must be read with its
  * new schema. */
class TablesSpec extends AnyFunSuite {
  lazy val spark = SparkTestBase.spark

  /** Write `df` as ONE parquet file at `target` (replacing it), the layout
    * of the test tables. */
  private def writeSingleFile(df: DataFrame, target: Path): Unit = {
    val tmp = Files.createTempDirectory("graft-tables")
    df.coalesce(1).write.mode("overwrite").parquet(tmp.resolve("out").toString)
    val part = Files.list(tmp.resolve("out")).filter(_.toString.endsWith(".parquet"))
      .findFirst().get
    Files.move(part, target, StandardCopyOption.REPLACE_EXISTING)
  }

  test("a memoized load has the inferred schema and the same rows") {
    val d = Files.createTempDirectory("graft-tables-memo")
    writeSingleFile(spark.range(5).select(col("id"), col("id").cast("string").as("s"),
      (col("id") / 3).as("x"), (col("id") / 7).cast("decimal(18,6)").as("dec"),
      date_add(lit("2001-01-01").cast("date"), col("id").cast("int")).as("d"),
      timestamp_seconds(col("id")).as("ts")), d.resolve("mixed.parquet"))
    val inferred = spark.read.parquet(Tables.path(d.toString, "mixed"))
    val first = Tables.load(spark, d.toString, "mixed")
    val second = Tables.load(spark, d.toString, "mixed") // from the memo
    assert(first.schema == inferred.schema)
    assert(second.schema == inferred.schema)
    assert(second.exceptAll(inferred).isEmpty && inferred.exceptAll(second).isEmpty)
    assert(second.count() == 5L)
  }

  test("a file rewritten at the same path is read with its new schema; events.ts normalizes both ways") {
    val d = Files.createTempDirectory("graft-events")
    val target = d.resolve("events.parquet")
    // ts as a TIMESTAMP: events converts it to epoch nanos
    writeSingleFile(spark.range(3).select(col("id"),
      timestamp_micros(col("id") * 1000000L + 7L).as("ts")), target)
    val asTs = Tables.events(spark, d.toString)
    assert(asTs.schema("ts").dataType == LongType)
    assert(asTs.orderBy("id").select("ts").collect().map(_.getLong(0)).toSeq ==
      Seq(7000L, 1000007000L, 2000007000L))
    // same path, another schema: ts already a BIGINT, plus a new column
    writeSingleFile(spark.range(2).select(col("id"), (col("id") + 41L).as("ts"),
      lit("x").as("kind")), target)
    val asLong = Tables.events(spark, d.toString)
    assert(asLong.columns.toSeq == Seq("id", "ts", "kind"))
    assert(asLong.orderBy("id").select("ts").collect().map(_.getLong(0)).toSeq == Seq(41L, 42L))
  }
}
