package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.api.N2kBinding

/** r16 optimization pin: `importPairSummaryOnePass` (one aggregation per
  * table over the shared span, per-window conditional aggregates) is
  * value-identical to `importPairSummary`, two imports through the path
  * that writes the database — on the real corpus across all four
  * actions, and on planted frames exercising the subtle branches (the
  * anomaly per-window ratio filter, attribute-difference updates,
  * null-key validation aborts in either window). */
class N2kOnePassSpec extends AnyFunSuite {
  lazy val spark = SparkTestBase.spark

  private val dir = "/root/testdata/sf0.001"
  private def c1 = col("o_orderdate") < lit("1998-01-01").cast("timestamp_ntz")
  private def c2 = col("o_orderdate") >= lit("1997-01-01").cast("timestamp_ntz")

  test("one-pass summary ≡ two-extract merge path on sf0.001, all actions present") {
    val sp = N2kBinding.window(spark, dir, "1996-01-01", "1999-01-01", keepDate = true)
      .localCheckpoint()
    val w1 = sp.filter(c1).drop("o_orderdate")
    val w2 = sp.filter(c2).drop("o_orderdate")
    val ref = N2kBinding.importPairSummary(w1, w2).collect().map(_.toString)
    val one = N2kBinding.importPairSummaryOnePass(sp, c1, c2).collect().map(_.toString)
    assert(ref.length == one.length)
    assert(ref.sameElements(one))
    // the equality must cover a frame that actually exercises every action
    val acts = ref.map(_.split(",")(3)).toSet
    assert(Set("insert", "update", "keep", "despawn").forall(a => acts.exists(_.contains(a))))
  }

  /** Minimal planted span: every column the binding reads, two brands, a
    * controllable return-flag mix per (brand, year, window). */
  private def plantedSpan(rows: Seq[(Long, Long, String, Double, Int, String, String)]): DataFrame = {
    import spark.implicits._
    // (partkey, suppkey, returnflag, price, ship_yr, brand, orderdate)
    rows.toDF("l_partkey", "l_suppkey", "l_returnflag", "price", "ship_yr",
        "sg_brand", "od")
      .select(col("l_partkey"), col("l_suppkey"), col("l_returnflag"),
        col("price").cast("decimal(15,2)").as("l_extendedprice"),
        lit(0.0).cast("decimal(15,2)").as("l_discount"),
        col("ship_yr"), col("sg_brand"),
        concat(lit("part_"), col("l_partkey")).as("p_name"),
        lit("STANDARD ANODIZED TIN").as("p_type"),
        concat(lit("supp_"), col("l_suppkey")).as("s_name"),
        (col("l_suppkey") % 5).cast("int").as("n_nationkey"),
        concat(lit("nation_"), (col("l_suppkey") % 5)).as("n_name"),
        (col("l_suppkey") % 2).cast("int").as("r_regionkey"),
        concat(lit("region_"), (col("l_suppkey") % 2)).as("r_name"),
        col("od").cast("timestamp_ntz").as("o_orderdate"))
  }

  test("planted: anomaly ratio filter, attr updates, inserts and despawns replay identically") {
    // brand A year 1996: w1-only, 2/3 returns (anomaly fires, despawns in w2)
    // brand A ship_yr 1997: present in BOTH windows with different
    //   window-exclusive rows (od 1996 vs od 1998) → analysis UPDATE
    // brand B ship_yr 1998: w2-only (insert); brand B 1997 both (keep)
    val rows = Seq(
      (1L, 1L, "R", 100.0, 1996, "A", "1996-06-01"),
      (1L, 1L, "R", 110.0, 1996, "A", "1996-06-01"),
      (2L, 2L, "N", 120.0, 1996, "A", "1996-06-01"),
      (1L, 1L, "R", 100.0, 1997, "A", "1997-06-01"),
      (2L, 2L, "R", 130.0, 1997, "A", "1997-06-01"),
      (5L, 1L, "N", 170.0, 1997, "A", "1996-06-01"),
      (5L, 1L, "N", 180.0, 1997, "A", "1998-06-01"),
      (3L, 1L, "N", 140.0, 1997, "B", "1997-06-01"),
      (4L, 2L, "N", 150.0, 1998, "B", "1998-06-01"),
      (4L, 2L, "R", 160.0, 1998, "B", "1998-06-01"))
    val sp = plantedSpan(rows).localCheckpoint()
    val ref = N2kBinding.importPairSummary(
      sp.filter(c1).drop("o_orderdate"), sp.filter(c2).drop("o_orderdate"))
      .collect().map(_.toString)
    val one = N2kBinding.importPairSummaryOnePass(sp, c1, c2).collect().map(_.toString)
    assert(ref.sameElements(one))
    // the anomaly table must carry a despawn (brand A 1996 fires only in w1)
    assert(ref.exists(r => r.contains("anomaly") && r.contains("despawn")))
    // the analysis table must carry an update (A/1997 revenue differs per window)
    assert(ref.exists(r => r.contains("analysis") && r.contains("update")))
  }

  test("planted: null keys abort the one-pass import loudly") {
    def withNullPart(rows: Seq[(Long, Long, String, Double, Int, String, String)]) =
      plantedSpan(rows)
        .withColumn("l_partkey",
          when(col("l_partkey") === 2L, lit(null)).otherwise(col("l_partkey")))
        .localCheckpoint()
    // the null l_partkey in rows of both windows, then only in a row that
    // falls in window 2
    val inBoth = withNullPart(Seq(
      (1L, 1L, "N", 100.0, 1997, "A", "1997-06-01"),
      (2L, 2L, "N", 120.0, 1997, "A", "1997-06-01")))
    val inW2Only = withNullPart(Seq(
      (1L, 1L, "N", 100.0, 1997, "A", "1997-06-01"),
      (2L, 2L, "N", 120.0, 1998, "A", "1998-06-01")))
    def messages(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ messages(t.getCause)
    val spKeyTables = N2kBinding.Graph.filter(_.keyCols.contains("sp_key")).map(_.name)
    val named = s"validation failed: (${spKeyTables.mkString("|")}) has a null key".r
    for (sp <- Seq(inBoth, inW2Only)) {
      val e = intercept[Exception] {
        N2kBinding.importPairSummaryOnePass(sp, c1, c2).collect()
      }
      assert(messages(e).exists(named.findFirstIn(_).isDefined), s"got: ${messages(e)}")
    }
  }
}
