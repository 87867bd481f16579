package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, DoubleType}
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.SplitSum

/** SplitSum (the r15 split-long-sum optimization of the OracleParity
  * decimal-sum convention) must be VALUE-IDENTICAL to the direct
  * `sum(c.cast(DECIMAL(38,0)))` it replaces — including negatives, nulls,
  * empty groups, and values at the repo's micro-unit magnitudes — and the
  * doubles derived from it must be bit-equal. q_corr is the first caller;
  * a drift here is a driver hash-fail on every SplitSum gate. */
class SplitSumSpec extends AnyFunSuite {
  lazy val spark = SparkTestBase.spark
  import spark.implicits._

  private val d38 = DecimalType(38, 0)

  private def compare(rows: Seq[(String, java.lang.Long)]): Unit = {
    val df = rows.toDF("g", "v")
    val direct = df.groupBy($"g").agg(sum($"v".cast(d38)).as("t")).orderBy($"g")
    val splitAggs = SplitSum.aggs($"v", "t")
    val split = df.groupBy($"g").agg(splitAggs.head, splitAggs.tail: _*)
      .select($"g", SplitSum.total("t").as("t")).orderBy($"g")
    val a = direct.collect().map(r => (r.getString(0), Option(r.getDecimal(1)).map(_.toBigInteger)))
    val b = split.collect().map(r => (r.getString(0), Option(r.getDecimal(1)).map(_.toBigInteger)))
    assert(a.toSeq == b.toSeq, s"direct=${a.toSeq} split=${b.toSeq}")
  }

  test("identity on positives, negatives, zeros and mixed signs") {
    compare(Seq(
      ("a", 0L), ("a", 1L), ("a", (1L << 24) - 1), ("a", 1L << 24),
      ("b", -1L), ("b", -(1L << 24)), ("b", -(1L << 24) - 1), ("b", 7L),
      ("c", 5000000000000L), ("c", -4999999999999L), ("c", 123456789L)
    ).map { case (g, v) => (g, java.lang.Long.valueOf(v)) })
  }

  test("identity under nulls and an all-null group (sum semantics preserved)") {
    compare(Seq(
      ("a", java.lang.Long.valueOf(10L)), ("a", null),
      ("n", null), ("n", null)))
  }

  test("large-magnitude micro-units: sums past 2^53 stay exact") {
    // 2000 rows of ~9e12 micro-units: total 1.8e16 > 2^53 — a double sum
    // would round; the split sum must match the decimal sum exactly.
    val rows = (1 to 2000).map(i => ("a", java.lang.Long.valueOf(9000000000000L + i)))
    compare(rows)
  }

  test("xsum/xavg: bit-equal to the direct decimal-sum forms they replace") {
    import graft.functions.OracleParity.{xsum, xavg}
    val d18 = DecimalType(18, 6)
    // nulls, negatives, near-ceiling magnitudes, fp-noisy fractions
    // (an over-DECIMAL(18,6) value raises under ANSI in BOTH forms, so
    // that regime has no silent-divergence surface to pin)
    val df = Seq(("a", 1.1), ("a", -2.37e7), ("a", 9.9e11), ("a", 0.3333333),
      ("b", 1e-7), ("b", 0.0), ("c", Double.NaN)).toDF("g", "v")
      .select($"g", when(isnan($"v"), lit(null)).otherwise($"v").as("v"))
    val direct = df.groupBy($"g").agg(
      sum($"v".cast(d18)).cast(DoubleType).as("s"),
      (sum($"v".cast(d18)).cast(DoubleType) / count($"v".cast(d18)).cast(DoubleType)).as("m"))
      .orderBy($"g")
    val opt = df.groupBy($"g").agg(xsum($"v").as("s"), xavg($"v").as("m")).orderBy($"g")
    def bits(r: org.apache.spark.sql.Row) = (r.getString(0),
      Option(r.get(1)).map(x => java.lang.Double.doubleToLongBits(x.asInstanceOf[Double])),
      Option(r.get(2)).map(x => java.lang.Double.doubleToLongBits(x.asInstanceOf[Double])))
    assert(direct.collect().map(bits).toSeq == opt.collect().map(bits).toSeq)
  }

  test("q_corr shape: derived doubles are bit-equal to the decimal-sum chain") {
    val d18 = DecimalType(18, 6)
    val df = Seq(("x", 1.1, 2.37), ("x", 3.14159, 0.005), ("x", 1e5, 99999.99),
      ("y", 0.000001, 7.5), ("y", 123.456, 654.321)).toDF("g", "p", "q")
    def micro(c: org.apache.spark.sql.Column) = (c.cast(d18) * lit(1000000L)).cast("long")
    val direct = df.groupBy($"g")
      .agg(sum($"p".cast(d18)).cast(DoubleType).as("sp"),
        sum(($"p" * $"q").cast(DecimalType(24, 6))).cast(DoubleType).as("spq"))
      .orderBy($"g")
    val sAggs = SplitSum.aggs(micro($"p"), "sp") ++
      SplitSum.aggs((($"p" * $"q").cast(DecimalType(24, 6)) * lit(1000000L)).cast("long"), "spq")
    val split = df.groupBy($"g")
      .agg(sAggs.head, sAggs.tail: _*)
      .select($"g",
        (SplitSum.total("sp") / lit(1000000L)).cast(DecimalType(38, 6)).cast(DoubleType).as("sp"),
        (SplitSum.total("spq") / lit(1000000L)).cast(DecimalType(38, 6)).cast(DoubleType).as("spq"))
      .orderBy($"g")
    val a = direct.collect().map(r => (r.getString(0),
      java.lang.Double.doubleToLongBits(r.getDouble(1)), java.lang.Double.doubleToLongBits(r.getDouble(2))))
    val b = split.collect().map(r => (r.getString(0),
      java.lang.Double.doubleToLongBits(r.getDouble(1)), java.lang.Double.doubleToLongBits(r.getDouble(2))))
    assert(a.toSeq == b.toSeq)
  }

  test("ANSI guard: a SplitSum plan under ansi.enabled=false is rejected loudly") {
    // r16 (r15 VERDICT "what's wrong" #1): SplitSum's exactness depends on
    // ANSI overflow errors; the injected check rule must turn the
    // silent-wraparound configuration into an analysis-time failure.
    val s2 = spark.newSession()
    s2.conf.set("spark.sql.ansi.enabled", "false")
    import s2.implicits._
    val df = Seq(("a", 1L), ("a", 2L)).toDF("g", "v")
    val aggs = SplitSum.aggs(col("v"), "t")
    val e = intercept[Exception] {
      df.groupBy($"g").agg(aggs.head, aggs.tail: _*)
        .select($"g", SplitSum.total("t")).collect()
    }
    def msgs(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ msgs(t.getCause)
    assert(msgs(e).exists(_.contains("ansi.enabled")))
    // a half-sum wrapped in a conditional is still a SplitSum shape
    val wrapped = intercept[Exception] {
      df.groupBy($"g").agg(sum(when($"v" > 0, shiftright($"v", SplitSum.Shift))).as("hi"))
        .collect()
    }
    assert(msgs(wrapped).exists(_.contains("ansi.enabled")))
    s2.conf.set("spark.sql.ansi.enabled", "true")
    // and the identical plan passes with ANSI back on
    val ok = df.groupBy($"g").agg(aggs.head, aggs.tail: _*)
      .select($"g", SplitSum.total("t").as("t")).collect()
    assert(ok.length == 1 && ok.head.getDecimal(1).longValueExact == 3L)
  }
}
