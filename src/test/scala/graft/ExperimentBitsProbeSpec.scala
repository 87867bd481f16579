package graft

import org.apache.spark.sql.{DataFrame, Row}
import org.scalatest.funsuite.AnyFunSuite

/** Raw-bits GOLDEN probe for the experiment family's emitted float chains
  * (VERDICT r14 "Next round" #7 — q_ks_test's raw-bits check, generalized):
  * every double a family gate emits is recomputed here in plain JVM
  * BigInt/BigDecimal + double arithmetic, written in EXACTLY the same
  * operation order as the Spark core, and compared by raw IEEE-754 bits.
  *
  * ExperimentDeterminismSpec proves each core is a pure function of the
  * data (partition-layout invariance); this spec proves WHICH function —
  * the documented exact-integer chain — so a future engine divergence
  * (a Spark upgrade changing Decimal.toDouble, a refactor reassociating
  * a float chain, a driver red) names its exact column and bit pattern
  * here before the driver's opaque hash does. Integer outputs are
  * asserted exactly; doubles via doubleToRawLongBits equality. The
  * JVM recomputation deliberately uses ONLY BigInt/BigDecimal for the
  * exact parts (never long overflow-prone intermediates) and
  * BigDecimal.doubleValue for big-int→double (the correctly-rounded
  * conversion Spark's Decimal.toDouble performs).
  *
  * Covers: anova, kruskalWallis, brownForsythe, brunnerMunzel,
  * cliffDelta, permTest, cuped, auc, welchTtest, cmh, tost, rateTest, did,
  * bootCi, and the q_ks_test gate itself on the sf0.01 events (its d and
  * d_crit recomputed from the emitted n1, n2 and d_num). mannWhitney
  * carries its invariant specs.
  */
class ExperimentBitsProbeSpec extends AnyFunSuite {
  lazy val spark = SparkTestBase.spark
  import spark.implicits._

  /** Deterministic pseudo-values from an index (no RNG state). */
  private def v(i: Int, m: Int): Long = ((i * 2654435761L) >>> 7) % m

  private def bits(d: Double): Long = java.lang.Double.doubleToRawLongBits(d)

  private def assertDouble(got: Any, want: Option[Double], ctx: String): Unit =
    (got, want) match {
      case (null, None) => ()
      case (g: java.lang.Double, Some(w)) =>
        assert(bits(g) == bits(w),
          f"$ctx: spark=$g%.17g (${bits(g)}%016x) jvm=$w%.17g (${bits(w)}%016x)")
      case _ => fail(s"$ctx: spark=$got jvm=$want (null-ness differs)")
    }

  private def d2(x: BigInt): Double = BigDecimal(x).toDouble

  // ------------------------------------------------------------ frames
  // Collapsed (type, value, c1, c2) — the cliff/bm/auc core contract.
  private lazy val coll2: Seq[(String, Double, Long, Long)] =
    (0 until 600).map { i => (s"t${i % 3}", v(i, 40).toDouble, v(i, 3) + 1L, v(i + 7, 3) + 1L) }
      .groupBy(r => (r._1, r._2)).toSeq
      .map { case ((t, x), rs) => (t, x, rs.map(_._3).sum, rs.map(_._4).sum) }
      .sortBy(r => (r._1, r._2))

  // Collapsed (type, value, c0, c1, c2, cnt) — the kruskalWallis contract.
  private lazy val coll3: Seq[(String, Double, Long, Long, Long)] =
    (0 until 600).map { i => (s"t${i % 3}", v(i, 40).toDouble, v(i, 3), v(i + 7, 3), v(i + 13, 2)) }
      .groupBy(r => (r._1, r._2)).toSeq
      .map { case ((t, x), rs) => (t, x, rs.map(_._3).sum, rs.map(_._4).sum, rs.map(_._5).sum) }
      .sortBy(r => (r._1, r._2))

  // Raw (type, variant, x6) — the anova/brownForsythe contract.
  private lazy val raw3: Seq[(String, Long, Long)] =
    (0 until 600).map(i => (s"t${i % 3}", v(i + 11, 3), (v(i, 997) + 1L) * 1000000L + v(i + 5, 999983)))
  private lazy val raw2: Seq[(String, Long, Long)] =
    raw3.map { case (t, vr, x) => (t, vr % 2, x) }

  // ----------------------------------------------------------- helpers

  private def rowsOf(df: DataFrame): Seq[Row] = df.collect().toSeq

  // ============================================================== ksTest
  test("ksTest: d and d_crit bitwise vs pure-JVM chain from the emitted integers") {
    // the cast path: Spark's DECIMAL→DOUBLE casts of d_num and n1·n2 are
    // correctly rounded, as is BigDecimal.doubleValue here; a mismatch
    // names Spark's cast path, an agreement with a red oracle hash names
    // the other engine's conversion of the same integers
    val got = rowsOf(graft.queries.Relational10.qKsTest(spark, "/root/testdata/sf0.01"))
    assert(got.nonEmpty)
    got.foreach { r =>
      val t = r.getString(0)
      val (n1, n2, dNum) = (r.getLong(1), r.getLong(2), r.getLong(3))
      val n1n2 = d2(BigInt(n1) * BigInt(n2))
      val d = d2(BigInt(dNum)) / n1n2
      val crit = 1.628 * math.sqrt((n1 + n2).toDouble / n1n2)
      assertDouble(r.get(4), Some(d), s"$t d")
      assertDouble(r.get(5), Some(crit), s"$t d_crit")
      assert(r.getBoolean(6) == (d > crit), s"$t significant")
    }
  }

  // ========================================================== cliffDelta
  test("cliffDelta: ints exact, delta bitwise vs pure-JVM chain") {
    val got = rowsOf(graft.queries.Relational10.cliffDelta(
      coll2.toDF("event_type", "value", "c1", "c2")))
    val want = coll2.groupBy(_._1).toSeq.sortBy(_._1).map { case (t, rs0) =>
      val rs = rs0.sortBy(_._2)
      val n1 = rs.map(_._3).sum; val n2 = rs.map(_._4).sum
      var cum2 = 0L; var nGt = BigInt(0); var nTies = BigInt(0)
      rs.foreach { case (_, _, c1, c2) =>
        cum2 += c2
        nGt += BigInt(c1) * (cum2 - c2); nTies += BigInt(c1) * c2
      }
      val pairs = BigInt(n1) * n2
      val nLt = pairs - nGt - nTies
      val delta = if (pairs == 0) None
        else Some(d2(nGt - nLt) / d2(pairs))
      val mag = delta.map(d => math.abs(d) match {
        case a if a < 0.147 => "negligible"
        case a if a < 0.33 => "small"
        case a if a < 0.474 => "medium"
        case _ => "large"
      })
      (t, n1, n2, nGt, nLt, nTies, delta, mag)
    }
    assert(got.size == want.size)
    got.zip(want).foreach { case (r, (t, n1, n2, g, l, ti, delta, mag)) =>
      assert(r.getString(0) == t && r.getLong(1) == n1 && r.getLong(2) == n2)
      assert(BigInt(r.getLong(3)) == g && BigInt(r.getLong(4)) == l &&
        BigInt(r.getLong(5)) == ti, s"$t pair counts")
      assertDouble(r.get(6), delta, s"$t delta")
      assert(Option(r.getString(7)) == mag, s"$t magnitude")
    }
  }

  // ================================================================ auc
  test("auc: AUC and Gini bitwise vs pure-JVM chain") {
    val got = rowsOf(graft.queries.Relational11.auc(
      coll2.toDF("event_type", "value", "c1", "c2")))
    val want = coll2.groupBy(_._1).toSeq.sortBy(_._1).map { case (t, rs0) =>
      val rs = rs0.sortBy(_._2)
      val n1 = rs.map(_._3).sum; val n2 = rs.map(_._4).sum
      var cum2 = 0L; var nGt = BigInt(0); var nTies = BigInt(0)
      rs.foreach { case (_, _, c1, c2) =>
        cum2 += c2; nGt += BigInt(c1) * (cum2 - c2); nTies += BigInt(c1) * c2
      }
      val p2 = BigInt(2) * n1 * n2
      val auc = if (p2 > 0) Some(d2(BigInt(2) * nGt + nTies) / d2(p2)) else None
      (t, n1, n2, auc, auc.map(a => 2.0 * a - 1.0))
    }
    got.zip(want).foreach { case (r, (t, n1, n2, auc, gini)) =>
      assert(r.getString(0) == t && r.getLong(1) == n1 && r.getLong(2) == n2)
      assertDouble(r.get(3), auc, s"$t auc")
      assertDouble(r.get(4), gini, s"$t gini")
    }
  }

  // ====================================================== kruskalWallis
  test("kruskalWallis: rank sums exact, H and H_adj bitwise vs pure-JVM chain") {
    val got = rowsOf(graft.queries.Relational11.kruskalWallis(
      coll3.map { case (t, x, c0, c1, c2) => (t, x, c0, c1, c2, c0 + c1 + c2) }
        .toDF("event_type", "value", "c0", "c1", "c2", "cnt")))
    val want = coll3.groupBy(_._1).toSeq.sortBy(_._1).map { case (t, rs0) =>
      val rs = rs0.sortBy(_._2)
      var cum = 0L
      var r0 = BigInt(0); var r1 = BigInt(0); var r2 = BigInt(0); var tt = BigInt(0)
      rs.foreach { case (_, _, c0, c1, c2) =>
        val cnt = c0 + c1 + c2; cum += cnt
        val rnk2 = BigInt((cum - cnt) * 2 + cnt + 1)
        r0 += BigInt(c0) * rnk2; r1 += BigInt(c1) * rnk2; r2 += BigInt(c2) * rnk2
        tt += (BigInt(cnt) * cnt - 1) * cnt
      }
      val n0 = rs.map(_._3).sum; val n1 = rs.map(_._4).sum; val n2 = rs.map(_._5).sum
      val n = n0 + n1 + n2
      def term(r: BigInt, nk: Long): Double =
        if (nk > 0) d2(r * r) / nk.toDouble else 0.0
      val sumTerm = term(r0, n0) + term(r1, n1) + term(r2, n2)
      val h = 3.0 * sumTerm / (n.toDouble * (n + 1).toDouble) - 3.0 * (n + 1).toDouble
      val nnn = BigInt(n) * n * n - n
      val c = 1.0 - d2(tt) / d2(nnn)
      (t, n0, n1, n2, r0, r1, r2,
        if (n > 1) Some(h) else None,
        if (n > 1 && c > 0.0) Some(h / c) else None)
    }
    got.zip(want).foreach { case (r, (t, n0, n1, n2, r0, r1, r2, h, hAdj)) =>
      assert(r.getString(0) == t && r.getLong(1) == n0 && r.getLong(2) == n1 && r.getLong(3) == n2)
      assert(BigInt(r.getLong(4)) == r0 && BigInt(r.getLong(5)) == r1 &&
        BigInt(r.getLong(6)) == r2, s"$t rank sums")
      assertDouble(r.get(7), h, s"$t h")
      assertDouble(r.get(8), hAdj, s"$t h_adj")
    }
  }

  // ============================================================== anova
  test("anova: means and F bitwise vs pure-JVM chain") {
    val got = rowsOf(graft.queries.Relational11.anova(
      raw3.toDF("event_type", "variant", "x6")))
    val want = raw3.groupBy(_._1).toSeq.sortBy(_._1).map { case (t, rs) =>
      def grp(k: Long) = rs.filter(_._2 == k)
      val ns = (0 to 2).map(k => grp(k).size.toLong)
      val sums = (0 to 2).map(k => grp(k).map(r => BigInt(r._3)).sum)
      val ss = rs.map(r => BigInt(r._3) * r._3).sum
      val nT = ns.sum
      def mean(r: BigInt, nk: Long): Option[Double] =
        if (nk > 0) Some(d2(r) / nk.toDouble / 1000000.0) else None
      def term(r: BigInt, nk: Long): Double =
        if (nk > 0) d2(r * r) / nk.toDouble else 0.0
      val sumRTerm = term(sums(0), ns(0)) + term(sums(1), ns(1)) + term(sums(2), ns(2))
      val g = sums.sum
      val between = sumRTerm - d2(g * g) / nT.toDouble
      val within = d2(ss) - sumRTerm
      val f = (nT - 3).toDouble / 2.0 * between / within
      (t, ns, mean(sums(0), ns(0)), mean(sums(1), ns(1)), mean(sums(2), ns(2)),
        if (ns.forall(_ > 0) && nT > 3 && within > 0.0) Some(f) else None)
    }
    got.zip(want).foreach { case (r, (t, ns, m0, m1, m2, f)) =>
      assert(r.getString(0) == t && (1 to 3).map(r.getLong) == ns)
      assertDouble(r.get(4), m0, s"$t mean0")
      assertDouble(r.get(5), m1, s"$t mean1")
      assertDouble(r.get(6), m2, s"$t mean2")
      assertDouble(r.get(7), f, s"$t f_anova")
    }
  }

  // ====================================================== brownForsythe
  test("brownForsythe: medians exact, F bitwise vs pure-JVM chain") {
    val got = rowsOf(graft.queries.Relational11.brownForsythe(
      raw2.toDF("event_type", "variant", "x6")))
    val want = raw2.groupBy(_._1).toSeq.sortBy(_._1).map { case (t, rs) =>
      // percentile_disc(0.5): smallest value with cumulative share >= 0.5
      def med(xs: Seq[Long]): Long = {
        val s = xs.sorted; s((math.ceil(0.5 * s.size) - 1).toInt)
      }
      def grp(k: Long) = rs.filter(_._2 == k).map(_._3)
      val (g0, g1) = (grp(0), grp(1))
      val (m0, m1) = (med(g0), med(g1))
      val z0 = g0.map(x => math.abs(x - m0)); val z1 = g1.map(x => math.abs(x - m1))
      val (n0, n1) = (g0.size.toLong, g1.size.toLong)
      val r0 = z0.map(BigInt(_)).sum; val r1 = z1.map(BigInt(_)).sum
      val s0 = z0.map(z => BigInt(z) * z).sum; val s1 = z1.map(z => BigInt(z) * z).sum
      val nT = n0 + n1
      def term(r: BigInt, nk: Long): Double =
        if (nk > 0) d2(r * r) / nk.toDouble else 0.0
      val sumRTerm = term(r0, n0) + term(r1, n1)
      val g = r0 + r1
      val between = sumRTerm - d2(g * g) / nT.toDouble
      val within = d2(s0 + s1) - sumRTerm
      val f = (nT - 2).toDouble * between / within
      (t, n0, n1, m0, m1,
        if (n0 > 0 && n1 > 0 && nT > 2 && within > 0.0) Some(f) else None)
    }
    got.zip(want).foreach { case (r, (t, n0, n1, m0, m1, f)) =>
      assert(r.getString(0) == t && r.getLong(1) == n0 && r.getLong(2) == n1)
      assert(r.getLong(3) == m0 && r.getLong(4) == m1, s"$t medians")
      assertDouble(r.get(5), f, s"$t f_bf")
    }
  }

  // ====================================================== brunnerMunzel
  test("brunnerMunzel: p_hat, W and df bitwise vs pure-JVM chain") {
    val got = rowsOf(graft.queries.Relational10.brunnerMunzel(
      coll2.toDF("event_type", "value", "c1", "c2")))
    val want = coll2.groupBy(_._1).toSeq.sortBy(_._1).map { case (t, rs0) =>
      val rs = rs0.sortBy(_._2)
      var cum1 = 0L; var cum2 = 0L
      var t1 = BigInt(0); var t2 = BigInt(0); var b1 = BigInt(0); var b2 = BigInt(0)
      rs.foreach { case (_, _, c1, c2) =>
        cum1 += c1; cum2 += c2
        val cnt = c1 + c2
        val p2 = BigInt((cum1 + cum2 - cnt) * 2 + cnt + 1)
        val w1 = BigInt((cum1 - c1) * 2 + c1 + 1)
        val w2 = BigInt((cum2 - c2) * 2 + c2 + 1)
        val d1 = p2 - w1; val d2v = p2 - w2
        t1 += BigInt(c1) * p2; t2 += BigInt(c2) * p2
        b1 += BigInt(c1) * d1 * d1; b2 += BigInt(c2) * d2v * d2v
      }
      val n1 = rs.map(_._3).sum; val n2 = rs.map(_._4).sum
      val a1 = t1 - BigInt(n1) * (n1 + 1); val a2 = t2 - BigInt(n2) * (n2 + 1)
      val s1num = BigInt(n1) * b1 - a1 * a1; val s2num = BigInt(n2) * b2 - a2 * a2
      val v1 = d2(s1num) / (4.0 * n1.toDouble * (n1 - 1).toDouble)
      val v2 = d2(s2num) / (4.0 * n2.toDouble * (n2 - 1).toDouble)
      val m1 = d2(t1) / (2.0 * n1.toDouble); val m2 = d2(t2) / (2.0 * n2.toDouble)
      val nv1 = n1.toDouble * v1; val nv2 = n2.toDouble * v2
      val pHat = (m2 - (n2 + 1).toDouble / 2.0) / n1.toDouble
      val wBm = n1.toDouble * n2.toDouble * (m2 - m1) /
        ((n1 + n2).toDouble * math.sqrt(nv1 + nv2))
      val dfW = (nv1 + nv2) * (nv1 + nv2) /
        (nv1 * nv1 / (n1 - 1).toDouble + nv2 * nv2 / (n2 - 1).toDouble)
      val ok = n1 > 1 && n2 > 1
      (t, n1, n2,
        if (n1 > 0 && n2 > 0) Some(pHat) else None,
        if (ok && nv1 + nv2 > 0.0) Some(wBm) else None,
        if (ok && nv1 + nv2 > 0.0 && nv1 > 0.0 && nv2 > 0.0) Some(dfW) else None)
    }
    got.zip(want).foreach { case (r, (t, n1, n2, pHat, wBm, dfW)) =>
      assert(r.getString(0) == t && r.getLong(1) == n1 && r.getLong(2) == n2)
      assertDouble(r.get(3), pHat, s"$t p_hat")
      assertDouble(r.get(4), wBm, s"$t w_bm")
      assertDouble(r.get(5), dfW, s"$t df_welch")
    }
  }

  // ============================================================ permTest
  test("permTest: md5-bit assignment replayed, p_value bitwise vs pure-JVM chain") {
    val r9 = 9 // bits 0..9: observed + 9 permutations — small but real
    val raw = (0 until 400).map(i =>
      (s"t${i % 2}", s"u${v(i, 37)}", (v(i, 500) + 1L) * 1000000L))
    val got = rowsOf(graft.queries.Relational11.permTest(
      raw.toDF("event_type", "user_id", "x6"), r9))
    val md = java.security.MessageDigest.getInstance("MD5")
    def h60(u: String): Long = {
      val hex = md.digest(u.getBytes("UTF-8")).map("%02x".format(_)).mkString
      java.lang.Long.parseLong(hex.substring(0, 15), 16)
    }
    val want = raw.groupBy(_._1).toSeq.sortBy(_._1).map { case (t, rs) =>
      def split(r: Int): (Long, Long, BigInt, BigInt) = {
        var n0 = 0L; var n1 = 0L; var s0 = BigInt(0); var s1 = BigInt(0)
        rs.foreach { case (_, u, x) =>
          if (((h60(u) >> r) & 1L) == 0L) { n0 += 1; s0 += x }
          else { n1 += 1; s1 += x }
        }
        (n0, n1, s0, s1)
      }
      val (n0o, n1o, s0o, s1o) = split(0)
      val aO = (s0o * n1o - s1o * n0o).abs
      var nExceed = 0L
      (1 to r9).foreach { r =>
        val (n0, n1, s0, s1) = split(r)
        val ex = if (n0 > 0 && n1 > 0) {
          val aR = (s0 * n1 - s1 * n0).abs
          if (aR * (BigInt(n0o) * n1o) >= aO * (BigInt(n0) * n1)) 1L else 0L
        } else 1L
        nExceed += ex
      }
      val meanDiff = if (n0o > 0 && n1o > 0)
        Some((d2(s0o) / n0o.toDouble - d2(s1o) / n1o.toDouble) / 1000000.0)
        else None
      val p = (nExceed + 1).toDouble / (r9 + 1).toDouble
      (t, n0o, n1o, meanDiff, r9.toLong, nExceed, Some(p))
    }
    got.zip(want).foreach { case (r, (t, n0, n1, md_, nPerm, nEx, p)) =>
      assert(r.getString(0) == t && r.getLong(1) == n0 && r.getLong(2) == n1)
      assertDouble(r.get(3), md_, s"$t mean_diff")
      assert(r.getLong(4) == nPerm && r.getLong(5) == nEx, s"$t exceedances")
      assertDouble(r.get(6), p, s"$t p_value")
    }
  }

  // ========================================================== welchTtest
  test("welchTtest: means, t, df and effect sizes bitwise vs pure-JVM chain") {
    val got = rowsOf(graft.queries.Relational12.welchTtest(
      raw2.toDF("event_type", "variant", "x6")))
    val want = raw2.groupBy(_._1).toSeq.sortBy(_._1).map { case (t, rs) =>
      def grp(k: Long) = rs.filter(_._2 == k).map(_._3)
      val (g0, g1) = (grp(0), grp(1))
      val (n0, n1) = (g0.size.toLong, g1.size.toLong)
      val s0 = g0.map(BigInt(_)).sum; val s1 = g1.map(BigInt(_)).sum
      val q0 = g0.map(x => BigInt(x) * x).sum; val q1 = g1.map(x => BigInt(x) * x).sum
      val v0 = BigInt(n0) * q0 - s0 * s0; val v1 = BigInt(n1) * q1 - s1 * s1
      val t0 = d2(v0) / (n0.toDouble * (n0 - 1).toDouble) / n0.toDouble
      val t1 = d2(v1) / (n1.toDouble * (n1 - 1).toDouble) / n1.toDouble
      val m0x = d2(s0) / n0.toDouble; val m1x = d2(s1) / n1.toDouble
      val tW = (m1x - m0x) / math.sqrt(t0 + t1)
      val dfW = (t0 + t1) * (t0 + t1) /
        (t0 * t0 / (n0 - 1).toDouble + t1 * t1 / (n1 - 1).toDouble)
      val sp2 = (d2(v0) / n0.toDouble + d2(v1) / n1.toDouble) /
        (n0 + n1 - 2).toDouble
      val dCoh = (m1x - m0x) / math.sqrt(sp2)
      val gHed = dCoh * (1.0 - 3.0 / (4.0 * (n0 + n1).toDouble - 9.0))
      val ok = n0 > 1 && n1 > 1
      val sig = ok && t0 + t1 > 0.0
      (t, n0, n1,
        if (n0 > 0) Some(m0x / 1000000.0) else None,
        if (n1 > 0) Some(m1x / 1000000.0) else None,
        if (sig) Some(tW) else None,
        if (sig && t0 > 0.0 && t1 > 0.0) Some(dfW) else None,
        if (ok && sp2 > 0.0) Some(dCoh) else None,
        if (ok && sp2 > 0.0) Some(gHed) else None)
    }
    got.zip(want).foreach { case (r, (t, n0, n1, m0, m1, tW, dfW, d, g)) =>
      assert(r.getString(0) == t && r.getLong(1) == n0 && r.getLong(2) == n1)
      assertDouble(r.get(3), m0, s"$t mean0")
      assertDouble(r.get(4), m1, s"$t mean1")
      assertDouble(r.get(5), tW, s"$t t_welch")
      assertDouble(r.get(6), dfW, s"$t df_welch")
      assertDouble(r.get(7), d, s"$t cohens_d")
      assertDouble(r.get(8), g, s"$t hedges_g")
    }
  }

  // =============================================================== cuped
  test("cuped: theta, diffs and var_reduction bitwise vs pure-JVM chain") {
    val perUser = (0 until 300).map { i =>
      val x = (v(i, 200) + 1L) * 1000000L
      // y correlated with x plus deterministic noise
      (s"t${i % 2}", v(i + 3, 2), x, x / 2 + v(i + 9, 100) * 1000000L)
    }
    val got = rowsOf(graft.queries.Relational11.cuped(
      perUser.toDF("event_type", "variant", "x", "y")))
    val want = perUser.groupBy(_._1).toSeq.sortBy(_._1).map { case (t, rs) =>
      def grp(k: Long) = rs.filter(_._2 == k)
      val n0 = grp(0).size.toLong; val n1 = grp(1).size.toLong
      val sx0 = grp(0).map(r => BigInt(r._3)).sum; val sx1 = grp(1).map(r => BigInt(r._3)).sum
      val sy0 = grp(0).map(r => BigInt(r._4)).sum; val sy1 = grp(1).map(r => BigInt(r._4)).sum
      val sxy = rs.map(r => BigInt(r._3) * r._4).sum
      val sxx = rs.map(r => BigInt(r._3) * r._3).sum
      val syy = rs.map(r => BigInt(r._4) * r._4).sum
      val n = BigInt(n0 + n1)
      val numTh = n * sxy - (sx0 + sx1) * (sy0 + sy1)
      val denTh = n * sxx - (sx0 + sx1) * (sx0 + sx1)
      val denY = n * syy - (sy0 + sy1) * (sy0 + sy1)
      val theta = if (denTh > 0) Some(d2(numTh) / d2(denTh)) else None
      def mean(s: BigInt, nk: Long): Double = d2(s) / nk.toDouble / 1000000.0
      val both = n0 > 0 && n1 > 0
      val diffRaw = if (both) Some(mean(sy1, n1) - mean(sy0, n0)) else None
      val diffCuped = if (both && denTh > 0)
        Some(diffRaw.get - theta.get * (mean(sx1, n1) - mean(sx0, n0))) else None
      val varRed = if (denTh > 0 && denY > 0)
        Some(d2(numTh) * d2(numTh) / (d2(denTh) * d2(denY))) else None
      (t, n0, n1, theta, diffRaw, diffCuped, varRed)
    }
    got.zip(want).foreach { case (r, (t, n0, n1, th, dr, dc, vr)) =>
      assert(r.getString(0) == t && r.getLong(1) == n0 && r.getLong(2) == n1)
      assertDouble(r.get(3), th, s"$t theta")
      assertDouble(r.get(4), dr, s"$t diff_raw")
      assertDouble(r.get(5), dc, s"$t diff_cuped")
      assertDouble(r.get(6), vr, s"$t var_reduction")
    }
  }

  // ================================================================= cmh
  test("cmh: exact 2x2 cells, chi2/OR_MH bitwise vs pure-JVM chain; absent stratum contributes zero") {
    val segs = graft.queries.Relational12.CmhSegments
    def frame(nSegs: Int): Seq[(String, Long, Boolean)] =
      (0 until 600).map(i => (segs((i % nSegs)), v(i + 3, 2), v(i + 11, 2) == 1L))
    for (nSegs <- Seq(5, 4)) { // 4 = MACHINERY absent: its pooled terms must be 0
      val base = frame(nSegs)
      val got = rowsOf(graft.queries.Relational12.cmh(
        base.toDF("segment", "treat", "resp")))
      final case class C(a: Long, b: Long, c: Long, d: Long)
      val cells = segs.map { sg =>
        val rs = base.filter(_._1 == sg)
        C(rs.count(r => r._2 == 1 && r._3), rs.count(r => r._2 == 1 && !r._3),
          rs.count(r => r._2 == 0 && r._3), rs.count(r => r._2 == 0 && !r._3))
      }
      def n(c: C) = c.a + c.b + c.c + c.d
      def e(c: C) = if (n(c) > 0) d2(BigInt(c.a + c.b) * (c.a + c.c)) / n(c).toDouble else 0.0
      def vv(c: C) = if (n(c) > 1)
        d2((BigInt(c.a + c.b) * (c.c + c.d)) * (BigInt(c.a + c.c) * (c.b + c.d))) /
          (n(c).toDouble * n(c).toDouble * (n(c) - 1).toDouble) else 0.0
      def rr(c: C) = if (n(c) > 0) d2(BigInt(c.a) * c.d) / n(c).toDouble else 0.0
      def ss(c: C) = if (n(c) > 0) d2(BigInt(c.b) * c.c) / n(c).toDouble else 0.0
      // five-term sums in WRITTEN segment order (the fixed-k discipline)
      val sumA = cells.map(_.a).sum
      val sumE = e(cells(0)) + e(cells(1)) + e(cells(2)) + e(cells(3)) + e(cells(4))
      val sumV = vv(cells(0)) + vv(cells(1)) + vv(cells(2)) + vv(cells(3)) + vv(cells(4))
      val sumR = rr(cells(0)) + rr(cells(1)) + rr(cells(2)) + rr(cells(3)) + rr(cells(4))
      val sumS = ss(cells(0)) + ss(cells(1)) + ss(cells(2)) + ss(cells(3)) + ss(cells(4))
      val devC = math.max(math.abs(sumA.toDouble - sumE) - 0.5, 0.0)
      val chi = if (sumV > 0.0) Some(devC * devC / sumV) else None
      val orMh = if (sumS > 0.0) Some(sumR / sumS) else None
      assert(got.size == math.min(nSegs, 5), "one row per PRESENT stratum")
      got.foreach { r =>
        val sg = r.getString(0)
        val c = cells(segs.indexOf(sg))
        assert(r.getLong(1) == c.a && r.getLong(2) == c.b &&
          r.getLong(3) == c.c && r.getLong(4) == c.d, s"$sg cells")
        val orS = if (c.b * c.c > 0)
          Some(d2(BigInt(c.a) * c.d) / d2(BigInt(c.b) * c.c)) else None
        assertDouble(r.get(5), orS, s"$sg or_stratum")
        assertDouble(r.get(6), chi, s"$sg cmh_chi2")
        assert(r.getBoolean(7) == chi.exists(_ > 3.841), s"$sg significant")
        assertDouble(r.get(8), orMh, s"$sg or_mh")
      }
    }
  }

  // ================================================================ tost
  test("tost: diff/t_lo/t_hi bitwise vs pure-JVM chain; equivalence criterion") {
    val got = rowsOf(graft.queries.Relational12.tost(
      raw2.toDF("event_type", "variant", "x6")))
    val margin = graft.queries.Relational12.TostMarginMicros.toDouble
    val want = raw2.groupBy(_._1).toSeq.sortBy(_._1).map { case (t, rs) =>
      def grp(k: Long) = rs.filter(_._2 == k).map(_._3)
      val (g0, g1) = (grp(0), grp(1))
      val (n0, n1) = (g0.size.toLong, g1.size.toLong)
      val s0 = g0.map(BigInt(_)).sum; val s1 = g1.map(BigInt(_)).sum
      val q0 = g0.map(x => BigInt(x) * x).sum; val q1 = g1.map(x => BigInt(x) * x).sum
      val v0 = BigInt(n0) * q0 - s0 * s0; val v1 = BigInt(n1) * q1 - s1 * s1
      val t0 = d2(v0) / (n0.toDouble * (n0 - 1).toDouble) / n0.toDouble
      val t1 = d2(v1) / (n1.toDouble * (n1 - 1).toDouble) / n1.toDouble
      val diffx = d2(s1) / n1.toDouble - d2(s0) / n0.toDouble
      val se = math.sqrt(t0 + t1)
      val ok = n0 > 1 && n1 > 1 && t0 + t1 > 0.0
      val tLo = (diffx + margin) / se
      val tHi = (diffx - margin) / se
      (t, n0, n1,
        if (ok) Some(diffx / 1000000.0) else None,
        if (ok) Some(tLo) else None,
        if (ok) Some(tHi) else None,
        (if (ok) tLo else 0.0) > 1.645 && (if (ok) tHi else 0.0) < -1.645)
    }
    got.zip(want).foreach { case (r, (t, n0, n1, df, lo, hi, eq)) =>
      assert(r.getString(0) == t && r.getLong(1) == n0 && r.getLong(2) == n1)
      assertDouble(r.get(3), df, s"$t diff")
      assertDouble(r.get(4), lo, s"$t t_lo")
      assertDouble(r.get(5), hi, s"$t t_hi")
      assert(r.getBoolean(6) == eq, s"$t equivalent")
    }
  }

  // ============================================================ rateTest
  test("rateTest: counts/exposures exact, z bitwise vs pure-JVM chain") {
    val ev = (0 until 600).map { i =>
      (s"t${i % 3}", v(i + 11, 2), s"u${v(i, 60)}")
    }
    val got = rowsOf(graft.queries.Relational12.rateTest(
      ev.toDF("event_type", "variant", "user_id")))
    val want = ev.groupBy(_._1).toSeq.sortBy(_._1).map { case (t, rs) =>
      val c0 = rs.count(_._2 == 0L).toLong; val c1 = rs.count(_._2 == 1L).toLong
      val u0 = rs.filter(_._2 == 0L).map(_._3).distinct.size.toLong
      val u1 = rs.filter(_._2 == 1L).map(_._3).distinct.size.toLong
      val p = u1.toDouble / (u0 + u1).toDouble
      val c = (c0 + c1).toDouble
      val vv = c * p * (1.0 - p)
      val z = (c1.toDouble - c * p) / math.sqrt(vv)
      val ok = u0 > 0 && u1 > 0 && c0 + c1 > 0
      (t, c0, c1, u0, u1,
        if (u0 > 0) Some(c0.toDouble / u0.toDouble) else None,
        if (u1 > 0) Some(c1.toDouble / u1.toDouble) else None,
        if (ok && vv > 0.0) Some(z) else None,
        (if (ok && vv > 0.0) math.abs(z) else 0.0) > 1.96)
    }
    got.zip(want).foreach { case (r, (t, c0, c1, u0, u1, r0, r1, z, sig)) =>
      assert(r.getString(0) == t && r.getLong(1) == c0 && r.getLong(2) == c1 &&
        r.getLong(3) == u0 && r.getLong(4) == u1)
      assertDouble(r.get(5), r0, s"$t rate0")
      assertDouble(r.get(6), r1, s"$t rate1")
      assertDouble(r.get(7), z, s"$t z_rate")
      assert(r.getBoolean(8) == sig, s"$t significant")
    }
  }

  // ================================================================= did
  test("did: four-cell exact moments, DiD/z bitwise vs pure-JVM chain") {
    val ev = (0 until 600).map { i =>
      (s"t${i % 3}", v(i + 11, 2), v(i + 17, 2).toInt,
        (v(i, 997) + 1L) * 1000000L + v(i + 5, 999983))
    }
    val got = rowsOf(graft.queries.Relational12.did(
      ev.toDF("event_type", "g", "p", "x6")))
    val want = ev.groupBy(_._1).toSeq.sortBy(_._1).map { case (t, rs) =>
      def cell(g: Long, p: Int) = rs.filter(r => r._2 == g && r._3 == p).map(_._4)
      def mom(g: Long, p: Int) = {
        val xs = cell(g, p)
        (xs.size.toLong, xs.map(BigInt(_)).sum, xs.map(x => BigInt(x) * x).sum)
      }
      val (n00, s00, q00) = mom(0, 0); val (n01, s01, q01) = mom(0, 1)
      val (n10, s10, q10) = mom(1, 0); val (n11, s11, q11) = mom(1, 1)
      def m(ss: BigInt, n: Long) = d2(ss) / n.toDouble
      def tt(n: Long, ss: BigInt, q: BigInt) =
        d2(BigInt(n) * q - ss * ss) / (n.toDouble * (n - 1).toDouble) / n.toDouble
      val didx = (m(s11, n11) - m(s10, n10)) - (m(s01, n01) - m(s00, n00))
      val se = math.sqrt(tt(n00, s00, q00) + tt(n01, s01, q01)
        + tt(n10, s10, q10) + tt(n11, s11, q11))
      val ok = n00 > 1 && n01 > 1 && n10 > 1 && n11 > 1
      (t, n00, n01, n10, n11,
        if (ok) Some(didx / 1000000.0) else None,
        if (ok && se > 0.0) Some(didx / se) else None,
        (if (ok && se > 0.0) math.abs(didx / se) else 0.0) > 1.96)
    }
    got.zip(want).foreach { case (r, (t, n00, n01, n10, n11, dd, z, sig)) =>
      assert(r.getString(0) == t && r.getLong(1) == n00 && r.getLong(2) == n01 &&
        r.getLong(3) == n10 && r.getLong(4) == n11)
      assertDouble(r.get(5), dd, s"$t did")
      assertDouble(r.get(6), z, s"$t z_did")
      assert(r.getBoolean(7) == sig, s"$t significant")
    }
  }

  // ============================================================== bootCi
  test("bootCi: replicate means and the percentile selection bitwise vs pure-JVM replay") {
    val R = graft.queries.Relational12.BootR
    val ev = (0 until 600).map { i =>
      (s"t${i % 3}", ((i + 1) * 0x9E3779B97F4A7C15L) >>> 4, (v(i, 997) + 1L) * 1000000L)
    }
    val got = rowsOf(graft.queries.Relational12.bootCi(
      ev.toDF("event_type", "h", "x6")))
    val want = ev.groupBy(_._1).toSeq.sortBy(_._1).map { case (t, rs) =>
      val reps = (1 to R).flatMap { r =>
        val sel = rs.filter(x => ((x._2 >> r) & 1L) == 1L).map(_._3)
        if (sel.isEmpty) None
        else Some((r.toLong, d2(sel.map(BigInt(_)).sum) / sel.size.toDouble / 1000000.0))
      }
      val nRep = reps.size.toLong
      val sorted = reps.sortBy(x => (x._2, x._1))
      def at(rank: Long) = sorted((rank - 1).toInt)._2
      val rLo = (nRep * 25 + 999) / 1000
      val rHi = (nRep * 975 + 999) / 1000
      val n = rs.size.toLong
      val meanFull = d2(rs.map(x => BigInt(x._3)).sum) / n.toDouble / 1000000.0
      (t, n, meanFull, nRep, at(rLo), at(rHi))
    }
    got.zip(want).foreach { case (r, (t, n, mf, nRep, lo, hi)) =>
      assert(r.getString(0) == t && r.getLong(1) == n && r.getLong(3) == nRep)
      assertDouble(r.get(2), Some(mf), s"$t mean_full")
      assertDouble(r.get(4), Some(lo), s"$t ci_lo")
      assertDouble(r.get(5), Some(hi), s"$t ci_hi")
    }
  }
}
