package graft.dedup

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftshim.ColumnBridge

import graft.functions.VectorExpressions

/** Random-hyperplane LSH blocking for embedding near-duplicates
  * (SURVEY.md §2D) — the scale path for cosine-similarity candidate
  * generation.
  *
  * Each vector gets `NumPlanes` sign bits (does it fall left or right of a
  * random hyperplane); the bits split into `NumBands` band tables of
  * `BitsPerBand` bits, and candidates are pairs agreeing on ALL bits of at
  * least one band. Two vectors at angle θ share a bit with probability
  * 1 − θ/π, so a band matches with p^r and the candidate recall is
  * 1 − (1 − p^r)^b — tuned here (b=10, r=12) so true near-dups
  * (cos ≥ 0.9, p ≈ 0.86 → ~87% recall) collide while random vectors
  * (p ≈ 0.5 → ~2⁻¹² per band) almost never do. The expected in-bucket
  * comparison load is O(n²·b/2^r) ≈ n²/410 for uncorrelated data, versus
  * O(n²/256) with skew-prone fixed sign buckets — and unlike data-dependent
  * buckets, the hyperplanes cannot collapse dense regions into one bucket
  * key, because every band re-rolls 12 independent projections.
  *
  * Hyperplane components are ±1 derived from md5("hp:i:j"), so the oracle
  * SQL regenerates the identical matrix and both engines compute each dot
  * product with the same left-fold order — candidate sets match exactly.
  */
object EmbedLsh {
  val Dim = 64
  val BitsPerBand = 12
  val NumBands = 10
  val NumPlanes: Int = BitsPerBand * NumBands

  /** Post-blocking cosine cutoff — IN the regime the band tuning
    * (b=10, r=12) targets: at cos = 0.9, band-collision recall is
    * 1-(1-p^12)^10 ≈ 0.82 (p = 1 - acos(0.9)/π ≈ 0.856) and climbs fast
    * above it (≈ 0.98 at cos 0.96). The synthetic test embeddings are
    * near-random (max pairwise cos ≈ 0.46), so the d_embed_neardup gate
    * AUGMENTS the corpus with deterministic perturbed twins that land at
    * cos ≈ 0.95-0.97 — real near-duplicates for the tuned operating
    * point, mirrored exactly in the oracle. EmbedLshRecallSpec pins the
    * measured recall against this collision-curve prediction. */
  val Threshold = 0.9

  /** Band-collision recall prediction for a pair at cosine `c`:
    * 1 − (1 − p^r)^b with p = 1 − acos(c)/π — the curve the tuning
    * targets and the recall spec asserts against. */
  def predictedRecall(c: Double): Double = {
    val p = 1.0 - math.acos(math.max(-1.0, math.min(1.0, c))) / math.Pi
    1.0 - math.pow(1.0 - math.pow(p, BitsPerBand), NumBands)
  }

  /** Deterministic ±1 hyperplane component (md5 parity). */
  def sign(i: Int, j: Int): Int = {
    val d = java.security.MessageDigest.getInstance("MD5")
      .digest(s"hp:$i:$j".getBytes("UTF-8"))
    if ((d(0) & 1) == 1) 1 else -1
  }

  lazy val signs: Array[Array[Double]] =
    Array.tabulate(NumPlanes, Dim)((i, j) => sign(i, j).toDouble)

  /** array<string> of NumBands band keys "band:bitstring" for a vector. */
  def bandKeys(vec: Column): Column =
    ColumnBridge.column(VectorExpressions.HyperplaneBandKeys(
      ColumnBridge.expression(vec), signs, BitsPerBand))

  /** Candidate edges (a_id < b_id) under MinHashLsh.bucketPairs' rule:
    * small band buckets emit every pair (full recall for the
    * cosine-verified consumers), hot buckets (duplicate images all hashing
    * to one sign pattern) min-id star edges — m−1 edges instead of m²/2.
    * Input needs columns (vec_id, embedding). */
  def candidatePairs(e: DataFrame): DataFrame = {
    val spread = e.repartition(
      e.sparkSession.sparkContext.defaultParallelism, col("vec_id"))
    MinHashLsh.bucketPairs(
      spread.select(col("vec_id"), explode(bandKeys(col("embedding"))).as("bk")), "vec_id")
  }

  // ---- oracle SQL generation (same constants, same fold order) ----

  private def signListSql(i: Int): String =
    (0 until Dim).map(j => sign(i, j).toString).mkString("[", ",", "]")

  /** '1'/'0' sign bit of hyperplane i — list_reduce is a left fold, the
    * same order as the expression's ascending-j loop. Each element is
    * coalesced to 0.0 so short vectors (out-of-range index → NULL in
    * DuckDB) and NULL slots match the expression's clamp-and-skip
    * behavior instead of silently nulling the whole sum. */
  def bitSql(i: Int): String =
    s"CASE WHEN list_reduce([(${signListSql(i)})[j+1] * coalesce(CAST(embedding[j+1] AS DOUBLE), 0.0) " +
      s"for j in range(0, $Dim)], (p, q) -> p + q) > 0 THEN '1' ELSE '0' END"

  /** bits CTE + band-key unnest, shared by the d_embed_neardup and
    * s_range_search oracles. `src` is the table/CTE holding
    * (vec_id, embedding). */
  def bandsCteSql(src: String = "embeddings"): String = {
    val bits = (0 until NumPlanes).map(bitSql).mkString(",\n    ")
    val keys = (0 until NumBands).map { b =>
      val parts = (b * BitsPerBand until (b + 1) * BitsPerBand).map(i => s"bits[${i + 1}]")
      s"'$b:' || ${parts.mkString(" || ")}"
    }.mkString(",\n    ")
    s"""bits AS (
       |  SELECT vec_id, [
       |    $bits] AS bits
       |  FROM $src),
       |bk AS (SELECT vec_id, unnest([
       |    $keys]) AS bk FROM bits)""".stripMargin
  }
}
