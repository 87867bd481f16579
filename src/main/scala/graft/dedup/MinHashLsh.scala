package graft.dedup

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.TextFunctions._
import graft.functions.VectorExpressions

/** MinHash + LSH banding near-duplicate detection (SURVEY.md §2D).
  *
  * The scale path for fuzzy dedup at 100 TB: signature computation is one
  * narrow map over each document (no shuffle), band keys bucket candidates
  * so the only join is band-key equality — never an O(n²) comparison. With
  * b bands of r rows, a pair of similarity s collides with probability
  * 1-(1-s^r)^b; the defaults (b=4, r=6) target the s>0.8 near-dup regime.
  *
  * Hashing is Carter–Wegman over two md5-derived base hashes
  * (h1 + i*h2 mod P), so the whole signature needs ONE md5 per shingle —
  * engine-independent and 12× cheaper than per-permutation hashing.
  *
  * Candidate generation is bucket-size-adaptive: band buckets at or below
  * MaxAllPairsBucket members emit EVERY in-bucket pair (full recall — a
  * verified-pair consumer never loses a true near-dup to witness
  * shadowing), while hot buckets (web boilerplate clusters reach 10⁵–10⁶
  * members) fall back to STAR EXPANSION — every member pairs with the
  * bucket's min id only, m−1 edges instead of m²/2 — linear output, no
  * straggler task. A connected-components consumer sees every bucket
  * member joined through the bucket min either way.
  *
  * Residual recall caveat (hot buckets only): a member of a >MaxAllPairs
  * bucket whose true near-dup is NOT the bucket min keeps its edge only
  * if the bucket-min edge passes verification. Callers that Jaccard-verify
  * edges should collapse exact-duplicate groups to one representative
  * first (see Dedup.fuzzyCanonical), which removes the identical-text mass
  * that creates hot buckets in the first place — after the collapse, a
  * >16-member bucket of DISTINCT texts colliding on all r rows of a band
  * is vanishingly rare, so the all-pairs tier is the one that fires in
  * practice.
  */
object MinHashLsh {
  val Bands = 4
  val Rows = 6
  val NumHashes: Int = Bands * Rows

  /** Band buckets at or below this size emit all pairs; larger buckets
    * fall back to min-id star expansion. Bounded in-bucket work
    * (≤ B(B−1)/2 pairs) with full recall on the tier verified-pair
    * consumers (decontamination, containment) actually hit. */
  val MaxAllPairsBucket = 16

  /** doc_id + sig_0..sig_{n-1} minhash signature columns (plus any `carry`
    * columns passed through untouched). All signatures come from ONE
    * codegen'd pass (MinHashSigs) over the hashed shingles. */
  def signatures(docs: DataFrame, idCol: String, textCol: String,
      carry: Seq[String] = Nil): DataFrame = {
    // CPU-bound narrow map: spread across all cores even when the input is
    // one small parquet split (the tiny row shuffle is free by comparison)
    val spread = docs.repartition(
      docs.sparkSession.sparkContext.defaultParallelism, col(idCol))
    val hashed = transform(shingles3(tokens(col(textCol))), s => baseHashes(s))
    val sigCols = (0 until NumHashes).map(i => get(col("__sigs"), lit(i)).as(s"sig_$i"))
    spread.withColumn("__sigs",
      org.apache.spark.sql.graftshim.ColumnBridge.column(VectorExpressions.MinHashSigs(
        org.apache.spark.sql.graftshim.ColumnBridge.expression(hashed), NumHashes, P)))
      .select((col(idCol) +: carry.map(col)) ++ sigCols: _*)
  }

  /** Band key: band index + the band's r signature values, concatenated. */
  def bandKey(band: Int): Column =
    concat_ws(",", lit(band.toString) +:
      (band * Rows until (band + 1) * Rows).map(i => col(s"sig_$i")): _*)

  /** (keep..., bk): one row per band, the band key exploded beside the kept
    * columns. The one band explode: candidate generation and
    * IncrementalDedup's persisted store both read bands through it. */
  private[dedup] def banded(sigs: DataFrame, keep: Seq[Column]): DataFrame =
    sigs.select(keep :+ explode(array((0 until Bands).map(bandKey): _*)).as("bk"): _*)

  /** Candidate near-duplicate edges (a_id < b_id), bucketed by
    * bucketPairs. */
  def candidatePairs(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    candidatePairsFromSigs(signatures(docs, idCol, textCol), idCol)

  /** candidatePairs over a PRECOMPUTED signature frame (idCol, sig_0..) —
    * the shared-stage entry: one corpus signature pass (see DedupQ's
    * cached stage) feeds every banding consumer instead of each gate
    * re-reading and re-hashing the corpus. */
  def candidatePairsFromSigs(sigs: DataFrame, idCol: String): DataFrame =
    bucketPairs(banded(sigs, Seq(col(idCol))), idCol)

  /** The bucketing rule of every LSH self-pair blocker, over an
    * (idCol, bk) frame of one row per (item, band bucket): a bucket of at
    * most MaxAllPairsBucket members emits all its pairs, a hotter one
    * emits min-id star edges (see the class note). Output: distinct
    * (a_id, b_id), a_id < b_id. One bk-keyed shuffle computes the
    * per-bucket min and count; the small-bucket self-join reuses that same
    * exchange on both sides (ReuseExchange — the bk partitioning is
    * already in place), so no extra shuffle appears. MinHash documents and
    * EmbedLsh vectors both bucket here; DedupQ.candSql is the oracle
    * mirror. */
  def bucketPairs(bands: DataFrame, idCol: String): DataFrame = {
    val w = Window.partitionBy(col("bk"))
    val sized = bands
      .withColumn("m", min(col(idCol)).over(w))
      .withColumn("n", count(lit(1)).over(w))
    val star = sized.filter(col("n") > MaxAllPairsBucket && col(idCol) =!= col("m"))
      .select(col("m").as("a_id"), col(idCol).as("b_id"))
    val small = sized.filter(col("n") <= MaxAllPairsBucket)
    val allPairs = small.select(col(idCol).as("a_id"), col("bk"))
      .join(small.select(col(idCol).as("b_id"), col("bk")), Seq("bk"))
      .filter(col("a_id") < col("b_id"))
      .select(col("a_id"), col("b_id"))
    star.unionByName(allPairs).distinct()
  }

  /** Cross-group candidate edges for bipartite probes (train/test
    * decontamination), bucket-size-adaptive like candidatePairs: buckets
    * at or below MaxAllPairsBucket members emit EVERY left×right pair
    * (full cross-side recall — a contamination witness is never shadowed
    * by a failed bucket-min verification on this tier); hot buckets fall
    * back to the bipartite star — every LEFT doc pairs with the bucket's
    * min RIGHT doc and vice versa, linear in bucket size. `sideCol` must
    * evaluate per-row to 1 (left), 2 (right) or null (excluded — excluded
    * docs are dropped before signature compute). Output:
    * (left_id, right_id). */
  def bipartiteCandidates(docs: DataFrame, idCol: String, textCol: String,
      sideCol: Column): DataFrame = {
    val sided = docs.withColumn("__side", sideCol).filter(col("__side").isNotNull)
    bipartiteCandidatesFromSigs(
      signatures(sided, idCol, textCol, carry = Seq("__side")), idCol)
  }

  /** bipartiteCandidates over a precomputed signature frame that already
    * carries a non-null `__side` column (1 = left, 2 = right; excluded
    * rows filtered out by the caller). */
  def bipartiteCandidatesFromSigs(sigs: DataFrame, idCol: String): DataFrame = {
    val bands = banded(sigs, Seq(col(idCol), col("__side")))
    val w = Window.partitionBy(col("bk"))
    val withMins = bands
      .withColumn("__ml", min(when(col("__side") === 1, col(idCol))).over(w))
      .withColumn("__mr", min(when(col("__side") === 2, col(idCol))).over(w))
      .withColumn("__n", count(lit(1)).over(w))
    val hot = withMins.filter(col("__n") > MaxAllPairsBucket)
    val fromLeft = hot.filter(col("__side") === 1 && col("__mr").isNotNull)
      .select(col(idCol).as("left_id"), col("__mr").as("right_id"))
    val fromRight = hot.filter(col("__side") === 2 && col("__ml").isNotNull)
      .select(col("__ml").as("left_id"), col(idCol).as("right_id"))
    val small = withMins.filter(col("__n") <= MaxAllPairsBucket)
    val allCross = small.filter(col("__side") === 1)
      .select(col(idCol).as("left_id"), col("bk"))
      .join(small.filter(col("__side") === 2)
        .select(col(idCol).as("right_id"), col("bk")), Seq("bk"))
      .select(col("left_id"), col("right_id"))
    fromLeft.union(fromRight).union(allCross).distinct()
  }
}
