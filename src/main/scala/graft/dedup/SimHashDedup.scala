package graft.dedup

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.VectorExpressions

/** SimHash near-duplicate detection (SURVEY.md §2D).
  *
  * Each document folds its token hashes into one 64-bit signature (native
  * codegen'd SimHash64 expression — single pass, no shuffle). Candidate
  * retrieval uses the pigeonhole banding trick: split the signature into 4
  * 16-bit chunks; any pair within Hamming distance ≤ 3 must agree on at
  * least one chunk, so an equality self-join on (chunk_idx, chunk_value)
  * finds all of them without an O(n²) comparison. The final Hamming check
  * is a codegen'd bit_count(xor).
  *
  * Retrieval here is deliberately COMPLETE (every pair within the Hamming
  * bound, proven against brute force in spec) — the property MinHash's
  * star expansion trades away. The cost is the usual hot-bucket caveat:
  * m documents with IDENTICAL signatures (exact boilerplate) produce
  * m²/2 hamming-0 pairs. At web scale, collapse exact-duplicate docs to
  * one representative first (Dedup.contentHash groups / fuzzyCanonical's
  * rep map) — identical text is exactly what the cheap exact pass
  * removes, and distinct near-dup signatures then spread across buckets.
  */
object SimHashDedup {
  val Chunks = 4
  val MaxHamming = 3

  /** Token hash: md5-derived 60 bits (15 hex chars), the same construction
    * as TextFunctions.baseHashes — engine-independent, so the whole SimHash
    * pipeline is DuckDB-expressible and gets an exact SQL oracle. Bits
    * 60-63 of every token hash are zero, so the effective signature is 60
    * bits wide; Hamming distances are unaffected. */
  val TokenHashSql = "cast(conv(substring(md5(t), 1, 15), 16, 10) as bigint)"

  /** The 64-bit signature as a column over `textCol` (requires
    * VectorExpressions.register on the session — simhash64 is a registered
    * SQL expression). Shared by signatures() and DedupQ's cached stage. */
  def signatureCol(textCol: String): Column = wordCol(textCol, TokenHashSql)

  /** One 64-bit signature word: the simhash64 fold of `tokenHashSql` (an
    * expression over token `t`) across the shared two-path tokenizer
    * (fast split for script-free text, script-aware extraction
    * otherwise — value-identical either way). */
  private def wordCol(textCol: String, tokenHashSql: String): Column =
    expr(s"simhash64(transform(${graft.functions.TextFunctions.tokensSqlExpr(textCol)}, t -> $tokenHashSql))")

  /** (idCol, word...) — one signature word column per (name, token hash),
    * one narrow projection after the spread, no other shuffle. */
  private[dedup] def wordSignatures(spark: SparkSession, docs: DataFrame, idCol: String,
      textCol: String, words: Seq[(String, String)]): DataFrame = {
    VectorExpressions.register(spark)
    docs.repartition(docs.sparkSession.sparkContext.defaultParallelism, col(idCol))
      .select(col(idCol) +: words.map { case (w, h) => wordCol(textCol, h).as(w) }: _*)
  }

  def signatures(spark: SparkSession, docs: DataFrame, idCol: String, textCol: String): DataFrame =
    wordSignatures(spark, docs, idCol, textCol, Seq("simhash" -> TokenHashSql))

  /** Candidate retrieval + exact Hamming filter over precomputed
    * signatures (idCol, simhash). Retrieval is COMPLETE up to hamming-0
    * clique collapse: identical signatures are first collapsed to their
    * min-id representative, each clique emitting rep-star edges
    * (rep, member, 0) — m identical docs cost m-1 edges, not m²/2. This is
    * lossless, not a recall trade: hamming(x, y) depends only on the
    * signatures, so every member of a clique has EXACTLY the distances its
    * rep has, and the star keeps the clique connected — components /
    * canonical consumers see identical connectivity, and no verification
    * step can distinguish a member from its rep (unlike MinHash's star
    * cap, where same-band docs may differ in true Jaccard).
    *
    * Across distinct signatures the pigeonhole guarantee is intact: with c
    * chunks and Hamming ≤ h where h < c, the h flipped bits touch at most
    * h < c chunks, so at least one chunk matches exactly and the equality
    * join retrieves the rep-rep pair — (Chunks=4, MaxHamming=3) satisfies
    * h ≤ c-1, and DedupSimilaritySpec pins the guarantee against a
    * brute-force oracle.
    *
    * Scaling rule: expected in-bucket pair load is Σ n_b² over buckets ≈
    * c·n²/2^w for chunk width w = 64/c bits — with 16-bit chunks that's
    * ~n/65536 DISTINCT signatures per bucket (the collapse removes the
    * boilerplate mass that used to concentrate there), quadratic in n
    * beyond ~10⁸ distinct signatures. Past that, use the 128-bit variant
    * (SimHash128.pairsFromSignatures: w=32 at c=4, ~n/2³² per bucket). */
  def pairsFromSignatures(sigs: DataFrame, idCol: String): DataFrame =
    wordPairs(sigs, idCol, Seq("simhash"))

  /** The one retrieval body, over a signature of 64-bit `words` (most
    * significant first): hamming-0 cliques collapse to min-id rep-star
    * edges, the signature splits into Chunks equal chunks counted from
    * its least significant bit, reps join on (chunk index, chunk value),
    * and the Hamming distance is the sum of bit_count(xor) per word. */
  private[dedup] def wordPairs(sigs: DataFrame, idCol: String, words: Seq[String]): DataFrame = {
    val reps = sigs.groupBy(words.map(col): _*).agg(min(col(idCol)).as("rep_id"))
    val star = sigs.join(reps, words)
      .filter(col(idCol) =!= col("rep_id"))
      .select(col("rep_id").as("a_id"), col(idCol).as("b_id"), lit(0).as("hamming"))
    val perWord = Chunks / words.size
    val width = 64 / perWord
    val chunks = (0 until Chunks).map { j =>
      val word = col(words(words.size - 1 - j / perWord))
      struct(lit(j).as("ci"),
        shiftrightunsigned(word, width * (j % perWord)).bitwiseAND(lit((1L << width) - 1)).as("cv"))
    }
    val chunked = reps.select(col("rep_id") +: words.map(col) :+ explode(array(chunks: _*)).as("ch"): _*)
    def side(p: String) = chunked.select(
      col("rep_id").as(s"${p}_id") +: words.map(w => col(w).as(s"${p}_$w")) :+ col("ch"): _*)
    val cross = side("a").join(side("b"), "ch").filter(col("a_id") < col("b_id"))
      .withColumn("hamming",
        words.map(w => bit_count(col(s"a_$w").bitwiseXOR(col(s"b_$w")))).reduce(_ + _))
      .filter(col("hamming") <= MaxHamming)
      .select(col("a_id"), col("b_id"), col("hamming")).distinct()
    star.unionByName(cross)
  }

  def pairs(spark: SparkSession, docs: DataFrame, idCol: String, textCol: String): DataFrame =
    pairsFromSignatures(signatures(spark, docs, idCol, textCol), idCol)
}

/** 128-bit SimHash — the documented scaling rule for corpora past ~10⁸
  * distinct signatures (SimHashDedup's Scaling rule note): widen the
  * signature to two 64-bit words so c=4 banding uses 32-bit chunks and the
  * expected bucket load drops from ~n/2¹⁶ to ~n/2³², holding in-bucket
  * pair work flat well past 10⁹ docs. Same pigeonhole completeness
  * (h ≤ c-1 = 3: three flipped bits touch at most 3 of the 4 chunks, so
  * one 32-bit chunk always matches) and the same lossless hamming-0
  * clique collapse as the 64-bit path.
  *
  * Bit b of each word is the majority vote over token-hash bit b; the two
  * words vote over DISJOINT 60-bit halves of each token's md5 (hex chars
  * 1-15 and 17-31), so the words are independent per-bit majorities — a
  * 128-bit SimHash computed as two SimHash64 folds, one shuffle-free
  * projection total. Retrieval distance is the sum of per-word Hamming
  * distances.
  */
object SimHash128 {
  val MaxHamming: Int = SimHashDedup.MaxHamming
  /** Disjoint md5 halves, 60 effective bits each (15 hex chars keep the
    * conv→bigint in signed range, same trick as SimHashDedup). */
  val TokenHashHiSql = "cast(conv(substring(md5(t), 1, 15), 16, 10) as bigint)"
  val TokenHashLoSql = "cast(conv(substring(md5(t), 17, 15), 16, 10) as bigint)"
  private val Words = Seq("simhash_hi", "simhash_lo")

  /** (idCol, simhash_hi, simhash_lo) — one narrow projection, no shuffle. */
  def signatures(spark: SparkSession, docs: DataFrame, idCol: String, textCol: String): DataFrame =
    SimHashDedup.wordSignatures(spark, docs, idCol, textCol, Words.zip(Seq(TokenHashHiSql, TokenHashLoSql)))

  /** Retrieval over (idCol, simhash_hi, simhash_lo): hamming-0 cliques
    * collapse to min-id rep-star edges, then the c=4 × 32-bit-chunk
    * equality join retrieves every rep pair within total Hamming ≤ 3. */
  def pairsFromSignatures(sigs: DataFrame, idCol: String): DataFrame =
    SimHashDedup.wordPairs(sigs, idCol, Words)

  def pairs(spark: SparkSession, docs: DataFrame, idCol: String, textCol: String): DataFrame =
    pairsFromSignatures(signatures(spark, docs, idCol, textCol), idCol)
}
