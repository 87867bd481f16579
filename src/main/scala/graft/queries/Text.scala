package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.functions.TextFunctions._
import graft.Ckpt._

/** Text-analysis queries (SURVEY.md §2C) over the documents table. Oracle
  * SQL strings are generated from the same constants as the Spark side so
  * stopword lists / profiles cannot drift. */
object Text {

  /** DuckDB token expression — must mirror TextFunctions.tokens: the SAME
    * script-aware TokenPattern string drives both engines (literal BMP
    * chars + the explicit whitespace class, see TextFunctions.Ws for why
    * never `\s`). Shared with the curation pipeline oracle in DedupQ. */
  private[queries] val toksSql =
    s"regexp_extract_all(lower(trim(text)), '${graft.functions.TextFunctions.TokenPattern}')"
  private def inList(words: Seq[String]) = words.map(w => s"'$w'").mkString(", ")

  /** DuckDB language-id CASE — must mirror TextFunctions.langId: stopword
    * argmax (requires `toks` and `__mx` in scope), script-count fallback
    * (requires `text` in scope). */
  private[queries] val langMaxSql: String = {
    val hits = graft.functions.TextFunctions.LangProfiles.map { case (_, p) =>
      s"len(list_filter(toks, t -> t IN (${inList(p)})))" }
    s"greatest(${hits.mkString(", ")})"
  }
  private[queries] val langCaseSql: String = {
    val hits = graft.functions.TextFunctions.LangProfiles.map { case (l, p) =>
      l -> s"len(list_filter(toks, t -> t IN (${inList(p)})))" }
    val cases = hits.map { case (l, h) => s"WHEN $h = __mx AND __mx > 0 THEN '$l'" }.mkString(" ")
    val scripts = graft.functions.TextFunctions.ScriptProfiles.map { case (l, r) =>
      l -> s"(length(text) - length(regexp_replace(text, '[$r]', '', 'g')))" }
    val smax = s"greatest(${scripts.map(_._2).mkString(", ")})"
    val scases = scripts.map { case (l, c) => s"WHEN $c = $smax AND $smax > 0 THEN '$l'" }.mkString(" ")
    s"CASE $cases ELSE (CASE $scases ELSE 'und' END) END"
  }

  /** t_tokens: whitespace + BPE-ish token counting (regex-heavy narrow map
    * — repartition off the single parquet split). */
  def tTokens(s: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(s, dir)
      .repartition(s.sparkContext.defaultParallelism, col("doc_id"))
    d.select(col("doc_id"),
      size(tokens(col("text"))).as("n_ws_tokens"),
      bpeTokenCount(col("text")).as("n_bpe_tokens"))
      .orderBy(col("doc_id"))
  }

  val tTokensSql: String =
    s"""SELECT doc_id, len($toksSql) AS n_ws_tokens,
       |  len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9 \\t\\n\\r\\f]')) AS n_bpe_tokens
       |FROM documents ORDER BY doc_id""".stripMargin

  /** t_quality: length/punct/stopword quality scoring. */
  def tQuality(s: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(s, dir).withColumn("toks", tokens(col("text")))
    d.select(col("doc_id"),
      size(col("toks")).as("n_tokens"),
      punctRatio(col("text")).as("punct_ratio"),
      stopwordRatio(col("toks")).as("stopword_ratio"),
      qualityScore(col("text"), col("toks")).as("quality"))
      .orderBy(col("doc_id"))
  }

  /** Shared quality-score SQL over columns (text, toks) — mirrors
    * TextFunctions.qualityScore with the identical operation order. */
  private[queries] val punctSql =
    """CAST(length(regexp_replace(text, '[a-zA-Z0-9_ \t\n\r\f]', '', 'g')) AS DOUBLE) / CAST(greatest(length(text), 1) AS DOUBLE)"""
  private[queries] val stopSql =
    s"CAST(len(list_filter(toks, t -> t IN (${inList(Stopwords)}))) AS DOUBLE) / CAST(greatest(len(toks), 1) AS DOUBLE)"
  private[queries] val qualitySqlExpr =
    s"""0.4::DOUBLE * least(1.0::DOUBLE, CAST(len(toks) AS DOUBLE) / 100.0::DOUBLE)
       |    + 0.4::DOUBLE * ($stopSql)
       |    + 0.2::DOUBLE * (1.0::DOUBLE - ($punctSql))""".stripMargin

  val tQualitySql: String =
    s"""SELECT doc_id, len(toks) AS n_tokens, $punctSql AS punct_ratio, $stopSql AS stopword_ratio,
       |  $qualitySqlExpr AS quality
       |FROM (SELECT doc_id, text, $toksSql AS toks FROM documents) ORDER BY doc_id""".stripMargin

  /** t_langid: stopword-profile language identification with a
    * charset-profile fallback — a document whose script carries no
    * whitespace-split stopwords (CJK/Thai) classifies by dominant script
    * instead of falling out as 'und'. */
  def tLangid(s: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(s, dir).withColumn("toks", tokens(col("text")))
    d.select(col("doc_id"), langId(col("text"), col("toks")).as("lang_pred"))
      .orderBy(col("doc_id"))
  }

  val tLangidSql: String =
    s"""SELECT doc_id, $langCaseSql AS lang_pred
       |FROM (SELECT doc_id, text, toks, $langMaxSql AS __mx
       |      FROM (SELECT doc_id, text, $toksSql AS toks FROM documents))
       |ORDER BY doc_id""".stripMargin

  /** t_fingerprint: winnowing-style min-hash char-shingle fingerprint.
    * Repartitioned first: ~n_chars md5 calls per doc are CPU-bound and the
    * input is a single parquet split. */
  def tFingerprint(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .repartition(s.sparkContext.defaultParallelism, col("doc_id"))
      .select(col("doc_id"), charFingerprint(col("text")).as("fp"))
      .orderBy(col("doc_id"))

  val tFingerprintSql: String =
    """SELECT doc_id,
      |  list_min([md5(substring(text, i + 1, 8)) for i in range(0, greatest(length(text) - 8 + 1, 1))]) AS fp
      |FROM documents ORDER BY doc_id""".stripMargin

  /** t_ngrams: global top-20 bigrams (explode → count → top-k). */
  def tNgrams(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .repartition(s.sparkContext.defaultParallelism, col("doc_id"))
      .select(explode(bigrams(tokens(col("text")))).as("bigram"))
      .groupBy(col("bigram")).agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("bigram"))
      .limit(20)

  val tNgramsSql: String =
    s"""SELECT bigram, COUNT(*) AS n FROM (
       |  SELECT unnest([concat_ws(' ', toks[i+1], toks[i+2]) for i in range(0, greatest(len(toks)-1, 1))]) AS bigram
       |  FROM (SELECT $toksSql AS toks FROM documents))
       |GROUP BY bigram ORDER BY n DESC, bigram LIMIT 20""".stripMargin

  /** t_rolling_fp: O(n) Karp–Rabin min-window rolling-hash fingerprint
    * (native expression). The DuckDB oracle recomputes each window hash
    * naively (O(n·k), fine at gate scale) over per-char code points — the
    * corpus is pure ASCII so code points == UTF-8 bytes; the engine result
    * is exact, not approximate, so this gate is hash-checked. The spec
    * additionally pins the expression against a naive Scala reference on
    * adversarial short strings. */
  def tRollingFp(s: SparkSession, dir: String): DataFrame = {
    graft.functions.VectorExpressions.register(s)
    Tables.documents(s, dir)
      .repartition(s.sparkContext.defaultParallelism, col("doc_id"))
      .select(col("doc_id"), expr("rolling_hash_min(text)").as("rfp"))
      .orderBy(col("doc_id"))
  }

  /** Karp–Rabin parity: B=257, M=1e9+7, window 16 (clamped to len), min
    * over all window hashes; empty text → 0 — mirrors RollingHashMin. */
  val tRollingFpSql: String =
    """SELECT doc_id,
      |  CASE WHEN length(text) = 0 THEN 0::BIGINT
      |  ELSE list_min([
      |    list_reduce([0::BIGINT] || list_slice(cs, i, i + k - 1),
      |                (a, b) -> (a * 257 + b) % 1000000007)
      |    for i in range(1, length(text) - k + 2)])
      |  END AS rfp
      |FROM (SELECT doc_id, text,
      |        [unicode(c)::BIGINT for c in string_split(text, '')] AS cs,
      |        least(16, greatest(length(text), 1)) AS k
      |      FROM documents)
      |ORDER BY doc_id""".stripMargin

  /** t_vocab: corpus vocabulary with frequency-ranked ids — the
    * tokenizer-training precursor (explode → filter stopwords → count →
    * rank). Top 100 terms. */
  def tVocab(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // top-k FIRST (distributed TakeOrdered), then the unpartitioned
    // ranking window only ever sees 100 rows — a global window over the
    // full vocabulary would single-thread millions of terms at scale
    val w = Window.orderBy(col("n").desc, col("token"))
    Tables.documents(s, dir)
      .select(explode(tokens(col("text"))).as("token"))
      .filter(!col("token").isin(Stopwords.map(x => x: Any): _*) && col("token") =!= "")
      .groupBy(col("token")).agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("token")).limit(100)
      .withColumn("vocab_id", row_number().over(w))
      .orderBy(col("vocab_id"))
  }

  val tVocabSql: String =
    s"""SELECT token, n, vocab_id FROM (
       |  SELECT token, COUNT(*) AS n,
       |    ROW_NUMBER() OVER (ORDER BY COUNT(*) DESC, token) AS vocab_id
       |  FROM (SELECT unnest($toksSql) AS token FROM documents)
       |  WHERE token NOT IN (${inList(Stopwords)}) AND token <> ''
       |  GROUP BY token)
       |WHERE vocab_id <= 100 ORDER BY vocab_id""".stripMargin

  /** t_tfidf: term relevance per document — tf·N/df (log-free idf variant:
    * ln() is not guaranteed bit-identical between libm implementations, and
    * exact integer-ratio scoring preserves the ranking). Top-3 terms per
    * doc for the first 100 docs. */
  def tTfidf(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val docs = Tables.documents(s, dir).filter(col("doc_id") < 100)
    val terms = docs.select(col("doc_id"), explode(tokens(col("text"))).as("token"))
      .filter(!col("token").isin(Stopwords.map(x => x: Any): _*))
    val tf = terms.groupBy(col("doc_id"), col("token")).agg(count(lit(1)).as("tf"))
    val df_ = terms.select(col("doc_id"), col("token")).distinct()
      .groupBy(col("token")).agg(count(lit(1)).as("df"))
    // corpus size as a 1-row cross join (broadcast nested loop), not a
    // driver-side count(): no extra job, no driver-dependent literal in the
    // plan; df_ joins without a hint — AQE broadcasts it when it fits
    val nDf = docs.agg(count(lit(1)).cast("double").as("__n_docs"))
    val w = Window.partitionBy(col("doc_id"))
      .orderBy(col("score").desc, col("token"))
    tf.join(df_, "token").crossJoin(nDf)
      .withColumn("score", col("tf").cast("double") * col("__n_docs") / col("df").cast("double"))
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= 3)
      .select(col("doc_id"), col("token"), col("score"), col("rnk"))
      .orderBy(col("doc_id"), col("rnk"))
  }

  val tTfidfSql: String =
    s"""WITH docs AS (SELECT * FROM documents WHERE doc_id < 100),
       |terms AS (
       |  SELECT doc_id, unnest($toksSql) AS token FROM docs),
       |ft AS (SELECT doc_id, token FROM terms WHERE token NOT IN (${inList(Stopwords)})),
       |tf AS (SELECT doc_id, token, COUNT(*) AS tf FROM ft GROUP BY 1, 2),
       |df AS (SELECT token, COUNT(*) AS df FROM (SELECT DISTINCT doc_id, token FROM ft) GROUP BY 1),
       |n AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM docs)
       |SELECT doc_id, token, score, rnk FROM (
       |  SELECT doc_id, token,
       |    CAST(tf AS DOUBLE) * n.n / CAST(df AS DOUBLE) AS score,
       |    ROW_NUMBER() OVER (PARTITION BY doc_id
       |      ORDER BY CAST(tf AS DOUBLE) * n.n / CAST(df AS DOUBLE) DESC, token) AS rnk
       |  FROM tf JOIN df USING (token), n)
       |WHERE rnk <= 3 ORDER BY doc_id, rnk""".stripMargin

  /** PII patterns shared by the Spark and oracle sides (RE2/Java-portable
    * subset: no backrefs or lookaround). */
  val PiiPatterns: Seq[(String, String)] = Seq(
    "email" -> "[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\\.[a-zA-Z]{2,}",
    "url"   -> "https?://[^\\s]+",
    "phone" -> "\\+?[0-9][0-9()\\-. ]{7,}[0-9]",
    "digits" -> "[0-9]{6,}")

  /** t_redact: PII scrubbing — replace each pattern class with a typed
    * placeholder, report per-doc match counts and the scrubbed hash. */
  def tRedact(s: SparkSession, dir: String): DataFrame = {
    val counts = PiiPatterns.map { case (name, p) =>
      size(regexp_extract_all(col("text"), lit(p), lit(0))).as(s"n_$name") }
    val redacted = PiiPatterns.foldLeft(col("text")) { case (c, (name, p)) =>
      regexp_replace(c, p, s"<$name>") }
    Tables.documents(s, dir)
      .repartition(s.sparkContext.defaultParallelism, col("doc_id"))
      .select(col("doc_id") +: counts :+ md5(redacted).as("redacted_hash"): _*)
      .orderBy(col("doc_id"))
  }

  val tRedactSql: String = {
    val counts = PiiPatterns.map { case (name, p) =>
      s"len(regexp_extract_all(text, '$p')) AS n_$name" }.mkString(",\n  ")
    val redacted = PiiPatterns.foldLeft("text") { case (c, (name, p)) =>
      s"regexp_replace($c, '$p', '<$name>', 'g')" }
    s"""SELECT doc_id, $counts, md5($redacted) AS redacted_hash
       |FROM documents ORDER BY doc_id""".stripMargin
  }

  /** Split fractions: cumulative percentage bounds for train/val/test. */
  val SplitBounds: Seq[(String, Int)] = Seq("train" -> 80, "val" -> 90, "test" -> 100)

  /** Content-hash split bucket in [0,100) — shared by t_split and the
    * contamination check (both sides MUST use the identical assignment). */
  private[graft] def splitBucket(text: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    conv(substring(md5(text), 1, 15), 16, 10).cast("long") % 100
  private[queries] val splitBucketSql = "('0x' || substr(md5(text), 1, 15))::BIGINT % 100"

  /** t_split: deterministic train/val/test assignment by CONTENT hash —
    * the reproducible splitting a training pipeline needs at any scale: no
    * RNG (identical across engines, runs and cluster sizes), keyed on
    * content rather than id so exact duplicates always land in the same
    * split (no train/test leakage through copies). Pure narrow map. */
  def tSplit(s: SparkSession, dir: String): DataFrame = {
    val split = SplitBounds.foldRight(lit(null).cast("string")) { case ((name, bound), acc) =>
      when(col("bucket") < bound, lit(name)).otherwise(acc)
    }
    Tables.documents(s, dir)
      .repartition(s.sparkContext.defaultParallelism, col("doc_id"))
      .select(col("doc_id"), splitBucket(col("text")).as("bucket"))
      .withColumn("split", split)
      .orderBy(col("doc_id"))
  }

  val tSplitSql: String = {
    val cases = SplitBounds.map { case (name, bound) =>
      s"WHEN bucket < $bound THEN '$name'" }.mkString(" ")
    s"""SELECT doc_id, bucket, CASE $cases END AS split
       |FROM (SELECT doc_id, $splitBucketSql AS bucket
       |      FROM documents)
       |ORDER BY doc_id""".stripMargin
  }

  /** Eval-set size per stratum for t_sample_stratified. */
  val SamplePerSource = 5

  /** t_sample_stratified: exact-k per-stratum sampling — eval/holdout set
    * construction. Rank key is a SALTED content hash ("sample:" prefix
    * decorrelates it from t_split/t_mix assignments), so the sample is
    * RNG-free, engine- and cluster-size-independent, and reproducible;
    * row_number windows run per source, so strata sample in parallel and
    * Spark's window-group-limit pushes the k cutoff below the sort. */
  def tSampleStratified(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("source")).orderBy(col("rank_key"), col("doc_id"))
    Tables.documents(s, dir)
      .repartition(s.sparkContext.defaultParallelism, col("doc_id"))
      .select(col("source"), col("doc_id"),
        conv(substring(md5(concat(lit("sample:"), col("text"))), 1, 15), 16, 10)
          .cast("long").as("rank_key"))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= SamplePerSource)
      .orderBy(col("source"), col("rk"))
  }

  val tSampleStratifiedSql: String =
    s"""SELECT source, doc_id, rank_key, CAST(rk AS INT) AS rk FROM (
       |  SELECT source, doc_id, rank_key,
       |    ROW_NUMBER() OVER (PARTITION BY source ORDER BY rank_key, doc_id) AS rk
       |  FROM (SELECT source, doc_id,
       |          ('0x' || substr(md5('sample:' || text), 1, 15))::BIGINT AS rank_key
       |        FROM documents))
       |WHERE rk <= $SamplePerSource ORDER BY source, rk""".stripMargin

  /** Heavy-hitter knobs: φ = 3% (as the integer ratio 3/100 so the
    * threshold compare is integer-exact on both engines) and k = 40
    * sketch counters — the MG guarantee needs φ > 1/(k+1) = 1/41. */
  val HeavyHitterPct = 3
  val HeavyHitterK = 40

  /** t_heavy_hitters: two-pass heavy hitters at scale — pass 1 is the
    * bounded-memory Misra–Gries sketch (≤ k counters per partial, ONE row
    * leaves the aggregation), pass 2 exactly re-counts only the ≤ k
    * candidate tokens via a broadcast semi-join. The MG guarantee makes the
    * FINAL output deterministic and exactly equal to the true > φ·N set,
    * even though sketch internals are order-dependent — so this gets a
    * plain GROUP BY/HAVING oracle. The pattern replaces a full-vocabulary
    * shuffle with a k-bounded one at 100 TB. */
  def tHeavyHitters(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.graftshim.ColumnBridge
    val toks = Tables.documents(s, dir)
      .repartition(s.sparkContext.defaultParallelism, col("doc_id"))
      .select(explode(tokens(col("text"))).as("token"))
    val sketch = ColumnBridge.column(graft.functions.FreqSketch(
      ColumnBridge.expression(col("token")), HeavyHitterK).toAggregateExpression())
    val sk = toks.agg(sketch.as("sk"))
      .select(col("sk.n_total").as("n_total"), col("sk.cands").as("cands"))
      .cpEager // one row; truncates the sketch pass out of pass 2
    val cands = sk.select(explode(col("cands")).as("token"))
    toks.join(broadcast(cands), "token")
      .groupBy(col("token")).agg(count(lit(1)).as("cnt"))
      .crossJoin(broadcast(sk.select(col("n_total"))))
      .filter(col("cnt") * 100 > col("n_total") * HeavyHitterPct)
      .select(col("token"), col("cnt"), col("n_total"))
      .orderBy(col("token"))
  }

  val tHeavyHittersSql: String =
    s"""WITH t AS (SELECT unnest($toksSql) AS token FROM documents),
       |n AS (SELECT COUNT(*) AS n_total FROM t)
       |SELECT token, COUNT(*) AS cnt, n_total FROM t, n
       |GROUP BY token, n_total HAVING COUNT(*) * 100 > n_total * $HeavyHitterPct
       |ORDER BY token""".stripMargin

  /** t_mix: weighted dataset mixing — the training-mixture op: each source
    * gets a deterministic sampling rate (25/50/75/100% here, derived from
    * the source id), membership decided by a SALTED content hash so the
    * mix is independent of t_split's bucket (same doc can be in the mix
    * and any split; the two hashes are uncorrelated). RNG-free: the same
    * mixture reproduces on any cluster at any scale. Output is the
    * realized per-source mixture report. */
  def tMix(s: SparkSession, dir: String): DataFrame = {
    val srcnum = regexp_extract(col("source"), "[0-9]+", 0).cast("int")
    val pct = (srcnum % 4 + 1) * 25
    val bucket = conv(substring(md5(concat(lit("mix:"), col("text"))), 1, 15), 16, 10)
      .cast("long") % 100
    Tables.documents(s, dir)
      .repartition(s.sparkContext.defaultParallelism, col("doc_id"))
      .select(col("source"), pct.as("pct"), bucket.as("b"))
      .groupBy(col("source"), col("pct"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("b") < col("pct"), 1L).otherwise(0L)).as("n_kept"))
      .orderBy(col("source"))
  }

  val tMixSql: String =
    """SELECT source, (CAST(regexp_extract(source, '[0-9]+') AS INT) % 4 + 1) * 25 AS pct,
      |  COUNT(*) AS n_docs,
      |  CAST(SUM(CASE WHEN ('0x' || substr(md5('mix:' || text), 1, 15))::BIGINT % 100
      |                     < (CAST(regexp_extract(source, '[0-9]+') AS INT) % 4 + 1) * 25
      |           THEN 1 ELSE 0 END) AS BIGINT) AS n_kept
      |FROM documents GROUP BY 1, 2 ORDER BY source""".stripMargin

  /** Target mixture for t_domain_weights (langid domain → target share).
    * ONE definition feeding both engines so the mixture cannot drift. */
  val DomainTargets: Seq[(String, Double)] = Seq(
    "de" -> 0.15, "en" -> 0.4, "es" -> 0.1, "fr" -> 0.15, "zh" -> 0.1, "und" -> 0.1)

  /** t_domain_weights: DOMAIN REBALANCING — the data-mixing step a
    * pretraining pipeline runs after language/domain tagging (DoReMi-style
    * static reweighting): per domain, compare the corpus's observed share
    * against the target mixture and emit the sampling weight
    * target/observed that a weighted sampler applies per document. Upweight
    * (>1) means the domain is under-represented, downweight (<1) over-
    * represented. Scale shape: one langid narrow map + one tiny groupBy —
    * the weight table is |domains| rows, broadcastable to any sampler.
    * Division order is pinned (share first, then target/share) so the
    * doubles agree bitwise across engines. */
  def tDomainWeights(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val d = Tables.documents(s, dir)
      .repartition(s.sparkContext.defaultParallelism, col("doc_id"))
      .withColumn("toks", tokens(col("text")))
    val counts = d.select(langId(col("text"), col("toks")).as("domain"))
      .groupBy(col("domain")).agg(count(lit(1)).as("n_docs"))
    val total = counts.agg(sum(col("n_docs")).as("total"))
    val targets = DomainTargets.toDF("domain", "target_share")
    counts.crossJoin(broadcast(total))
      .withColumn("share", col("n_docs").cast("double") / col("total").cast("double"))
      .join(broadcast(targets), Seq("domain"))
      .withColumn("weight", col("target_share") / col("share"))
      .select(col("domain"), col("n_docs"), col("share"), col("target_share"), col("weight"))
      .orderBy(col("domain"))
  }

  val tDomainWeightsSql: String = {
    val langInner =
      s"""SELECT $langCaseSql AS domain
         |FROM (SELECT text, toks, $langMaxSql AS __mx
         |      FROM (SELECT text, $toksSql AS toks FROM documents))""".stripMargin
    val tgtRows = DomainTargets.map { case (l, t) => s"('$l', ${t}::DOUBLE)" }.mkString(", ")
    s"""WITH lid AS ($langInner),
       |counts AS (SELECT domain, COUNT(*) AS n_docs FROM lid GROUP BY 1),
       |tot AS (SELECT SUM(n_docs) AS total FROM counts),
       |tgt(domain, target_share) AS (VALUES $tgtRows)
       |SELECT c.domain, c.n_docs,
       |  CAST(c.n_docs AS DOUBLE) / CAST(t.total AS DOUBLE) AS share,
       |  g.target_share,
       |  g.target_share / (CAST(c.n_docs AS DOUBLE) / CAST(t.total AS DOUBLE)) AS weight
       |FROM counts c, tot t JOIN tgt g ON g.domain = c.domain
       |ORDER BY c.domain""".stripMargin
  }

  /** t_rebalance: APPLY the t_domain_weights mixture — per document,
    * a deterministic copy count realizing the target mix: floor(weight)
    * guaranteed copies plus one more when the doc's salted content-hash
    * bucket falls under the fractional part (RNG-free, so the same
    * corpus rebalances identically on any cluster; under-represented
    * domains upsample with n_copies ≥ 1, over-represented ones
    * downsample with most docs at 0). One langid tagging pass feeds both
    * the |domains|-row weight table and the per-doc decision; the weight
    * join broadcasts. Expected realized share = target share exactly. */
  def tRebalance(s: SparkSession, dir: String): DataFrame =
    rebalanceWithSalt(s, dir, "rebal:")

  /** The epoch the t_rebalance_epoch gate pins (any value works; the gate
    * and its oracle must just agree). */
  val RebalanceGateEpoch = 2

  /** t_rebalance_epoch: the PER-EPOCH variant of t_rebalance — the epoch
    * number threads through the fractional-draw salt, so each training
    * epoch realizes the same target mixture in expectation (floor copies
    * and the fractional probability are epoch-independent) while drawing
    * a DIFFERENT fractional document set: multi-epoch training never
    * repeats one fixed copy pattern, which would turn the fractional
    * upsample into a deterministic bias toward the same documents every
    * pass. Still RNG-free — same corpus + epoch = same draw on any
    * cluster. */
  def tRebalanceEpoch(s: SparkSession, dir: String): DataFrame =
    rebalanceWithSalt(s, dir, s"rebal:$RebalanceGateEpoch:")

  /** Shared rebalance core; `salt` prefixes the content hash that decides
    * the fractional extra copy (epoch-salted variants pass
    * "rebal:<epoch>:"). */
  private[graft] def rebalanceWithSalt(s: SparkSession, dir: String, salt: String): DataFrame = {
    import s.implicits._
    val d = Tables.documents(s, dir)
      .repartition(s.sparkContext.defaultParallelism, col("doc_id"))
      .withColumn("toks", tokens(col("text")))
    val tagged = d.select(col("doc_id"), langId(col("text"), col("toks")).as("domain"),
        (conv(substring(md5(concat(lit(salt), col("text"))), 1, 15), 16, 10)
          .cast("long") % 100).as("bucket"))
      .cpLazy // feeds the count agg AND the per-doc join
    val counts = tagged.groupBy(col("domain")).agg(count(lit(1)).as("n_docs"))
    val total = counts.agg(sum(col("n_docs")).as("total"))
    val weights = counts.crossJoin(broadcast(total))
      .withColumn("share", col("n_docs").cast("double") / col("total").cast("double"))
      .join(broadcast(DomainTargets.toDF("domain", "target_share")), Seq("domain"))
      .withColumn("weight", col("target_share") / col("share"))
      .select(col("domain"), col("weight"))
    val w = col("weight")
    tagged.join(broadcast(weights), Seq("domain"))
      .withColumn("n_copies",
        floor(w) + when(col("bucket").cast("double") < (w - floor(w)) * 100.0, 1L).otherwise(0L))
      .select(col("doc_id"), col("domain"), col("n_copies"))
      .orderBy(col("doc_id"))
  }

  private def rebalanceSqlWithSalt(salt: String): String = {
    val langInner =
      s"""SELECT doc_id, $langCaseSql AS domain,
         |  ('0x' || substr(md5('$salt' || text), 1, 15))::BIGINT % 100 AS bucket
         |FROM (SELECT doc_id, text, toks, $langMaxSql AS __mx
         |      FROM (SELECT doc_id, text, $toksSql AS toks FROM documents))""".stripMargin
    val tgtRows = DomainTargets.map { case (l, t) => s"('$l', ${t}::DOUBLE)" }.mkString(", ")
    s"""WITH lid AS ($langInner),
       |counts AS (SELECT domain, COUNT(*) AS n_docs FROM lid GROUP BY 1),
       |tot AS (SELECT SUM(n_docs) AS total FROM counts),
       |tgt(domain, target_share) AS (VALUES $tgtRows),
       |wts AS (
       |  SELECT c.domain,
       |    g.target_share / (CAST(c.n_docs AS DOUBLE) / CAST(t.total AS DOUBLE)) AS weight
       |  FROM counts c, tot t JOIN tgt g ON g.domain = c.domain)
       |SELECT l.doc_id, l.domain,
       |  CAST(FLOOR(w.weight) AS BIGINT) +
       |    CASE WHEN CAST(l.bucket AS DOUBLE) < (w.weight - FLOOR(w.weight)) * 100.0
       |         THEN 1 ELSE 0 END AS n_copies
       |FROM lid l JOIN wts w ON w.domain = l.domain
       |ORDER BY l.doc_id""".stripMargin
  }

  val tRebalanceSql: String = rebalanceSqlWithSalt("rebal:")
  val tRebalanceEpochSql: String = rebalanceSqlWithSalt(s"rebal:$RebalanceGateEpoch:")

  /** Sequence budget for t_pack (tokens per training sequence). */
  val PackBudget = 512

  /** t_pack: concat-and-chunk sequence packing — the LLM-pretraining data
    * layout step. Documents concatenate in (source, doc_id) order into
    * fixed-budget token sequences; each doc reports the sequence its first
    * token lands in and the offset inside it (docs may straddle sequence
    * boundaries, as real packing does). All-integer arithmetic → exact
    * oracle parity.
    *
    * Scale shape (the r13 window-lint catch): `source` has BOUNDED
    * cardinality, so the old flat running sum PARTITION BY source funneled
    * each source's whole corpus through one reducer. The running token
    * count is now a DISTRIBUTED banded prefix over doc_id
    * (BandedRank.withPrefixSums: within-band running sums PARTITION BY
    * (source, band), cross-band subtotal offsets on the ≤|sources|·bands
    * band frame) — doc_id is unique per source, so the ROWS frame is
    * tie-free by construction. Tokenization happens ONCE on the narrow
    * checkpointed frame; only (source, doc_id, n_tokens) enters the
    * prefix machinery. */
  def tPack(s: SparkSession, dir: String): DataFrame = {
    val counted = Tables.documents(s, dir)
      .select(col("source"), col("doc_id"),
        size(tokens(col("text"))).cast("long").as("n_tokens"))
      .cpEager // consumed 3x by INDEPENDENT stages of the banded prefix —
      // eager so tokenization runs ONCE, not once per stage
    graft.operators.BandedRank.withPrefixSums(
        counted, Seq("source"), "doc_id", Seq("n_tokens" -> "cum_incl"))
      .withColumn("start_tok", col("cum_incl") - col("n_tokens"))
      .select(col("source"), col("doc_id"), col("n_tokens"),
        expr(s"start_tok div $PackBudget").as("seq_id"),
        (col("start_tok") % PackBudget).as("offset_in_seq"))
      .orderBy(col("source"), col("doc_id"))
  }

  val tPackSql: String =
    s"""SELECT source, doc_id, n_tokens,
       |  start_tok // $PackBudget AS seq_id, start_tok % $PackBudget AS offset_in_seq
       |FROM (SELECT source, doc_id, CAST(len(toks) AS BIGINT) AS n_tokens,
       |        CAST(COALESCE(SUM(CAST(len(toks) AS BIGINT)) OVER (PARTITION BY source ORDER BY doc_id
       |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS start_tok
       |      FROM (SELECT source, doc_id, $toksSql AS toks FROM documents))
       |ORDER BY source, doc_id""".stripMargin

  /** t_lm_score: corpus character-trigram frequency scoring — the
    * perplexity-proxy quality filter. Pass 1 builds the corpus trigram
    * model (an aggregation bounded by charset³, broadcastable at ANY
    * corpus size); pass 2 scores each document by its mean trigram corpus
    * frequency — rare-trigram documents (mojibake, boilerplate noise) score
    * low. Frequency domain instead of log-probability keeps every
    * aggregate an exact integer (log10's last-ulp differences between
    * libm implementations would break cross-engine hashes); the single
    * final division of two exact longs is bit-identical everywhere.
    *
    * The model join is UNHINTED (VERDICT r10 #6): "charset³-bounded" is a
    * broadcast argument on ASCII, but a CJK-heavy crawl has millions of
    * distinct character trigrams and a forced broadcast() would override
    * Spark's size-based safety exactly when it matters. AQE decides at
    * runtime from the model aggregate's measured size — broadcast when it
    * really is small, shuffle-join on the trigram key otherwise (same
    * at-scale note as t_bigram_lm, which md5s its key so text never
    * shuffles — the trigram key here is already 3 chars ≤ the 16-byte
    * hash). */
  def tLmScore(s: SparkSession, dir: String): DataFrame = {
    val base = Tables.documents(s, dir)
      .repartition(s.sparkContext.defaultParallelism, col("doc_id"))
    val tris = base.filter(length(col("text")) >= 3)
      .select(col("doc_id"),
        explode(expr("transform(sequence(1, length(text)-2), i -> substring(text, i, 3))")).as("tri"))
    val model = tris.groupBy(col("tri")).agg(count(lit(1)).as("tri_n"))
    val scored = tris.join(model, "tri")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_tris"), sum(col("tri_n")).as("tri_count_sum"))
    base.select(col("doc_id")).join(scored, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_tris"), lit(0L)).as("n_tris"),
        coalesce(col("tri_count_sum"), lit(0L)).as("tri_count_sum"),
        (coalesce(col("tri_count_sum"), lit(0L)).cast("double") /
          greatest(coalesce(col("n_tris"), lit(0L)), lit(1L)).cast("double")).as("lm_score"))
      .orderBy(col("doc_id"))
  }

  val tLmScoreSql: String =
    """WITH tri AS (
      |  SELECT doc_id, unnest([substring(text, i, 3) for i in range(1, length(text)-1)]) AS tri
      |  FROM documents WHERE length(text) >= 3),
      |cnt AS (SELECT tri, COUNT(*) AS tri_n FROM tri GROUP BY tri),
      |sc AS (SELECT t.doc_id, COUNT(*) AS n_tris, CAST(SUM(c.tri_n) AS BIGINT) AS tri_count_sum
      |       FROM tri t JOIN cnt c USING (tri) GROUP BY t.doc_id)
      |SELECT d.doc_id AS doc_id, COALESCE(sc.n_tris, 0) AS n_tris,
      |  COALESCE(sc.tri_count_sum, 0) AS tri_count_sum,
      |  CAST(COALESCE(sc.tri_count_sum, 0) AS DOUBLE) /
      |    CAST(greatest(COALESCE(sc.n_tris, 0), 1) AS DOUBLE) AS lm_score
      |FROM documents d LEFT JOIN sc ON sc.doc_id = d.doc_id
      |ORDER BY d.doc_id""".stripMargin

  /** t_chat_render: SFT conversation assembly — the instruction-tuning
    * data-prep step that turns an event log into chat-template documents:
    * each user's events become turns (deterministic role mapping), render
    * through a fixed template (`<|role|>content`), joined in exact
    * chronological order. Per conversation: turn count, rendered length
    * and content fingerprint — order stability is the whole point (a
    * shuffled turn order silently corrupts training data), so the sort
    * key (ts, event_id) is total and the digest pins it. One user-keyed
    * aggregation; rendered text never leaves the executors (fingerprints
    * do). */
  def tChatRender(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(s, dir)
      .withColumn("ts_us", expr("ts div 1000"))
      .withColumn("role",
        when(col("event_type").isin("view", "click"), lit("user"))
          .when(col("event_type") === "error", lit("system"))
          .otherwise(lit("assistant")))
      .withColumn("turn", concat(lit("<|"), col("role"), lit("|>"),
        col("event_type"), lit("#"), col("event_id").cast("string")))
    e.groupBy(col("user_id").as("convo_id"))
      .agg(count(lit(1)).as("n_turns"),
        expr("array_sort(collect_list(struct(ts_us, event_id, turn)))").as("ts"))
      .select(col("convo_id"), col("n_turns"),
        expr("concat_ws('\n', transform(ts, x -> x.turn))").as("rendered"))
      .select(col("convo_id"), col("n_turns"),
        length(col("rendered")).cast("long").as("n_chars"),
        md5(col("rendered")).as("convo_md5"))
      .orderBy(col("convo_id"))
  }

  val tChatRenderSql: String =
    """SELECT user_id AS convo_id, COUNT(*) AS n_turns,
      |  CAST(length(string_agg(turn, chr(10) ORDER BY ts_us, event_id)) AS BIGINT) AS n_chars,
      |  md5(string_agg(turn, chr(10) ORDER BY ts_us, event_id)) AS convo_md5
      |FROM (
      |  SELECT user_id, event_id, epoch_us(ts) AS ts_us,
      |    '<|' || (CASE WHEN event_type IN ('view', 'click') THEN 'user'
      |                  WHEN event_type = 'error' THEN 'system'
      |                  ELSE 'assistant' END) || '|>' ||
      |    event_type || '#' || CAST(event_id AS VARCHAR) AS turn
      |  FROM events)
      |GROUP BY user_id ORDER BY convo_id""".stripMargin

  /** t_pref_pairs: PREFERENCE-PAIR construction (DPO/RLHF data prep) —
    * candidate generations are grouped per prompt (here: doc_id div 8,
    * the "k samples per prompt" layout a sampling run writes), scored
    * with the shared quality model, and each group emits ONE
    * (chosen, rejected) pair: chosen = argmax (score, doc_id), rejected =
    * argmin, kept only when the score margin clears 0.05 (pairs the
    * reward model can't separate are training noise). The argmax/argmin
    * ride a SINGLE keyed aggregation as struct max/min — no window, no
    * per-group sort — so the whole gate is one map-side-partial shuffle
    * on the prompt key; scores are bitwise cross-engine (the t_quality
    * convention), so the margin (one subtraction) and its threshold
    * compare exactly. */
  def tPrefPairs(s: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(s, dir)
      .withColumn("toks", tokens(col("text")))
      .withColumn("q", qualityScore(col("text"), col("toks")))
      .withColumn("grp", expr("doc_id div 8"))
    d.groupBy(col("grp"))
      .agg(max(struct(col("q"), col("doc_id"))).as("c"),
        min(struct(col("q"), col("doc_id"))).as("r"),
        count(lit(1)).as("n_cand"))
      .filter(col("n_cand") >= 2)
      .select(col("grp"), col("c.doc_id").as("chosen_id"),
        col("r.doc_id").as("rejected_id"),
        (col("c.q") - col("r.q")).as("margin"), col("n_cand"))
      .filter(col("margin") > 0.05)
      .orderBy(col("grp"))
  }

  /** Struct max breaks score ties on the LARGEST doc_id, struct min on the
    * smallest — the oracle's window orders replay exactly that. */
  val tPrefPairsSql: String =
    s"""WITH sc AS (
       |  SELECT doc_id, doc_id // 8 AS grp, $qualitySqlExpr AS q
       |  FROM (SELECT doc_id, text, $toksSql AS toks FROM documents)),
       |rk AS (
       |  SELECT grp, doc_id, q,
       |    ROW_NUMBER() OVER (PARTITION BY grp ORDER BY q DESC, doc_id DESC) AS r_max,
       |    ROW_NUMBER() OVER (PARTITION BY grp ORDER BY q ASC, doc_id ASC) AS r_min,
       |    COUNT(*) OVER (PARTITION BY grp) AS n_cand
       |  FROM sc)
       |SELECT c.grp, c.doc_id AS chosen_id, r.doc_id AS rejected_id,
       |  c.q - r.q AS margin, c.n_cand
       |FROM (SELECT * FROM rk WHERE r_max = 1) c
       |JOIN (SELECT * FROM rk WHERE r_min = 1) r ON r.grp = c.grp
       |WHERE c.n_cand >= 2 AND c.q - r.q > 0.05
       |ORDER BY c.grp""".stripMargin

  /** t_bigram_lm: word-bigram language-model scoring with a TRAIN/EVAL
    * split — the perplexity-proxy filter one level up from t_lm_score's
    * char trigrams: the model (bigram count c_ab + context count c_a)
    * trains on the %5≠0 docs, eval docs score their bigram positions
    * against it. Per eval doc: position count, OOV-bigram count (the
    * backoff trigger a stupid-backoff LM pays 0.4·unigram for), OOV rate,
    * and the aggregate conditional mass Σc_ab / Σc_a — integer sums with
    * two pinned divisions, so parity is exact (no per-term float
    * summation). Scale shape: one (a,b)-keyed model aggregation + one
    * model join keyed on the bigram (md5 the key at 100 TB so token text
    * never rides the shuffle), map-side partials everywhere; model size
    * is corpus-bigram-bounded, NOT broadcast. */
  def tBigramLm(s: SparkSession, dir: String): DataFrame = {
    val base = Tables.documents(s, dir)
      .repartition(s.sparkContext.defaultParallelism, col("doc_id"))
      .select(col("doc_id"), tokens(col("text")).as("toks"))
    val bi = base.filter(size(col("toks")) >= 2)
      .select(col("doc_id"), explode(expr(
        "transform(sequence(0, size(toks) - 2), i -> struct(get(toks, i) AS a, get(toks, i + 1) AS b))")).as("g"))
      .select(col("doc_id"), col("g.a").as("a"), col("g.b").as("b"))
    val train = bi.filter(col("doc_id") % 5 =!= 0)
    val cab = train.groupBy(col("a"), col("b")).agg(count(lit(1)).as("c_ab"))
    val ca = train.groupBy(col("a")).agg(count(lit(1)).as("c_a"))
    val model = cab.join(ca, "a")
    val scored = bi.filter(col("doc_id") % 5 === 0)
      .join(model, Seq("a", "b"), "left")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_bigrams"),
        sum(when(col("c_ab").isNull, 1L).otherwise(0L)).as("n_oov"),
        coalesce(sum(col("c_ab")), lit(0L)).as("c_ab_sum"),
        coalesce(sum(col("c_a")), lit(0L)).as("c_a_sum"))
    Tables.documents(s, dir).filter(col("doc_id") % 5 === 0).select(col("doc_id"))
      .join(scored, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_bigrams"), lit(0L)).as("n_bigrams"),
        coalesce(col("n_oov"), lit(0L)).as("n_oov"),
        (coalesce(col("n_oov"), lit(0L)).cast("double") /
          greatest(coalesce(col("n_bigrams"), lit(0L)), lit(1L)).cast("double")).as("oov_rate"),
        coalesce(col("c_ab_sum"), lit(0L)).as("c_ab_sum"),
        coalesce(col("c_a_sum"), lit(0L)).as("c_a_sum"),
        (coalesce(col("c_ab_sum"), lit(0L)).cast("double") /
          greatest(coalesce(col("c_a_sum"), lit(0L)), lit(1L)).cast("double")).as("cond_mass"))
      .orderBy(col("doc_id"))
  }

  val tBigramLmSql: String =
    s"""WITH t AS (SELECT doc_id, $toksSql AS toks FROM documents),
       |bi AS (
       |  SELECT doc_id, unnest([{'a': toks[i+1], 'b': toks[i+2]}
       |    for i in range(0, len(toks) - 1)], recursive := true)
       |  FROM t WHERE len(toks) >= 2),
       |cab AS (SELECT a, b, COUNT(*) AS c_ab FROM bi WHERE doc_id % 5 <> 0 GROUP BY a, b),
       |ca AS (SELECT a, COUNT(*) AS c_a FROM bi WHERE doc_id % 5 <> 0 GROUP BY a),
       |model AS (SELECT cab.a, cab.b, c_ab, c_a FROM cab JOIN ca ON ca.a = cab.a),
       |sc AS (
       |  SELECT doc_id, COUNT(*) AS n_bigrams,
       |    SUM(CASE WHEN m.c_ab IS NULL THEN 1 ELSE 0 END) AS n_oov,
       |    COALESCE(SUM(m.c_ab), 0) AS c_ab_sum,
       |    COALESCE(SUM(m.c_a), 0) AS c_a_sum
       |  FROM bi LEFT JOIN model m ON m.a = bi.a AND m.b = bi.b
       |  WHERE doc_id % 5 = 0 GROUP BY doc_id)
       |SELECT d.doc_id,
       |  CAST(COALESCE(n_bigrams, 0) AS BIGINT) AS n_bigrams,
       |  CAST(COALESCE(n_oov, 0) AS BIGINT) AS n_oov,
       |  CAST(COALESCE(n_oov, 0) AS DOUBLE) / CAST(greatest(COALESCE(n_bigrams, 0), 1) AS DOUBLE) AS oov_rate,
       |  CAST(COALESCE(c_ab_sum, 0) AS BIGINT) AS c_ab_sum,
       |  CAST(COALESCE(c_a_sum, 0) AS BIGINT) AS c_a_sum,
       |  CAST(COALESCE(c_ab_sum, 0) AS DOUBLE) / CAST(greatest(COALESCE(c_a_sum, 0), 1) AS DOUBLE) AS cond_mass
       |FROM (SELECT doc_id FROM documents WHERE doc_id % 5 = 0) d
       |LEFT JOIN sc ON sc.doc_id = d.doc_id
       |ORDER BY d.doc_id""".stripMargin

  // t_rep_filter thresholds (Gopher-style repetition cutoffs) — shared
  // into the oracle SQL so engine and oracle cannot drift.
  private val RepTopBigramMax = 0.20
  private val RepDupTrigramMax = 0.30
  private val RepDupSentMax = 0.30

  /** t_rep_filter: repetition-based quality filters — the Gopher/C4-style
    * cuts that catch boilerplate and degenerate generations exact dedup
    * misses: fraction of tokens covered by the single most frequent
    * bigram, fraction of tokens inside duplicated trigrams (capped at 1 —
    * overlapping grams overcount), and duplicate-sentence fraction.
    *
    * Scale shape: sentence dedup is per-row narrow (array_distinct inside
    * the row). Both gram metrics ride ONE posexplode and one
    * (doc_id, n, gram) count — map-side partial aggregation collapses the
    * repeats that matter before the shuffle — then a doc_id-keyed rollup.
    * Never a corpus-wide gram table: state is bounded per doc.
    */
  def tRepFilter(s: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(s, dir)
      .repartition(s.sparkContext.defaultParallelism, col("doc_id"))
      .select(col("doc_id"), tokens(col("text")).as("toks"),
        split(col("text"), "\\. ").as("sents"))
      .withColumn("n_tokens", size(col("toks")))
      .withColumn("dup_sent_frac",
        (size(col("sents")) - size(array_distinct(col("sents")))).cast("double")
          / size(col("sents")).cast("double"))
      .drop("sents")
      // two consumers below (gram explode + final join) — materialize the
      // tokenized frame once instead of re-running the tokenizer per branch
      .cpEager
    // typed empty arrays: bare array() is array<null> and won't unify with
    // the struct arrays under concat
    val noGrams = array().cast("array<struct<n:int,g:string>>")
    val grams = d.select(col("doc_id"), explode(concat(
      when(col("n_tokens") >= 2,
        expr("transform(sequence(0, n_tokens - 2), i -> struct(2 AS n, concat_ws(' ', get(toks, i), get(toks, i + 1)) AS g))"))
        .otherwise(noGrams),
      when(col("n_tokens") >= 3,
        expr("transform(sequence(0, n_tokens - 3), i -> struct(3 AS n, concat_ws(' ', get(toks, i), get(toks, i + 1), get(toks, i + 2)) AS g))"))
        .otherwise(noGrams))).as("x"))
    val rep = grams
      .groupBy(col("doc_id"), col("x.n").as("n"), col("x.g").as("g"))
      .agg(count(lit(1)).as("c"))
      .groupBy(col("doc_id"))
      .agg(max(when(col("n") === 2, col("c"))).as("max_big"),
        sum(when(col("n") === 3 && col("c") >= 2, col("c"))).as("dup_tri"))
    d.join(rep, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_tokens"),
        when(col("n_tokens") >= 2,
          (col("max_big") * 2).cast("double") / col("n_tokens").cast("double"))
          .otherwise(lit(0.0)).as("top_bigram_frac"),
        least(lit(1.0),
          (coalesce(col("dup_tri"), lit(0L)) * 3).cast("double") / col("n_tokens").cast("double"))
          .as("dup_trigram_frac"),
        col("dup_sent_frac"))
      .withColumn("keep",
        col("top_bigram_frac") < RepTopBigramMax &&
          col("dup_trigram_frac") < RepDupTrigramMax &&
          col("dup_sent_frac") < RepDupSentMax)
      .orderBy(col("doc_id"))
  }

  val tRepFilterSql: String =
    s"""WITH b AS (
       |  SELECT doc_id, toks, len(toks) AS n_tokens,
       |    CAST(len(sents) - len(list_distinct(sents)) AS DOUBLE)
       |      / CAST(len(sents) AS DOUBLE) AS dup_sent_frac,
       |    list_transform(range(1, len(toks)), i -> toks[i] || ' ' || toks[i+1]) AS bigs,
       |    list_transform(range(1, len(toks) - 1), i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]) AS tris
       |  FROM (SELECT doc_id, $toksSql AS toks, string_split(text, '. ') AS sents FROM documents)),
       |ba AS (SELECT doc_id, MAX(c) AS max_big FROM (
       |         SELECT doc_id, g, COUNT(*) AS c FROM (SELECT doc_id, unnest(bigs) AS g FROM b)
       |         GROUP BY doc_id, g) GROUP BY doc_id),
       |ta AS (SELECT doc_id, SUM(c) AS dup_tri FROM (
       |         SELECT doc_id, g, COUNT(*) AS c FROM (SELECT doc_id, unnest(tris) AS g FROM b)
       |         GROUP BY doc_id, g) WHERE c >= 2 GROUP BY doc_id)
       |SELECT b.doc_id, n_tokens,
       |  CASE WHEN n_tokens >= 2 THEN CAST(2 * max_big AS DOUBLE) / CAST(n_tokens AS DOUBLE)
       |       ELSE 0.0 END AS top_bigram_frac,
       |  least(1.0, CAST(3 * COALESCE(dup_tri, 0) AS DOUBLE) / CAST(n_tokens AS DOUBLE)) AS dup_trigram_frac,
       |  dup_sent_frac,
       |  (CASE WHEN n_tokens >= 2 THEN CAST(2 * max_big AS DOUBLE) / CAST(n_tokens AS DOUBLE) ELSE 0.0 END < $RepTopBigramMax
       |   AND least(1.0, CAST(3 * COALESCE(dup_tri, 0) AS DOUBLE) / CAST(n_tokens AS DOUBLE)) < $RepDupTrigramMax
       |   AND dup_sent_frac < $RepDupSentMax) AS keep
       |FROM b LEFT JOIN ba USING (doc_id) LEFT JOIN ta USING (doc_id)
       |ORDER BY doc_id""".stripMargin

  /** t_encode: tokenizer application — every document encoded to vocab ids
    * (the t_vocab top-100 table; OOV → 0), the step that turns a curated
    * corpus into trainer input. The vocab broadcasts (a real tokenizer is
    * ~100k entries — still broadcast-sized), so the exploded token stream
    * never shuffles for the lookup; the only shuffle is the doc_id regroup
    * that reassembles ids in position order. The gate emits a fingerprint
    * of the id sequence (md5 over the comma-joined ids) plus token/OOV
    * counts — scalar columns, full-sequence coverage. */
  def tEncode(s: SparkSession, dir: String): DataFrame = {
    val vocab = tVocab(s, dir).select(col("token"), col("vocab_id"))
    Tables.documents(s, dir)
      .repartition(s.sparkContext.defaultParallelism, col("doc_id"))
      .select(col("doc_id"), posexplode(tokens(col("text"))))
      .toDF("doc_id", "pos", "token")
      .join(broadcast(vocab), Seq("token"), "left")
      .withColumn("id", coalesce(col("vocab_id"), lit(0)))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_tokens"),
        sum(when(col("id") === 0, 1L).otherwise(0L)).as("n_unk"),
        md5(concat_ws(",",
          transform(array_sort(collect_list(struct(col("pos"), col("id")))),
            x => x("id").cast("string")))).as("ids_fp"))
      .orderBy(col("doc_id"))
  }

  val tEncodeSql: String =
    s"""WITH v AS (SELECT token, vocab_id FROM ($tVocabSql)),
       |tok AS (
       |  SELECT doc_id, u.pos AS pos, u.t AS token
       |  FROM (SELECT doc_id, unnest(list_transform(range(1, len(toks) + 1),
       |          i -> struct_pack(pos := i, t := toks[i]))) AS u
       |        FROM (SELECT doc_id, $toksSql AS toks FROM documents))),
       |e AS (SELECT doc_id, pos, COALESCE(vocab_id, 0) AS id
       |      FROM tok LEFT JOIN v USING (token))
       |SELECT doc_id, COUNT(*) AS n_tokens,
       |  COUNT(*) FILTER (id = 0) AS n_unk,
       |  md5(string_agg(id::VARCHAR, ',' ORDER BY pos)) AS ids_fp
       |FROM e GROUP BY doc_id ORDER BY doc_id""".stripMargin

  /** t_dup_spans: exact substring-level duplication measurement — the
    * "duplicated training spans" signal (à la the dedup-improves-LMs
    * line of work), at token 5-gram granularity: a span is duplicated if
    * the same 5-gram occurs in MORE THAN ONE document. Per doc: total
    * 5-grams, how many are cross-doc duplicated, and the duplicated
    * fraction. Distinct from MinHash similarity — this measures verbatim
    * overlap anywhere in the corpus, not whole-doc near-duplication.
    *
    * Scale shape: one explode → global (gram → doc-count) aggregation
    * keyed by a fixed-width md5 (map-side partials collapse within-doc
    * repeats) → semi-join-style broadcast-back is wrong at corpus scale,
    * so the dup set re-joins the exploded grams on the hash key (one
    * shuffle each side); per-doc rollup closes it. The dup-gram table is
    * the only corpus-sized intermediate and it's 2 narrow columns. */
  /** Hashed token 5-grams of a `toks` column — ONE definition feeding
    * t_dup_spans and t_decontam_ngram on both engines (md5 so shuffles
    * carry a fixed-width key, never the gram text). */
  private[graft] val gram5Expr: org.apache.spark.sql.Column =
    let(col("toks"))(t => when(size(t) >= 5,
      transform(sequence(lit(0), size(t) - 5),
        i => md5(concat_ws(" ", get(t, i), get(t, i + 1), get(t, i + 2), get(t, i + 3), get(t, i + 4)))))
      .otherwise(array().cast("array<string>")))
  private[queries] val gram5Sql =
    "list_transform(range(1, len(toks) - 3), i -> md5(concat_ws(' ', toks[i], toks[i+1], toks[i+2], toks[i+3], toks[i+4])))"

  def tDupSpans(s: SparkSession, dir: String): DataFrame = {
    val grams = Tables.documents(s, dir)
      .repartition(s.sparkContext.defaultParallelism, col("doc_id"))
      .select(col("doc_id"), tokens(col("text")).as("toks"))
      .select(col("doc_id"), explode(gram5Expr).as("g"))
    val dupGrams = grams.select(col("doc_id"), col("g")).distinct()
      .groupBy(col("g")).agg(count(lit(1)).as("nd"))
      .filter(col("nd") >= 2).select(col("g"))
    val perDoc = grams.join(dupGrams.withColumn("dup", lit(1L)), Seq("g"), "left")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_grams"),
        sum(coalesce(col("dup"), lit(0L))).as("n_dup_grams"))
    Tables.documents(s, dir).select(col("doc_id"))
      .join(perDoc, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_grams"), lit(0L)).as("n_grams"),
        coalesce(col("n_dup_grams"), lit(0L)).as("n_dup_grams"))
      .withColumn("dup_frac",
        col("n_dup_grams").cast("double") / greatest(col("n_grams"), lit(1L)).cast("double"))
      .orderBy(col("doc_id"))
  }

  val tDupSpansSql: String =
    s"""WITH g AS (
       |  SELECT doc_id, unnest($gram5Sql) AS g
       |  FROM (SELECT doc_id, $toksSql AS toks FROM documents)),
       |dup AS (SELECT g FROM (SELECT g, COUNT(DISTINCT doc_id) AS nd FROM g GROUP BY g)
       |        WHERE nd >= 2),
       |pd AS (SELECT g.doc_id, COUNT(*) AS n_grams,
       |         COUNT(*) FILTER (dup.g IS NOT NULL) AS n_dup_grams
       |       FROM g LEFT JOIN dup ON g.g = dup.g GROUP BY g.doc_id)
       |SELECT d.doc_id, COALESCE(pd.n_grams, 0) AS n_grams,
       |  COALESCE(pd.n_dup_grams, 0) AS n_dup_grams,
       |  CAST(COALESCE(pd.n_dup_grams, 0) AS DOUBLE)
       |    / CAST(greatest(COALESCE(pd.n_grams, 0), 1) AS DOUBLE) AS dup_frac
       |FROM documents d LEFT JOIN pd ON pd.doc_id = d.doc_id
       |ORDER BY d.doc_id""".stripMargin

  /** t_decontam_ngram: exact n-gram decontamination — the GPT-3-style
    * eval-leakage rule: a TEST-split document is contaminated if any of
    * its token 5-grams appears verbatim anywhere in the TRAIN split.
    * Complements d_contamination (MinHash near-dup, whole-doc) — this
    * catches verbatim quotation of an eval item inside an otherwise
    * unrelated training document, which whole-doc similarity never sees.
    *
    * Scale shape: both sides explode to hashed grams (narrow); the
    * train-gram set is distinct-reduced (map-side partials collapse
    * within-doc repeats) and the hit check is ONE equality join on the
    * md5 key followed by a per-doc rollup. The probe side is BLOOM-PRUNED
    * before the shuffle (operators/BloomPrune — the SURVEY §5.1 lever):
    * per-doc gram totals come from size(grams) BEFORE pruning, so the
    * prune only ever removes guaranteed-miss rows from the exact hit
    * join and the result is byte-identical with or without it (bloom
    * false positives die in the join; false negatives are impossible).
    * PlanSpec asserts the bloom probe sits on the exploded gram side. */
  def tDecontamNgram(s: SparkSession, dir: String): DataFrame = {
    // the tokenize+bucket scan feeds both splits — materialize it once
    // (tiny at gate scale; at 100 TB prefer re-scanning over checkpointing
    // a tokenized corpus copy — drop this localCheckpoint there)
    val t = Tables.documents(s, dir)
      .repartition(s.sparkContext.defaultParallelism, col("doc_id"))
      .select(col("doc_id"), splitBucket(col("text")).as("bucket"),
        tokens(col("text")).as("toks"))
      .cpEager
    // gram totals per test doc (size of the gram list — 0 for <5-token
    // docs), taken before any pruning so every test doc stays covered
    val perDoc = t.filter(col("bucket") >= 90)
      .select(col("doc_id"), gram5Expr.as("grams"))
      .select(col("doc_id"), size(col("grams")).cast("long").as("n_grams"), col("grams"))
    val trainGrams = t.filter(col("bucket") < 80)
      .select(explode(gram5Expr).as("g")).distinct()
    // size the filter from the train-side volume instead of a constant: an
    // under-sized bloom silently blows up fpp at larger corpora (the count
    // over the checkpointed t is one cheap metadata-ish job)
    val nTrainDocs = t.filter(col("bucket") < 80).count()
    val expected = math.max(1L << 21, nTrainDocs * 256L) // ≥ grams/doc upper bound
    val bloom = graft.operators.BloomPrune.filterFor(
      trainGrams, "g", expectedItems = expected, fpp = 0.03)
    val probe = perDoc.select(col("doc_id"), explode(col("grams")).as("g"))
      .filter(graft.operators.BloomPrune.mightContain(col("g"), bloom))
    val hits = probe.join(trainGrams, Seq("g"))
      .groupBy(col("doc_id")).agg(count(lit(1)).as("n_hit"))
    perDoc.select(col("doc_id"), col("n_grams"))
      .join(hits, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_grams"),
        coalesce(col("n_hit"), lit(0L)).as("n_hit"))
      .withColumn("contaminated", col("n_hit") > 0L)
      .orderBy(col("doc_id"))
  }

  val tDecontamNgramSql: String =
    s"""WITH t AS (SELECT doc_id, $splitBucketSql AS bucket, $toksSql AS toks FROM documents),
       |tg AS (SELECT doc_id, unnest($gram5Sql) AS g FROM t WHERE bucket >= 90),
       |tr AS (SELECT DISTINCT unnest($gram5Sql) AS g FROM t WHERE bucket < 80),
       |pd AS (SELECT tg.doc_id, COUNT(*) AS n_grams,
       |         COUNT(*) FILTER (tr.g IS NOT NULL) AS n_hit
       |       FROM tg LEFT JOIN tr ON tg.g = tr.g GROUP BY tg.doc_id)
       |SELECT t.doc_id, COALESCE(pd.n_grams, 0) AS n_grams,
       |  COALESCE(pd.n_hit, 0) AS n_hit, COALESCE(pd.n_hit, 0) > 0 AS contaminated
       |FROM t LEFT JOIN pd ON pd.doc_id = t.doc_id
       |WHERE t.bucket >= 90 ORDER BY t.doc_id""".stripMargin

  /** t_bm25's query terms and the standard BM25 constants. The constants
    * are spelled as explicit DOUBLE casts because bare `1.2` parses as a
    * DECIMAL literal in both SQL dialects, and decimal promotion rules
    * differ between engines in the last ulp. The whole score expression
    * is ONE template string evaluated by Spark's expr() and pasted into
    * the oracle verbatim — the formula cannot drift. */
  private val Bm25Terms = Seq("hash", "join", "filter")
  private val Bm25K1 = "CAST(1.2 AS DOUBLE)"
  private val Bm25B = "CAST(0.75 AS DOUBLE)"
  private val Bm25Half = "CAST(0.5 AS DOUBLE)"
  private val Bm25One = "CAST(1.0 AS DOUBLE)"

  /** Score over columns (tf_i, dl) × broadcast stats (n_docs, sdl, df_i). */
  private val bm25ScoreSql: String = Bm25Terms.indices.map { i =>
    s"""((n_docs - df_$i + $Bm25Half) / (df_$i + $Bm25Half) *
       | (tf_$i * ($Bm25K1 + $Bm25One) /
       |  (tf_$i + $Bm25K1 * ($Bm25One - $Bm25B + $Bm25B * dl / (sdl / n_docs)))))""".stripMargin
  }.mkString(" + ")

  /** t_bm25: query-relevance scoring — the retrieval side of a corpus
    * engine: rank documents against a term query with BM25 term
    * saturation and length normalization (tf·(k1+1) / (tf + k1·(1−b+
    * b·dl/avgdl))). The idf factor is the RATIONAL form
    * (N−df+0.5)/(df+0.5) without the usual log — same deviation t_tfidf
    * takes, because ln() is libm-implementation-dependent and would break
    * bitwise oracle parity; it preserves the rare-term-beats-common-term
    * ordering within each term (scores are not drop-in comparable to
    * log-BM25 absolutes).
    *
    * Scale shape: per-doc tf/dl is computed in place (the repartition
    * below is the local-split-spreading idiom for CPU-bound maps over a
    * single parquet split — drop it on a real cluster, where it would be
    * a corpus-sized shuffle); N/avgdl/df compress to ONE stats row
    * broadcast back; top-20 rides the rank sort with LIMIT pushdown. The
    * stats aggregation is the only inherent shuffle. */
  def tBm25(s: SparkSession, dir: String): DataFrame = {
    val perDoc = Tables.documents(s, dir)
      .repartition(s.sparkContext.defaultParallelism, col("doc_id"))
      .withColumn("toks", tokens(col("text")))
      .select(Seq(col("doc_id"), size(col("toks")).as("dl")) ++
        Bm25Terms.zipWithIndex.map { case (t, i) =>
          size(expr(s"filter(toks, x -> x = '$t')")).as(s"tf_$i")
        }: _*)
    val aggs = Seq(count(lit(1)).as("n_docs"),
      sum(col("dl").cast("decimal(18,6)")).cast("double").as("sdl")) ++
      Bm25Terms.indices.map(i =>
        sum(when(col(s"tf_$i") > 0, 1L).otherwise(0L)).as(s"df_$i"))
    val stats = perDoc.agg(aggs.head, aggs.tail: _*)
    perDoc.crossJoin(broadcast(stats))
      .withColumn("score", expr(bm25ScoreSql))
      .filter(col("score") > 0.0)
      .select(col("doc_id"), col("score"))
      .orderBy(col("score").desc, col("doc_id"))
      .limit(20)
  }

  val tBm25Sql: String = {
    val tfCols = Bm25Terms.zipWithIndex.map { case (t, i) =>
      s"len(list_filter(toks, x -> x = '$t')) AS tf_$i" }.mkString(",\n    ")
    val dfCols = Bm25Terms.indices.map(i =>
      s"SUM(CASE WHEN tf_$i > 0 THEN 1 ELSE 0 END) AS df_$i").mkString(",\n    ")
    val score = bm25ScoreSql
    s"""WITH pd AS (
       |  SELECT doc_id, len(toks) AS dl,
       |    $tfCols
       |  FROM (SELECT doc_id, $toksSql AS toks FROM documents)),
       |st AS (
       |  SELECT COUNT(*) AS n_docs,
       |    CAST(SUM(CAST(dl AS DECIMAL(18,6))) AS DOUBLE) AS sdl,
       |    $dfCols
       |  FROM pd)
       |SELECT doc_id, score FROM (
       |  SELECT doc_id, $score AS score FROM pd CROSS JOIN st)
       |WHERE score > 0.0 ORDER BY score DESC, doc_id LIMIT 20""".stripMargin
  }

  private val FeatureHashDim = 64

  /** t_feature_hash: the hashing-trick featurizer — every document maps to
    * a FIXED 64-dim signed token-count vector (index = md5(token) mod dim,
    * sign = one more md5 bit, à la Weinberger et al.) with no vocabulary
    * pass and no driver state: the classic way to featurize unbounded text
    * at 100 TB (collisions are the accepted trade). Bridges the text stack
    * to the vector stack: the output dimension matches the embeddings
    * width, so these vectors feed Knn/EmbedLsh/IvfIndex unchanged.
    *
    * Integer-exact end to end (signed counts), so the gate hashes the full
    * vector fingerprint. Scale shape: explode → (doc, idx) partial-agg →
    * per-doc assembly; shuffles carry (doc_id, idx, count) triples, never
    * token text. Zero-token docs produce the zero vector (left join). */
  def tFeatureHash(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
      .repartition(s.sparkContext.defaultParallelism, col("doc_id"))
    val toks = docs.select(col("doc_id"), explode(tokens(col("text"))).as("token"))
    val idx = conv(substring(md5(col("token")), 1, 15), 16, 10)
      .cast("long") % FeatureHashDim
    val sv = when(conv(substring(md5(col("token")), 16, 1), 16, 10)
      .cast("long") % 2 === 0, 1L).otherwise(-1L)
    val entries = toks.select(col("doc_id"), idx.as("idx"), sv.as("sv"))
      .groupBy(col("doc_id"), col("idx")).agg(sum(col("sv")).as("v"))
      .groupBy(col("doc_id")).agg(collect_list(struct(col("idx"), col("v"))).as("es"))
    docs.select(col("doc_id")).join(entries, Seq("doc_id"), "left")
      .withColumn("es", coalesce(col("es"),
        expr("cast(array() as array<struct<idx:bigint,v:bigint>>)")))
      .withColumn("vec", expr(
        s"transform(sequence(0, ${FeatureHashDim - 1}), i -> coalesce(aggregate(filter(es, e -> e.idx = i), 0L, (a, x) -> a + x.v), 0L))"))
      .select(col("doc_id"),
        size(expr("filter(vec, x -> x != 0)")).as("nnz"),
        expr("aggregate(vec, 0L, (a, x) -> a + abs(x))").as("l1"),
        md5(concat_ws(",", expr("transform(vec, x -> cast(x AS string))"))).as("vec_fp"))
      .orderBy(col("doc_id"))
  }

  val tFeatureHashSql: String =
    s"""WITH tok AS (SELECT doc_id, unnest($toksSql) AS token FROM documents),
       |e AS (
       |  SELECT doc_id, ('0x' || substr(md5(token), 1, 15))::BIGINT % $FeatureHashDim AS idx,
       |    SUM(CASE WHEN ('0x' || substr(md5(token), 16, 1))::BIGINT % 2 = 0
       |             THEN 1 ELSE -1 END) AS v
       |  FROM tok GROUP BY doc_id, idx),
       |g AS (SELECT doc_id, list(struct_pack(idx := idx, v := v)) AS es FROM e GROUP BY doc_id),
       |vec AS (
       |  SELECT d.doc_id,
       |    [coalesce(list_sum([x.v for x in coalesce(g.es, []) if x.idx = i]), 0)
       |     for i in range(0, $FeatureHashDim)] AS vec
       |  FROM documents d LEFT JOIN g ON g.doc_id = d.doc_id)
       |SELECT doc_id,
       |  CAST(len(list_filter(vec, x -> x <> 0)) AS INT) AS nnz,
       |  CAST(list_sum(list_transform(vec, x -> abs(x))) AS BIGINT) AS l1,
       |  md5(array_to_string(vec, ',')) AS vec_fp
       |FROM vec ORDER BY doc_id""".stripMargin

  private val BpeMerges = 10

  /** t_bpe_train: tokenizer TRAINING — the first `BpeMerges` BPE merge
    * rules learned from the frequency-weighted vocabulary (t_vocab's
    * top-100 alphanumeric words), the canonical subword-tokenizer
    * construction. Each round counts adjacent symbol pairs weighted by
    * word frequency, picks the max (ties: lexicographic pair), and merges
    * its non-overlapping occurrences left-to-right. Pairs with t_encode
    * (application of a trained vocab).
    *
    * Scale shape: the word-frequency dict is the training input (bounded:
    * millions of rows at any corpus size, weights carry the volume). Each
    * round is ONE pair-count aggregation over the dict plus a collect of
    * exactly one winning row; the merge itself is a narrow per-word fold.
    * 2·K jobs for K merges, never a corpus rescan.
    *
    * The oracle replays the same K rounds unrolled; its merge uses the
    * gaps-and-islands formulation (odd ranks within each run of
    * consecutive candidate positions) — equivalent to the left-to-right
    * greedy fold, so the two independent constructions cross-check. */
  def tBpeTrain(s: SparkSession, dir: String): DataFrame = {
    var words = tVocab(s, dir)
      .filter(col("token").rlike("^[a-z0-9]+$"))
      .select(expr("filter(split(token, ''), x -> x <> '')").as("syms"), col("n"))
      .cpEager
    val out = (1 to BpeMerges).map { rank =>
      // guard: sequence(0, -1) is DESCENDING for 1-symbol words and would
      // emit spurious (sym, null)/(null, sym) pairs the oracle never sees
      val pairs = words.filter(size(col("syms")) >= 2).select(col("n"), explode(
        expr("transform(sequence(0, size(syms) - 2), i -> struct(get(syms, i) AS p1, get(syms, i + 1) AS p2))")).as("p"))
        .groupBy(col("p.p1").as("p1"), col("p.p2").as("p2"))
        .agg(sum(col("n")).as("cnt"))
      val best = pairs.orderBy(col("cnt").desc, col("p1"), col("p2")).limit(1).head()
      val (p1, p2, cnt) = (best.getString(0), best.getString(1), best.getLong(2))
      words = words.select(expr(
        s"""aggregate(syms, cast(array() as array<string>),
           |  (acc, x) -> CASE WHEN size(acc) > 0 AND element_at(acc, -1) = '$p1' AND x = '$p2'
           |              THEN concat(slice(acc, 1, size(acc) - 1), array('$p1$p2'))
           |              ELSE concat(acc, array(x)) END)""".stripMargin).as("syms"), col("n"))
        .cpEager
      (rank, p1, p2, p1 + p2, cnt)
    }
    import s.implicits._
    out.toDF("merge_rank", "p1", "p2", "merged", "pair_count").orderBy(col("merge_rank"))
  }

  /** One oracle round: pair-count + argmax + islands merge over w{i-1}. */
  private def bpeRoundSql(i: Int): String = {
    val (prev, cur) = (s"w${i - 1}", s"w$i")
    s"""b$i AS MATERIALIZED (
       |  SELECT u.p1 AS p1, u.p2 AS p2, CAST(SUM(n) AS BIGINT) AS cnt
       |  FROM (SELECT n, unnest(list_transform(range(1, len(syms)),
       |          i -> struct_pack(p1 := syms[i], p2 := syms[i + 1]))) AS u
       |        FROM $prev)
       |  GROUP BY 1, 2 ORDER BY cnt DESC, p1, p2 LIMIT 1),
       |m$i AS MATERIALIZED (
       |  SELECT wid, pos, sym,
       |    CASE WHEN cand THEN ROW_NUMBER() OVER (PARTITION BY wid, island ORDER BY pos) % 2 = 1
       |         ELSE FALSE END AS merge_here,
       |    b.p1 AS p1, b.p2 AS p2
       |  FROM (
       |    SELECT wid, pos, sym, cand,
       |      CASE WHEN cand THEN pos - ROW_NUMBER() OVER (PARTITION BY wid, cand ORDER BY pos) END AS island
       |    FROM (
       |      SELECT wid, pos, sym, lead(sym) OVER (PARTITION BY wid ORDER BY pos) AS nxt,
       |        sym = (SELECT p1 FROM b$i) AND
       |        coalesce(lead(sym) OVER (PARTITION BY wid ORDER BY pos) = (SELECT p2 FROM b$i), FALSE) AS cand
       |      FROM (SELECT wid, u.pos AS pos, u.sym AS sym
       |            FROM (SELECT wid, unnest(list_transform(range(1, len(syms) + 1),
       |                    i -> struct_pack(pos := i, sym := syms[i]))) AS u FROM $prev)))) c
       |  CROSS JOIN b$i b),
       |$cur AS MATERIALIZED (
       |  SELECT w.wid, w.n, m.syms FROM $prev w JOIN (
       |    SELECT wid, list(CASE WHEN merge_here THEN p1 || p2 ELSE sym END ORDER BY pos) AS syms
       |    FROM (
       |      SELECT wid, pos, sym, merge_here, p1, p2,
       |        coalesce(lag(merge_here) OVER (PARTITION BY wid ORDER BY pos), FALSE) AS consumed
       |      FROM m$i)
       |    WHERE NOT consumed GROUP BY wid) m ON m.wid = w.wid)""".stripMargin
  }

  val tBpeTrainSql: String = {
    val rounds = (1 to BpeMerges).map(bpeRoundSql).mkString(",\n")
    val results = (1 to BpeMerges).map { i =>
      s"SELECT $i AS merge_rank, p1, p2, p1 || p2 AS merged, cnt AS pair_count FROM b$i"
    }.mkString("\nUNION ALL\n")
    s"""WITH w0 AS MATERIALIZED (
       |  SELECT ROW_NUMBER() OVER (ORDER BY token) AS wid, n, string_split(token, '') AS syms
       |  FROM ($tVocabSql) WHERE regexp_matches(token, '^[a-z0-9]+$$')),
       |$rounds
       |$results
       |ORDER BY merge_rank""".stripMargin
  }

  /** t_dataset_card: the one-page corpus summary a released training set
    * ships — corpus size, character/token mass, length extremes and mean,
    * and the language/source composition, as fixed (metric, value) rows.
    * Everything is a count or an integer-derived ratio, so the card is
    * exact across engines; the per-group rows are |langs| + |sources|
    * sized — nothing corpus-sized leaves the executors, the same
    * observability contract as d_report. */
  def tDatasetCard(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
      .select(col("doc_id"), col("lang"), col("source"),
        length(col("text")).cast("long").as("len"),
        size(graft.functions.TextFunctions.tokens(col("text"))).cast("long").as("toks"))
      .cpEager // one corpus pass feeds all the card sections
    def m(name: String, v: org.apache.spark.sql.Column, src: DataFrame): DataFrame =
      src.agg(v.cast("double").as("value")).select(lit(name).as("metric"), col("value"))
    val scalars = Seq(
      m("n_docs", count(lit(1)), docs),
      m("total_chars", sum(col("len")), docs),
      m("total_tokens", sum(col("toks")), docs),
      m("mean_chars", sum(col("len")).cast("double") / count(lit(1)), docs),
      m("min_chars", min(col("len")), docs),
      m("max_chars", max(col("len")), docs),
      m("n_langs", countDistinct(col("lang")), docs),
      m("n_sources", countDistinct(col("source")), docs))
    val byLang = docs.groupBy(col("lang")).agg(count(lit(1)).cast("double").as("value"))
      .select(concat(lit("lang_"), col("lang")).as("metric"), col("value"))
    val bySource = docs.groupBy(col("source")).agg(count(lit(1)).cast("double").as("value"))
      .select(concat(lit("source_"), col("source")).as("metric"), col("value"))
    scalars.reduce(_ unionByName _).unionByName(byLang).unionByName(bySource)
      .orderBy(col("metric"))
  }

  val tDatasetCardSql: String =
    s"""WITH d AS (SELECT doc_id, lang, source, length(text) AS len, len($toksSql) AS toks FROM documents)
       |SELECT metric, value FROM (
       |  SELECT 'n_docs' AS metric, CAST(COUNT(*) AS DOUBLE) AS value FROM d
       |  UNION ALL SELECT 'total_chars', CAST(SUM(len) AS DOUBLE) FROM d
       |  UNION ALL SELECT 'total_tokens', CAST(SUM(toks) AS DOUBLE) FROM d
       |  UNION ALL SELECT 'mean_chars', CAST(SUM(len) AS DOUBLE) / COUNT(*) FROM d
       |  UNION ALL SELECT 'min_chars', CAST(MIN(len) AS DOUBLE) FROM d
       |  UNION ALL SELECT 'max_chars', CAST(MAX(len) AS DOUBLE) FROM d
       |  UNION ALL SELECT 'n_langs', CAST(COUNT(DISTINCT lang) AS DOUBLE) FROM d
       |  UNION ALL SELECT 'n_sources', CAST(COUNT(DISTINCT source) AS DOUBLE) FROM d
       |  UNION ALL SELECT 'lang_' || lang, CAST(COUNT(*) AS DOUBLE) FROM d GROUP BY lang
       |  UNION ALL SELECT 'source_' || source, CAST(COUNT(*) AS DOUBLE) FROM d GROUP BY source)
       |ORDER BY metric""".stripMargin

  /** RAG chunking window: 32-token chunks every 24 tokens (8-token
    * overlap so no boundary sentence is ever split from its context). */
  private val ChunkSize = 32
  private val ChunkStride = 24

  /** t_chunk: overlapping token-window chunking — the retrieval-ingestion
    * operator every RAG stack runs before embedding: each document splits
    * into fixed-size token windows at a fixed stride, the overlap keeping
    * boundary context in two chunks. Output is one row per chunk with its
    * token count and content fingerprint (chunk text never leaves as a
    * wide column — downstream embeds from the fingerprint-keyed store).
    * Scale shape: a pure narrow flatMap off one corpus pass — chunking
    * shuffles nothing; the per-doc chunk count is ⌈n/stride⌉. */
  def tChunk(s: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(s, dir)
      .repartition(s.sparkContext.defaultParallelism, col("doc_id"))
      .select(col("doc_id"), graft.functions.TextFunctions.tokens(col("text")).as("toks"))
    d.select(col("doc_id"), col("toks"),
        explode(expr(
          s"sequence(0, greatest((size(toks) + ${ChunkStride - 1}) div $ChunkStride - 1, 0))")).as("ci"))
      .withColumn("chunk", expr(s"slice(toks, ci * $ChunkStride + 1, $ChunkSize)"))
      .filter(size(col("chunk")) > 0)
      .select(col("doc_id"), col("ci").cast("long").as("chunk_idx"),
        size(col("chunk")).cast("long").as("n_chunk_toks"),
        md5(array_join(col("chunk"), " ")).as("chunk_md5"))
      .orderBy(col("doc_id"), col("chunk_idx"))
  }

  val tChunkSql: String =
    s"""SELECT doc_id, CAST(ci AS BIGINT) AS chunk_idx,
       |  CAST(len(chunk) AS BIGINT) AS n_chunk_toks,
       |  md5(array_to_string(chunk, ' ')) AS chunk_md5
       |FROM (
       |  SELECT doc_id, ci,
       |    toks[ci * $ChunkStride + 1 : ci * $ChunkStride + $ChunkSize] AS chunk
       |  FROM (SELECT doc_id, toks,
       |          unnest(range(greatest((len(toks) + $ChunkStride - 1) // $ChunkStride, 1))) AS ci
       |        FROM (SELECT doc_id, $toksSql AS toks FROM documents)))
       |WHERE len(chunk) > 0
       |ORDER BY doc_id, chunk_idx""".stripMargin

  /** t_classify: model-based quality filtering — the bootstrap pattern of
    * modern corpus builds (label a seed set with a cheap heuristic, train
    * a linear classifier on it, apply the classifier corpus-wide). The
    * seed rule is integer-only ("curated prose": ≥ 15 tokens AND
    * stopwords ≥ 1/16 of tokens — the corpus median, so the seed splits
    * the slice near 50/50 instead of degenerating); training reduces each
    * token to an integer WEIGHT occ_good·M_bad − occ_bad·M_good over
    * occurrence masses — the cross-product form of the centroid-difference
    * classifier Σ c_t·(P(t|good) − P(t|bad)) scaled by the constant
    * M_good·M_bad, so training and inference are exact integer arithmetic
    * on both engines (no logs, no division) while still carrying
    * magnitude: a stopword's weight scales with its frequency and rate
    * gap, a filler token's hovers near zero. Inference sums a document's
    * per-occurrence weights; the decision is score > 0.
    *
    * Scale: one exploded token pass feeds BOTH training and inference;
    * the weight table is vocab-sized (broadcast when it fits, token-keyed
    * shuffle join otherwise); the corpus masses are a 1-row aggregate
    * cross-joined as a broadcast — no floats, no driver loops. At corpus
    * scale the cross products outgrow 64 bits (masses ~10¹⁴ → products
    * ~10²⁸): rescale both masses to per-2⁶³-safe units (divide by a common
    * power of two) or widen the weight column to decimal(38,0) — the
    * decision sign is invariant to a common positive rescale. */
  def tClassify(s: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(s, dir)
      .repartition(s.sparkContext.defaultParallelism, col("doc_id"))
    val seed = d.select(col("doc_id"), tokens(col("text")).as("toks"))
      .select(col("doc_id"), col("toks"),
        (size(col("toks")) >= 15 &&
          size(filter(col("toks"), t => t.isin(Stopwords.map(x => x: Any): _*))) * 16
            >= size(col("toks"))).cast("int").as("seed_lbl"))
      // r16 opt (guide §7.2 duplicated subtrees): seed feeds the
      // classifier's three consumers (mass totals, per-token votes, the
      // scoring join) AND the final label join — unchecked, the
      // scan+tokenize+stopword subtree planned FOUR times. One lazy
      // checkpoint makes "one exploded token pass" actually true.
      .cpLazy
    val scored = graft.operators.QualityClassifier
      .scores(seed, "doc_id", "toks", "seed_lbl")
    seed.select(col("doc_id"), col("seed_lbl"))
      .join(scored, Seq("doc_id"), "left")
      .select(col("doc_id"), col("seed_lbl"),
        coalesce(col("clf_score"), lit(0L)).as("score"),
        (coalesce(col("clf_score"), lit(0L)) > 0).cast("int").as("pred"))
      .orderBy(col("doc_id"))
  }

  val tClassifySql: String =
    s"""WITH t AS (SELECT doc_id, $toksSql AS toks FROM documents),
       |seed AS (SELECT doc_id, toks,
       |  CASE WHEN len(toks) >= 15
       |        AND len(list_filter(toks, x -> x IN (${inList(Stopwords)}))) * 16 >= len(toks)
       |       THEN 1 ELSE 0 END AS seed_lbl FROM t),
       |tok AS (SELECT doc_id, seed_lbl, token FROM
       |          (SELECT doc_id, seed_lbl, unnest(toks) AS token FROM seed)
       |        WHERE token <> ''),
       |tot AS (SELECT SUM(seed_lbl) AS n_good, SUM(1 - seed_lbl) AS n_bad FROM tok),
       |v AS (SELECT token,
       |        CAST(SUM(seed_lbl) * n_bad - SUM(1 - seed_lbl) * n_good AS BIGINT) AS vote
       |      FROM tok, tot GROUP BY token, n_good, n_bad),
       |sc AS (SELECT doc_id, SUM(vote) AS score FROM tok JOIN v USING (token) GROUP BY doc_id)
       |SELECT s.doc_id, CAST(s.seed_lbl AS INT) AS seed_lbl,
       |  CAST(coalesce(sc.score, 0) AS BIGINT) AS score,
       |  CAST(coalesce(sc.score, 0) > 0 AS INT) AS pred
       |FROM seed s LEFT JOIN sc ON sc.doc_id = s.doc_id
       |ORDER BY s.doc_id""".stripMargin

  /** t_curriculum: quality-stratified curriculum buckets — the ordering
    * artifact curriculum training consumes (easy/clean strata first or
    * last): exact quality quartile thresholds over the corpus (one
    * percentile aggregation — the q_quantiles parity pair), broadcast as
    * a 1-row frame, every document assigned bucket = #thresholds ≤ its
    * score. Two passes total, threshold table O(1).
    *
    * `approx = true` is the 100 TB path: percentile_approx's mergeable
    * GK sketch (one ordinary aggregation, accuracy 10000 ⇒ rank error
    * ~1e-4) replaces the exact percentile's full sort — same plan shape,
    * same assignment rule; SketchToggleSpec bounds the quartile
    * disagreement at sf0.1 (≥99% identical buckets). The gate keeps
    * exact for the oracle. */
  def tCurriculum(s: SparkSession, dir: String): DataFrame =
    tCurriculum(s, dir, approx = false)

  def tCurriculum(s: SparkSession, dir: String, approx: Boolean): DataFrame = {
    val d = Tables.documents(s, dir)
      .repartition(s.sparkContext.defaultParallelism, col("doc_id"))
      .withColumn("toks", tokens(col("text")))
      .select(col("doc_id"), qualityScore(col("text"), col("toks")).as("quality"))
    val thExpr =
      if (approx) "percentile_approx(quality, array(0.25D, 0.5D, 0.75D), 10000)"
      else "percentile(quality, array(0.25D, 0.5D, 0.75D))"
    val th = d.agg(expr(thExpr).cast("array<double>").as("th"))
    d.crossJoin(broadcast(th))
      .withColumn("bucket",
        expr("aggregate(th, 0, (a, t) -> a + (CASE WHEN quality >= t THEN 1 ELSE 0 END))"))
      .select(col("doc_id"), col("quality"), col("bucket"))
      .orderBy(col("doc_id"))
  }

  val tCurriculumSql: String =
    s"""WITH q AS (SELECT doc_id, $qualitySqlExpr AS quality
       |           FROM (SELECT doc_id, text, $toksSql AS toks FROM documents)),
       |th AS (SELECT quantile_cont(quality, [0.25, 0.5, 0.75]) AS th FROM q)
       |SELECT doc_id, quality,
       |  (CASE WHEN quality >= th[1] THEN 1 ELSE 0 END +
       |   CASE WHEN quality >= th[2] THEN 1 ELSE 0 END +
       |   CASE WHEN quality >= th[3] THEN 1 ELSE 0 END) AS bucket
       |FROM q, th ORDER BY doc_id""".stripMargin

  /** t_winnowing: the MOSS winnowing fingerprint SET — per document,
    * k-gram hashes, the minimum of every w-length hash window selected,
    * distinct selections kept. The guarantee plain min-hash lacks: any
    * shared substring of length ≥ w+k−1 between two documents yields at
    * least one SHARED fingerprint, so local plagiarism/quotation is
    * detectable, not just whole-document similarity. Pure array HOFs per
    * row (no shuffle); output carries the count and an order-insensitive
    * set digest so the gate is hash-comparable.
    *
    * k-gram hashing is the native Karp–Rabin array expression
    * (kgram_hashes): ONE O(n) rolling pass per document, versus the r9
    * md5-per-position formulation's O(n·k) hash work; the oracle replays
    * the identical polynomial fold over ord() codepoints. */
  def tWinnowing(s: SparkSession, dir: String): DataFrame =
    // fingerprints from the shared winnowing stage (one corpus pass
    // serves this gate AND d_substring_overlap)
    DedupQ.winnowFps(s, dir)
      .select(col("doc_id"), col("n_grams"),
        size(col("fps")).cast("long").as("n_fps"),
        md5(expr("concat_ws(',', transform(fps, x -> CAST(x AS STRING)))")).as("fp_digest"))
      .orderBy(col("doc_id"))

  val tWinnowingSql: String =
    s"""WITH h AS (
      |  SELECT doc_id, ${graft.functions.TextFunctions.kgramHashesSql("text", 8)} AS hs
      |  FROM documents),
      |f AS (
      |  SELECT doc_id, hs,
      |    list_sort(list_distinct([list_min(hs[j + 1 : j + 8])
      |      for j in range(0, greatest(len(hs) - 8, 0) + 1)])) AS fps
      |  FROM h)
      |SELECT doc_id, CAST(len(hs) AS BIGINT) AS n_grams, CAST(len(fps) AS BIGINT) AS n_fps,
      |  md5(array_to_string(fps, ',')) AS fp_digest
      |FROM f ORDER BY doc_id""".stripMargin

  /** t_code_detect: CODE vs PROSE separation — the routing step a mixed
    * crawl needs before language-specific filtering (code wants different
    * quality rules, dedup granularity and mixing weights than prose, and
    * an unrouted corpus trains both badly). Detection is the standard
    * heuristic feature stack, all exact integers: code-symbol occurrences
    * ({}()=;<>), indented-line count (literal "\n  " splits), snake_case
    * identifier count; score = 1000·(3·sym + 10·indent + 5·snake) div
    * chars (INTEGER division — no float anywhere), is_code at score ≥ 40.
    *
    * The corpus is natural text, so code docs are PLANTED (the
    * e_mad_outliers pattern, derived identically in the oracle): every
    * doc_id % 37 == 0 document gets a code preamble — those must flag,
    * real prose must not, and both verdicts are exercised on every run.
    * Pure narrow maps — regex/split counts ride the scan, no shuffle
    * until the presentation sort; at 100 TB this is IO-bound like
    * t_html. */
  def tCodeDetect(s: SparkSession, dir: String): DataFrame = {
    val snippet = "def load_cfg(x):\n  return cfg_map[x] + (x * 2);\n"
    val planted = when(col("doc_id") % 37 === 0,
      concat(lit(snippet * 3), col("text"))).otherwise(col("text"))
    Tables.documents(s, dir)
      .withColumn("t2", planted)
      .select(col("doc_id"),
        size(regexp_extract_all(col("t2"), lit("[{}()=;<>]"), lit(0))).cast("long").as("n_sym"),
        (size(split(col("t2"), "\n  ")) - 1).cast("long").as("n_indent"),
        size(regexp_extract_all(col("t2"), lit("[a-z]+_[a-z]+"), lit(0))).cast("long").as("n_snake"),
        length(col("t2")).cast("long").as("n_chars"))
      .withColumn("code_score",
        expr("(1000 * (3 * n_sym + 10 * n_indent + 5 * n_snake)) div greatest(n_chars, 1)"))
      .withColumn("is_code", col("code_score") >= 40)
      .orderBy(col("doc_id"))
  }

  val tCodeDetectSql: String = {
    // the snippet is assembled via chr(10) so no engine-specific string
    // escape semantics are in play; ×3 matches the Spark side
    val snip = "('def load_cfg(x):' || chr(10) || '  return cfg_map[x] + (x * 2);' || chr(10))"
    s"""WITH p AS (
       |  SELECT doc_id,
       |    CASE WHEN doc_id % 37 = 0 THEN repeat($snip, 3) || text ELSE text END AS t2
       |  FROM documents),
       |f AS (
       |  SELECT doc_id,
       |    CAST(len(regexp_extract_all(t2, '[{}()=;<>]')) AS BIGINT) AS n_sym,
       |    CAST(len(string_split(t2, chr(10) || '  ')) - 1 AS BIGINT) AS n_indent,
       |    CAST(len(regexp_extract_all(t2, '[a-z]+_[a-z]+')) AS BIGINT) AS n_snake,
       |    CAST(length(t2) AS BIGINT) AS n_chars
       |  FROM p)
       |SELECT doc_id, n_sym, n_indent, n_snake, n_chars,
       |  (1000 * (3 * n_sym + 10 * n_indent + 5 * n_snake)) // greatest(n_chars, 1) AS code_score,
       |  ((1000 * (3 * n_sym + 10 * n_indent + 5 * n_snake)) // greatest(n_chars, 1)) >= 40 AS is_code
       |FROM f ORDER BY doc_id""".stripMargin
  }

  val gates: Seq[Gate] = Seq(
    Gate("t_code_detect", tCodeDetect _, tCodeDetectSql),
    Gate("t_classify", tClassify _, tClassifySql),
    Gate("t_curriculum", tCurriculum _, tCurriculumSql),
    Gate("t_chunk", tChunk _, tChunkSql),
    Gate("t_dataset_card", tDatasetCard _, tDatasetCardSql),
    Gate("t_bpe_train", tBpeTrain _, tBpeTrainSql),
    Gate("t_dup_spans", tDupSpans _, tDupSpansSql),
    Gate("t_decontam_ngram", tDecontamNgram _, tDecontamNgramSql),
    Gate("t_bm25", tBm25 _, tBm25Sql),
    Gate("t_feature_hash", tFeatureHash _, tFeatureHashSql),
    Gate("t_encode", tEncode _, tEncodeSql),
    Gate("t_rep_filter", tRepFilter _, tRepFilterSql),
    Gate("t_pack", tPack _, tPackSql),
    Gate("t_sample_stratified", tSampleStratified _, tSampleStratifiedSql),
    Gate("t_lm_score", tLmScore _, tLmScoreSql),
    Gate("t_bigram_lm", tBigramLm _, tBigramLmSql),
    Gate("t_chat_render", tChatRender _, tChatRenderSql),
    Gate("t_pref_pairs", tPrefPairs _, tPrefPairsSql),
    Gate("t_mix", tMix _, tMixSql),
    Gate("t_domain_weights", tDomainWeights _, tDomainWeightsSql),
    Gate("t_rebalance", tRebalance _, tRebalanceSql),
    Gate("t_rebalance_epoch", tRebalanceEpoch _, tRebalanceEpochSql),
    Gate("t_heavy_hitters", tHeavyHitters _, tHeavyHittersSql),
    Gate("t_split", tSplit _, tSplitSql),
    Gate("t_redact", tRedact _, tRedactSql),
    Gate("t_tfidf", tTfidf _, tTfidfSql),
    Gate("t_vocab", tVocab _, tVocabSql),
    Gate("t_rolling_fp", tRollingFp _, tRollingFpSql),
    Gate("t_winnowing", tWinnowing _, tWinnowingSql),
    Gate("t_tokens", tTokens _, tTokensSql),
    Gate("t_quality", tQuality _, tQualitySql),
    Gate("t_langid", tLangid _, tLangidSql),
    Gate("t_fingerprint", tFingerprint _, tFingerprintSql),
    Gate("t_ngrams", tNgrams _, tNgramsSql),
  )
}
