package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.functions.TextFunctions._
import graft.Ckpt._

/** Round-11 text-analysis additions (SURVEY.md §2C): collocation mining,
  * readability scoring, and the corpus frequency spectrum. All three ride
  * the ONE shared script-aware tokenizer (TextFunctions.TokenPattern) so
  * the oracle replays the identical token stream. */
object Text2 {

  private val toks = Text.toksSql

  // ------------------------------------------------------- t_collocations

  private val CollocMinCount = 5
  private val CollocTopK = 30

  /** t_collocations: PMI-ranked COLLOCATIONS — the statistically-bound
    * word pairs ("new york", "machine learning") a phrase-aware tokenizer
    * or query segmenter is built from: bigrams scored by pointwise mutual
    * information. The score is the LOG-FREE monotone PMI core
    * N·c_ab / (c_a·c_b) — numerator and denominator exact integer
    * products, ONE pinned division (log is monotone, so the ranking is
    * identical to log-PMI while both engines compute bit-equal doubles);
    * a ≥5 pair-count floor drops the hapax noise PMI is notorious for.
    * Top-30 by (score, pair) via orderBy().limit() — plans as
    * TakeOrderedAndProject, never a global window sort.
    *
    * Scale shape: one (a,b)-keyed bigram count + one token-keyed unigram
    * count (both map-side partial); the unigram table joins the
    * above-floor pairs only. The k-bounded top-k is the only global
    * ordering. */
  def tCollocations(s: SparkSession, dir: String): DataFrame = {
    // localCheckpoint, not cache(): cache() blocks from a gate function
    // are never unpersisted and pin executor memory for the rest of a
    // 330-gate session; checkpoint blocks release via the context
    // cleaner once the plan is dropped (Bench settles between gates)
    val docs = Tables.documents(s, dir)
      .repartition(s.sparkContext.defaultParallelism, col("doc_id"))
      .select(tokens(col("text")).as("toks"))
      .cpLazy
    val uni = docs.select(explode(col("toks")).as("t"))
      .groupBy(col("t")).agg(count(lit(1)).as("c"))
    val nTotal = uni.agg(sum(col("c")).as("n"))
    val pairs = docs.select(explode(bigrams(col("toks"))).as("bigram"))
      .groupBy(col("bigram")).agg(count(lit(1)).as("c_ab"))
      .filter(col("c_ab") >= CollocMinCount)
      .withColumn("a", split(col("bigram"), " ").getItem(0))
      .withColumn("b", split(col("bigram"), " ").getItem(1))
    val scored = pairs
      .join(uni.select(col("t").as("a"), col("c").as("c_a")), "a")
      .join(uni.select(col("t").as("b"), col("c").as("c_b")), "b")
      .crossJoin(broadcast(nTotal))
      .select(col("a"), col("b"), col("c_ab"), col("c_a"), col("c_b"),
        ((col("n") * col("c_ab")).cast("double") /
          (col("c_a") * col("c_b")).cast("double")).as("pmi_core"))
    scored.orderBy(col("pmi_core").desc, col("a"), col("b")).limit(CollocTopK)
  }

  val tCollocationsSql: String =
    s"""WITH docs AS (SELECT $toks AS toks FROM documents),
       |uni AS (SELECT t, COUNT(*) AS c FROM (SELECT unnest(toks) AS t FROM docs) GROUP BY t),
       |tot AS (SELECT SUM(c) AS n FROM uni),
       |pairs AS (
       |  SELECT split_part(bigram, ' ', 1) AS a, split_part(bigram, ' ', 2) AS b,
       |         COUNT(*) AS c_ab
       |  FROM (SELECT unnest([concat_ws(' ', toks[i+1], toks[i+2])
       |                       for i in range(0, greatest(len(toks)-1, 1))]) AS bigram
       |        FROM docs)
       |  GROUP BY 1, 2 HAVING COUNT(*) >= $CollocMinCount),
       |scored AS (
       |  SELECT p.a, p.b, p.c_ab, ua.c AS c_a, ub.c AS c_b,
       |    CAST(t.n * p.c_ab AS DOUBLE) / CAST(ua.c * ub.c AS DOUBLE) AS pmi_core
       |  FROM pairs p JOIN uni ua ON ua.t = p.a JOIN uni ub ON ub.t = p.b, tot t)
       |SELECT a, b, c_ab, c_a, c_b, pmi_core FROM scored
       |ORDER BY pmi_core DESC, a, b LIMIT $CollocTopK""".stripMargin

  // ------------------------------------------------------- t_readability

  /** t_readability: READABILITY GRADE distribution — the
    * Flesch–Kincaid-family signal a curriculum builder (t_curriculum) and
    * an age-appropriateness filter consume: per document, words (token
    * runs), sentences (terminal-punctuation runs, floor 1), and a
    * syllable proxy (vowel-group runs — the standard dictionary-free
    * estimator); grade = 0.39·words/sentences + 11.8·syllables/words −
    * 15.59 as a pinned IEEE chain, reported as the floor-grade histogram
    * (grade-bucket → doc count, clamped to [0, 30]). Pure narrow regex
    * maps over the corpus scan + one bounded-output aggregation; both
    * regexes are RE2-and-Java-identical literal classes.
    *
    * Scale shape: zero shuffles before the ≤32-row histogram agg. */
  def tReadability(s: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(s, dir)
      .repartition(s.sparkContext.defaultParallelism, col("doc_id"))
      .withColumn("words",
        greatest(size(regexp_extract_all(col("text"), lit("[A-Za-z0-9']+"), lit(0))), lit(1)))
      .withColumn("sents",
        greatest(size(regexp_extract_all(col("text"), lit("[.!?]+"), lit(0))), lit(1)))
      .withColumn("sylls",
        greatest(size(regexp_extract_all(lower(col("text")), lit("[aeiouy]+"), lit(0))), lit(1)))
      .withColumn("grade",
        lit(0.39) * col("words").cast("double") / col("sents").cast("double") +
          lit(11.8) * col("sylls").cast("double") / col("words").cast("double") -
          lit(15.59))
    d.select(least(greatest(floor(col("grade")), lit(0L)), lit(30L)).as("grade_bucket"))
      .groupBy(col("grade_bucket")).agg(count(lit(1)).as("n_docs"))
      .orderBy(col("grade_bucket"))
  }

  val tReadabilitySql: String =
    """WITH f AS (
      |  SELECT
      |    greatest(len(regexp_extract_all(text, '[A-Za-z0-9'']+')), 1) AS words,
      |    greatest(len(regexp_extract_all(text, '[.!?]+')), 1) AS sents,
      |    greatest(len(regexp_extract_all(lower(text), '[aeiouy]+')), 1) AS sylls
      |  FROM documents),
      |g AS (
      |  SELECT 0.39 * CAST(words AS DOUBLE) / CAST(sents AS DOUBLE)
      |       + 11.8 * CAST(sylls AS DOUBLE) / CAST(words AS DOUBLE)
      |       - 15.59 AS grade
      |  FROM f)
      |SELECT CAST(least(greatest(floor(grade), 0), 30) AS BIGINT) AS grade_bucket,
      |  COUNT(*) AS n_docs
      |FROM g GROUP BY 1 ORDER BY 1""".stripMargin

  // -------------------------------------------------------------- t_zipf

  /** t_zipf: the FREQUENCY SPECTRUM (Zipf/Heaps observability) — the
    * vocabulary's occurrence counts bucketed by binary magnitude
    * (bucket k ⇔ 2^k ≤ f < 2^(k+1), computed EXACTLY as
    * length(bin(f))−1 — never floor(log2) whose double rounding flips at
    * power-of-two boundaries): per bucket the distinct-type count and the
    * token-mass share. The low buckets are the vocabulary-growth signal a
    * tokenizer budget is tuned against; a spectrum bulging away from
    * ~1/f² means boilerplate duplication upstream dedup missed. Two keyed
    * aggregations (token count → magnitude rollup), both map-side
    * partial; output is ≤64 rows + the 1-row total broadcast. */
  def tZipf(s: SparkSession, dir: String): DataFrame = {
    val uni = Tables.documents(s, dir)
      .repartition(s.sparkContext.defaultParallelism, col("doc_id"))
      .select(explode(tokens(col("text"))).as("t"))
      .groupBy(col("t")).agg(count(lit(1)).as("f"))
    val tot = uni.agg(sum(col("f")).as("n"))
    uni.select((length(bin(col("f"))) - 1).cast("long").as("f_bucket"), col("f"))
      .groupBy(col("f_bucket"))
      .agg(count(lit(1)).as("n_types"), sum(col("f")).as("mass"))
      .crossJoin(broadcast(tot))
      .select(col("f_bucket"), col("n_types"), col("mass"),
        (col("mass").cast("double") / col("n").cast("double")).as("mass_share"))
      .orderBy(col("f_bucket"))
  }

  val tZipfSql: String =
    s"""WITH uni AS (
       |  SELECT t, COUNT(*) AS f
       |  FROM (SELECT unnest($toks) AS t FROM documents) GROUP BY t),
       |tot AS (SELECT SUM(f) AS n FROM uni),
       |spec AS (
       |  SELECT CAST(length(bin(f)) - 1 AS BIGINT) AS f_bucket,
       |    COUNT(*) AS n_types, SUM(f) AS mass
       |  FROM uni GROUP BY 1)
       |SELECT f_bucket, n_types, CAST(mass AS BIGINT) AS mass,
       |  CAST(mass AS DOUBLE) / CAST(t.n AS DOUBLE) AS mass_share
       |FROM spec, tot t ORDER BY f_bucket""".stripMargin

  // ----------------------------------------------------------- t_garbage

  /** t_garbage: OCR-GARBAGE / binary-noise detection — the curation
    * filter between t_quality's length/stopword heuristics and
    * t_code_detect's routing: scanned-PDF OCR noise, mis-decoded bytes
    * and keyboard mash share two signatures natural prose lacks: long
    * consonant runs and a collapsed vowel share. Features are exact
    * integer regex counts over literal RE2-and-Java-identical classes;
    * the verdict fires on (1000·runs) div words ≥ 50 OR vowel share
    * < 25 % of letters — pure integer arithmetic, no float anywhere.
    *
    * The corpus is clean synthetic prose, so garbage docs are PLANTED
    * (the t_code_detect pattern, derived identically in the oracle):
    * every doc_id % 41 == 0 document gets a consonant-soup preamble —
    * those must flag, real prose must not, both verdicts exercised
    * every run.
    *
    * Scale shape: pure narrow maps — regex counts ride the scan, no
    * shuffle until the presentation sort; IO-bound at 100 TB. */
  def tGarbage(s: SparkSession, dir: String): DataFrame = {
    val soup = "qxzkjv wmfptk zzrtkk xkcdqm vvbnmz grplst ;;##@@ "
    val planted = when(col("doc_id") % 41 === 0,
      concat(lit(soup * 3), col("text"))).otherwise(col("text"))
    Tables.documents(s, dir)
      .withColumn("t2", planted)
      .select(col("doc_id"),
        size(regexp_extract_all(lower(col("t2")),
          lit("[bcdfghjklmnpqrstvwxz]{5,}"), lit(0))).cast("long").as("n_runs"),
        size(regexp_extract_all(lower(col("t2")), lit("[aeiou]"), lit(0)))
          .cast("long").as("n_vowels"),
        size(regexp_extract_all(lower(col("t2")), lit("[a-z]"), lit(0)))
          .cast("long").as("n_letters"),
        size(regexp_extract_all(col("t2"), lit("[A-Za-z0-9]+"), lit(0)))
          .cast("long").as("n_words"))
      .withColumn("run_score", expr("(1000 * n_runs) div greatest(n_words, 1)"))
      .withColumn("vowel_pm", expr("(1000 * n_vowels) div greatest(n_letters, 1)"))
      .withColumn("is_garbage", col("run_score") >= 50 || col("vowel_pm") < 250)
      .orderBy(col("doc_id"))
  }

  val tGarbageSql: String = {
    val soup = "'qxzkjv wmfptk zzrtkk xkcdqm vvbnmz grplst ;;##@@ '"
    s"""WITH p AS (
       |  SELECT doc_id,
       |    CASE WHEN doc_id % 41 = 0 THEN repeat($soup, 3) || text ELSE text END AS t2
       |  FROM documents),
       |f AS (
       |  SELECT doc_id,
       |    CAST(len(regexp_extract_all(lower(t2), '[bcdfghjklmnpqrstvwxz]{5,}')) AS BIGINT) AS n_runs,
       |    CAST(len(regexp_extract_all(lower(t2), '[aeiou]')) AS BIGINT) AS n_vowels,
       |    CAST(len(regexp_extract_all(lower(t2), '[a-z]')) AS BIGINT) AS n_letters,
       |    CAST(len(regexp_extract_all(t2, '[A-Za-z0-9]+')) AS BIGINT) AS n_words
       |  FROM p)
       |SELECT doc_id, n_runs, n_vowels, n_letters, n_words,
       |  (1000 * n_runs) // greatest(n_words, 1) AS run_score,
       |  (1000 * n_vowels) // greatest(n_letters, 1) AS vowel_pm,
       |  ((1000 * n_runs) // greatest(n_words, 1) >= 50
       |    OR (1000 * n_vowels) // greatest(n_letters, 1) < 250) AS is_garbage
       |FROM f ORDER BY doc_id""".stripMargin
  }

  // ---------------------------------------------------------- t_entities

  /** t_entities: PROPER-NOUN ENTITY MINING — capitalized-bigram
    * candidates counted corpus-wide (the cheap NER proxy behind entity
    * frequency weighting, PII review and knowledge-coverage audits of a
    * training corpus). Candidates come from ONE non-overlapping regex
    * pass ([A-Z][a-z]+ [A-Z][a-z]+ — Java and RE2 share left-to-right
    * non-overlap semantics), a ≥3-occurrence floor drops hapax noise,
    * and the top-20 by (occurrences, entity) is TakeOrderedAndProject —
    * never a global window sort.
    *
    * The corpus is lowercase synthetic prose, so entities are PLANTED
    * with DIFFERENT frequencies (doc_id % 17 plants a two-entity
    * sentence; % 34 adds a second sentence re-mentioning one of them —
    * so the ranking itself is exercised, not just extraction).
    *
    * Scale shape: narrow extract+explode, one (entity)-keyed map-side-
    * partial count carrying the distinct-doc count, k-bounded top-k. */
  def tEntities(s: SparkSession, dir: String): DataFrame = {
    val sent1 = "Alice Johnson met Bob Smith near the Grand Bazaar . "
    val sent2 = "Carol White visited Alice Johnson again . "
    val planted = when(col("doc_id") % 34 === 0,
        concat(lit(sent1), lit(sent2), col("text")))
      .when(col("doc_id") % 17 === 0, concat(lit(sent1), col("text")))
      .otherwise(col("text"))
    Tables.documents(s, dir)
      .withColumn("t2", planted)
      .select(col("doc_id"),
        explode(regexp_extract_all(col("t2"),
          lit("[A-Z][a-z]+ [A-Z][a-z]+"), lit(0))).as("entity"))
      .groupBy(col("entity"))
      .agg(count(lit(1)).as("n_occurs"), countDistinct(col("doc_id")).as("n_docs"))
      .filter(col("n_occurs") >= 3)
      .orderBy(col("n_occurs").desc, col("entity"))
      .limit(20)
  }

  val tEntitiesSql: String =
    """WITH p AS (
      |  SELECT doc_id,
      |    CASE WHEN doc_id % 34 = 0 THEN 'Alice Johnson met Bob Smith near the Grand Bazaar . Carol White visited Alice Johnson again . ' || text
      |         WHEN doc_id % 17 = 0 THEN 'Alice Johnson met Bob Smith near the Grand Bazaar . ' || text
      |         ELSE text END AS t2
      |  FROM documents),
      |e AS (SELECT doc_id, unnest(regexp_extract_all(t2, '[A-Z][a-z]+ [A-Z][a-z]+')) AS entity FROM p)
      |SELECT entity, COUNT(*) AS n_occurs, COUNT(DISTINCT doc_id) AS n_docs
      |FROM e GROUP BY entity HAVING COUNT(*) >= 3
      |ORDER BY n_occurs DESC, entity LIMIT 20""".stripMargin

  // --------------------------------------------------------- t_ctrlchars

  /** t_ctrlchars: ENCODING-HEALTH audit — control characters and U+FFFD
    * replacement chars are the residue of binary contamination and
    * failed charset decodes (the upstream crimes e_sanitize's mojibake
    * repair can't fix); a corpus whose replacement-char rate climbs has
    * a broken extractor upstream. Counts per doc over literal
    * RE2-and-Java-identical classes (C0 controls minus \t\n\r, plus the
    * replacement char), verdict = any hit. Planted at doc_id % 29 (the
    * t_code_detect pattern — both verdicts fire every run).
    *
    * Scale shape: pure narrow maps; IO-bound at 100 TB. */
  def tCtrlchars(s: SparkSession, dir: String): DataFrame = {
    val junk = "\u0001\u0007\u000b payload \uFFFD\uFFFD tail "
    val planted = when(col("doc_id") % 29 === 0,
      concat(lit(junk), col("text"))).otherwise(col("text"))
    Tables.documents(s, dir)
      .withColumn("t2", planted)
      .select(col("doc_id"),
        size(regexp_extract_all(col("t2"),
          lit("[\\x00-\\x08\\x0b\\x0c\\x0e-\\x1f]"), lit(0))).cast("long").as("n_ctrl"),
        size(regexp_extract_all(col("t2"), lit("\uFFFD"), lit(0)))
          .cast("long").as("n_repl"),
        length(col("t2")).cast("long").as("n_chars"))
      .withColumn("needs_clean", col("n_ctrl") > 0 || col("n_repl") > 0)
      .orderBy(col("doc_id"))
  }

  val tCtrlcharsSql: String =
    """WITH p AS (
      |  SELECT doc_id,
      |    CASE WHEN doc_id % 29 = 0
      |      THEN chr(1) || chr(7) || chr(11) || ' payload ' || chr(65533) || chr(65533) || ' tail ' || text
      |      ELSE text END AS t2
      |  FROM documents)
      |SELECT doc_id,
      |  CAST(len(regexp_extract_all(t2, '[\x00-\x08\x0b\x0c\x0e-\x1f]')) AS BIGINT) AS n_ctrl,
      |  CAST(len(regexp_extract_all(t2, chr(65533))) AS BIGINT) AS n_repl,
      |  CAST(length(t2) AS BIGINT) AS n_chars,
      |  (len(regexp_extract_all(t2, '[\x00-\x08\x0b\x0c\x0e-\x1f]')) > 0
      |    OR len(regexp_extract_all(t2, chr(65533))) > 0) AS needs_clean
      |FROM p ORDER BY doc_id""".stripMargin

  // ----------------------------------------------------- t_ngram_coverage

  /** t_ngram_coverage: EVAL N-GRAM COVERAGE — the recall-side companion
    * of t_decontam_ngram's precision question: instead of "which eval
    * docs leak verbatim from train" (any shared 5-gram), this measures
    * HOW MUCH of each eval document's token 5-gram mass the training
    * corpus already contains — the memorization-pressure / novelty
    * metric a benchmark owner reads before trusting a score. Same
    * doc_id % 5 split as t_bigram_lm, same shared gram5 definition as
    * the decontamination gates (md5-keyed — shuffles never carry gram
    * text).
    *
    * Scale shape: one distinct train-gram set + one probe join keyed on
    * the fixed-width md5; at 100 TB the probe side takes the same
    * BloomPrune pre-filter t_decontam_ngram ships. */
  def tNgramCoverage(s: SparkSession, dir: String): DataFrame = {
    val t = Tables.documents(s, dir)
      .repartition(s.sparkContext.defaultParallelism, col("doc_id"))
      .select(col("doc_id"), tokens(col("text")).as("toks"))
    val evalDocs = t.filter(col("doc_id") % 5 === 0)
      .select(col("doc_id"), Text.gram5Expr.as("grams"))
      .select(col("doc_id"), size(col("grams")).cast("long").as("n_grams"), col("grams"))
      .cpLazy
    val trainGrams = t.filter(col("doc_id") % 5 =!= 0)
      .select(explode(Text.gram5Expr).as("g")).distinct()
    val hits = evalDocs.select(col("doc_id"), explode(col("grams")).as("g"))
      .join(trainGrams, Seq("g"))
      .groupBy(col("doc_id")).agg(count(lit(1)).as("n_covered"))
    evalDocs.select(col("doc_id"), col("n_grams"))
      .join(hits, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_grams"),
        coalesce(col("n_covered"), lit(0L)).as("n_covered"))
      .withColumn("coverage",
        when(col("n_grams") > 0,
          col("n_covered").cast("double") / col("n_grams").cast("double")))
      .orderBy(col("doc_id"))
  }

  val tNgramCoverageSql: String =
    s"""WITH t AS (SELECT doc_id, $toks AS toks FROM documents),
       |ev AS (SELECT doc_id, ${Text.gram5Sql} AS grams FROM t WHERE doc_id % 5 = 0),
       |tg AS (SELECT DISTINCT unnest(${Text.gram5Sql}) AS g FROM t WHERE doc_id % 5 <> 0),
       |probe AS (SELECT doc_id, unnest(grams) AS g FROM ev),
       |hits AS (SELECT doc_id, COUNT(*) AS n_covered
       |         FROM probe JOIN tg USING (g) GROUP BY doc_id)
       |SELECT e.doc_id, CAST(len(e.grams) AS BIGINT) AS n_grams,
       |  COALESCE(h.n_covered, 0) AS n_covered,
       |  CASE WHEN len(e.grams) > 0 THEN
       |    CAST(COALESCE(h.n_covered, 0) AS DOUBLE) / CAST(len(e.grams) AS DOUBLE)
       |  END AS coverage
       |FROM ev e LEFT JOIN hits h ON h.doc_id = e.doc_id
       |ORDER BY e.doc_id""".stripMargin

  // ------------------------------------------------------------- t_license

  /** t_license: LICENSE DETECTION — the compliance fork a code/document
    * crawl takes before training (permissive licenses flow on, copyleft
    * routes to review, unlicensed gets the conservative default):
    * characteristic header phrases detected with first-match-wins
    * priority (apache > mit > gpl — a dual-licensed header reports the
    * more permissive grant it actually extends), rolled up per license
    * class per source. Headers are PLANTED on doc_id % 43 cycling
    * through the three classes so every branch and the priority rule
    * fire every run.
    *
    * Scale shape: narrow regex maps + one map-side-partial rollup to
    * ≤4·|sources| rows. */
  def tLicense(s: SparkSession, dir: String): DataFrame = {
    val headers = Seq(
      "Licensed under the Apache License, Version 2.0 . ",
      "Permission is hereby granted under the MIT License . ",
      "This program is free software under the GNU General Public License . ")
    val planted = when(col("doc_id") % 43 === 0,
      concat(element_at(array(headers.map(lit): _*),
        expr("cast((doc_id div 43) % 3 + 1 AS int)")), col("text")))
      .otherwise(col("text"))
    Tables.documents(s, dir)
      .withColumn("t2", planted)
      .withColumn("license",
        when(col("t2").rlike("Apache License"), lit("apache-2.0"))
          .when(col("t2").rlike("MIT License"), lit("mit"))
          .when(col("t2").rlike("General Public License"), lit("gpl"))
          .otherwise(lit("none")))
      .groupBy(col("license"), col("source"))
      .agg(count(lit(1)).as("n_docs"))
      .orderBy(col("license"), col("source"))
  }

  val tLicenseSql: String =
    """WITH p AS (
      |  SELECT source,
      |    CASE WHEN doc_id % 43 = 0 THEN
      |      (['Licensed under the Apache License, Version 2.0 . ',
      |        'Permission is hereby granted under the MIT License . ',
      |        'This program is free software under the GNU General Public License . '])[CAST((doc_id // 43) % 3 + 1 AS INT)] || text
      |    ELSE text END AS t2
      |  FROM documents)
      |SELECT CASE WHEN regexp_matches(t2, 'Apache License') THEN 'apache-2.0'
      |            WHEN regexp_matches(t2, 'MIT License') THEN 'mit'
      |            WHEN regexp_matches(t2, 'General Public License') THEN 'gpl'
      |            ELSE 'none' END AS license,
      |  source, COUNT(*) AS n_docs
      |FROM p GROUP BY 1, 2 ORDER BY license, source""".stripMargin

  // ------------------------------------------------------------ t_nfc_dedup

  /** t_nfc_dedup: NFC-VARIANT duplicate detection — the unicode
    * canonicalization gap that silently defeats exact dedup and every
    * content-hash surrogate key: the same visible text spelled composed
    * (é, U+00E9) vs decomposed (e + combining U+0301) yields DIFFERENT
    * md5s; d_exact's normalized-hash groups miss the pair entirely.
    * The gate plants byte-different/NFC-equal twins (the d_embed_neardup
    * union pattern: doc_id % 31 == 0 docs get a composed header, their
    * +1000000 twins the decomposed spelling of the SAME header) and
    * retrieves pairs by hashing through the native nfc_normalize
    * expression (functions/VectorExpressions.NfcNormalize — codegen'd;
    * no Spark built-in exists), asserting in-row that the RAW hashes
    * disagree while the NFC hashes collide.
    *
    * Scale shape: d_exact's budget — one narrow (normalize+hash)
    * projection, one hash-keyed collapse; the pair join touches only
    * colliding groups. */
  def tNfcDedup(s: SparkSession, dir: String): DataFrame = {
    graft.functions.VectorExpressions.register(s)
    val composed = "caf\u00e9 r\u00e9sum\u00e9 na\u00efve . "
    val decomposed = "cafe\u0301 re\u0301sume\u0301 nai\u0308ve . "
    val base = Tables.documents(s, dir).filter(col("doc_id") % 31 === 0)
    val corpus = base.select(col("doc_id"), concat(lit(composed), col("text")).as("t2"))
      .unionByName(base.select((col("doc_id") + 1000000L).as("doc_id"),
        concat(lit(decomposed), col("text")).as("t2")))
      .select(col("doc_id"), md5(col("t2")).as("raw_h"),
        md5(expr("nfc_normalize(t2)")).as("nfc_h"))
    corpus.as("a").join(corpus.as("b"),
        col("a.nfc_h") === col("b.nfc_h") && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("a_id"), col("b.doc_id").as("b_id"),
        (col("a.raw_h") === col("b.raw_h")).as("raw_match"),
        lit(true).as("nfc_match"))
      .orderBy(col("a_id"), col("b_id"))
  }

  val tNfcDedupSql: String =
    """WITH base AS (SELECT doc_id, text FROM documents WHERE doc_id % 31 = 0),
      |corpus AS (
      |  SELECT doc_id, 'caf' || chr(233) || ' r' || chr(233) || 'sum' || chr(233) || ' na' || chr(239) || 've . ' || text AS t2 FROM base
      |  UNION ALL
      |  SELECT doc_id + 1000000,
      |    'cafe' || chr(769) || ' re' || chr(769) || 'sume' || chr(769) || ' nai' || chr(776) || 've . ' || text
      |  FROM base),
      |h AS (SELECT doc_id, md5(t2) AS raw_h, md5(nfc_normalize(t2)) AS nfc_h FROM corpus)
      |SELECT a.doc_id AS a_id, b.doc_id AS b_id,
      |  a.raw_h = b.raw_h AS raw_match, TRUE AS nfc_match
      |FROM h a JOIN h b ON a.nfc_h = b.nfc_h AND a.doc_id < b.doc_id
      |ORDER BY a_id, b_id""".stripMargin

  // --------------------------------------------------------- t_prefix_share

  /** t_prefix_share: SHARED-PREFIX measurement — the KV-cache reuse
    * opportunity in a prompt/document corpus (requests sharing a token
    * prefix re-use attention state; serving stacks batch by it, and a
    * template-heavy corpus shows up here before anyone reads a log):
    * documents group by the md5 of their first 16 tokens, and every
    * group of ≥2 reports its size and the redundant token mass
    * (16 · (n−1) — the tokens a prefix cache would not recompute).
    * Top-20 groups by reuse via TakeOrderedAndProject. Templates are
    * PLANTED at doc_id % 19 (three rotating preambles) so group sizes
    * differ and the ranking is exercised.
    *
    * Scale shape: one narrow tokenize+hash pass, one prefix-keyed
    * map-side-partial count, k-bounded top-k. */
  def tPrefixShare(s: SparkSession, dir: String): DataFrame = {
    val pre = Seq(
      "system you are a helpful assistant . user ",
      "system answer concisely in json . user ",
      "system translate to french . user ")
    val planted = when(col("doc_id") % 19 === 0,
      concat(element_at(array(pre.map(lit): _*),
        expr("cast((doc_id div 19) % 3 + 1 AS int)")), col("text")))
      .otherwise(col("text"))
    Tables.documents(s, dir)
      .withColumn("t2", planted)
      .select(md5(concat_ws(" ",
        slice(tokens(col("t2")), 1, 16))).as("prefix_fp"))
      .groupBy(col("prefix_fp")).agg(count(lit(1)).as("n_docs"))
      .filter(col("n_docs") >= 2)
      .withColumn("cached_tokens", (col("n_docs") - 1) * 16)
      .orderBy(col("n_docs").desc, col("prefix_fp"))
      .limit(20)
  }

  val tPrefixShareSql: String =
    s"""WITH p AS (
       |  SELECT CASE WHEN doc_id % 19 = 0 THEN
       |    (['system you are a helpful assistant . user ',
       |      'system answer concisely in json . user ',
       |      'system translate to french . user '])[CAST((doc_id // 19) % 3 + 1 AS INT)] || text
       |  ELSE text END AS t2
       |  FROM documents),
       |f AS (SELECT md5(array_to_string(($toks)[1:16], ' ')) AS prefix_fp
       |      FROM (SELECT t2 AS text FROM p)),
       |g AS (SELECT prefix_fp, COUNT(*) AS n_docs FROM f GROUP BY 1 HAVING COUNT(*) >= 2)
       |SELECT prefix_fp, n_docs, (n_docs - 1) * 16 AS cached_tokens
       |FROM g ORDER BY n_docs DESC, prefix_fp LIMIT 20""".stripMargin

  // ------------------------------------------------------------- t_rake

  private val RakeMaxPhraseLen = 4
  private val RakeTopK = 20

  /** t_rake: RAKE keyword extraction — the classic unsupervised
    * keyword/keyphrase miner (Rose et al.): candidate phrases are maximal
    * stopword-delimited token runs (≤4 tokens), each word scored
    * deg(w)/freq(w) over the corpus phrase set (deg counts co-occurring
    * phrase length, so words that live inside long phrases outrank loners),
    * a phrase scores the sum of its words. Unlike t_collocations (pairwise
    * PMI) this surfaces multi-word UNITS and is what doc-tagging / search
    * facet pipelines run at ingest.
    *
    * Parity: phrase segmentation is the gaps-and-islands grp = pos − rn
    * trick on the ONE shared tokenizer — pure integers; deg/freq are exact
    * BIGINTs; word scores are x6-pinned single divisions and phrase scores
    * their order-independent DECIMAL sum. Top-20 by (score, phrase) via
    * orderBy().limit() — TakeOrderedAndProject, no global window.
    *
    * Scale shape: posexplode → per-doc islands window (PARTITIONED BY
    * doc — never global), one word-keyed stat aggregation (map-side
    * partial), one broadcast-able word-score join back onto phrase
    * members, a phrase-keyed rollup, and a k-bounded top-k. Linear in
    * token count. */
  def tRake(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val stop = graft.functions.TextFunctions.Stopwords
    val tk = Tables.documents(s, dir)
      .repartition(s.sparkContext.defaultParallelism, col("doc_id"))
      .select(col("doc_id"), posexplode(tokens(col("text"))).as(Seq("pos", "token")))
      .filter(col("token") =!= "" && !col("token").isin(stop.map(x => x: Any): _*))
    val rn = row_number().over(Window.partitionBy(col("doc_id")).orderBy(col("pos")))
    val isl = tk.withColumn("grp", col("pos") - rn)
    val withLen = isl.withColumn("len",
      count(lit(1)).over(Window.partitionBy(col("doc_id"), col("grp"))))
      .filter(col("len") <= RakeMaxPhraseLen)
    val wordStats = withLen.groupBy(col("token"))
      .agg(count(lit(1)).as("freq"), sum(col("len")).as("deg"))
      .withColumn("wscore",
        graft.functions.OracleParity.x6(
          col("deg").cast("double") / col("freq").cast("double")))
    // no broadcast hint: the word-score table is VOCABULARY-sized
    // (corpus-derived, unbounded at 100 TB) — size-based planning / AQE
    // decides, the same rule t_lm_score's model join follows
    val phrases = withLen.join(wordStats.select(col("token"), col("wscore")), "token")
      .groupBy(col("doc_id"), col("grp"))
      .agg(
        array_join(transform(array_sort(collect_list(struct(col("pos"), col("token")))),
          x => x.getField("token")), " ").as("phrase"),
        max(col("len")).as("len"),
        graft.functions.OracleParity.xsum(col("wscore")).as("score"))
    val ranked = phrases.groupBy(col("phrase"))
      .agg(count(lit(1)).as("n_occ"), max(col("len")).as("len"), max(col("score")).as("score"))
      .orderBy(col("score").desc, col("phrase")).limit(RakeTopK)
    val w = Window.orderBy(col("score").desc, col("phrase"))
    ranked.withColumn("rnk", row_number().over(w))
      .select(col("rnk"), col("phrase"), col("len"), col("n_occ"), col("score"))
      .orderBy(col("rnk"))
  }

  val tRakeSql: String = {
    val stopList = graft.functions.TextFunctions.Stopwords.map(w => s"'$w'").mkString(", ")
    s"""WITH tk AS (
       |  SELECT doc_id, u.pos AS pos, u.tok AS token
       |  FROM (SELECT doc_id,
       |          unnest(list_transform(range(1, len(tt) + 1),
       |            i -> struct_pack(pos := i, tok := tt[i]))) AS u
       |        FROM (SELECT doc_id, $toks AS tt FROM documents))
       |  WHERE u.tok <> '' AND u.tok NOT IN ($stopList)),
       |isl AS (
       |  SELECT doc_id, pos, token,
       |    pos - ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY pos) AS grp
       |  FROM tk),
       |wl AS (
       |  SELECT *, COUNT(*) OVER (PARTITION BY doc_id, grp) AS len FROM isl
       |  QUALIFY len <= $RakeMaxPhraseLen),
       |ws AS (
       |  SELECT token, CAST(CAST(CAST(SUM(len) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)
       |    AS DECIMAL(18,6)) AS DOUBLE) AS wscore
       |  FROM wl GROUP BY token),
       |ph AS (
       |  SELECT wl.doc_id, wl.grp,
       |    string_agg(wl.token, ' ' ORDER BY wl.pos) AS phrase,
       |    MAX(wl.len) AS len,
       |    CAST(SUM(CAST(ws.wscore AS DECIMAL(18,6))) AS DOUBLE) AS score
       |  FROM wl JOIN ws ON ws.token = wl.token
       |  GROUP BY wl.doc_id, wl.grp),
       |agg AS (
       |  SELECT phrase, COUNT(*) AS n_occ, MAX(len) AS len, MAX(score) AS score
       |  FROM ph GROUP BY phrase
       |  ORDER BY score DESC, phrase LIMIT $RakeTopK)
       |SELECT ROW_NUMBER() OVER (ORDER BY score DESC, phrase) AS rnk,
       |  phrase, len, n_occ, score
       |FROM agg ORDER BY rnk""".stripMargin
  }

  // ------------------------------------------------------ t_jsonl_export

  /** t_jsonl_export: canonical JSONL training-export rendering — the last
    * hop of every curation pipeline: one self-describing JSON record per
    * document with deterministic key order and escaping, plus the shard
    * assignment and byte size a shard-writer needs for balanced output
    * files. Neither engine's to_json is used (key order / whitespace
    * differ); the record is built by explicit concatenation with an
    * identical backslash-then-quote escape chain, so the gate hash pins
    * the exact BYTES a trainer would read.
    *
    * Scale shape: pure narrow map + octet_length; the only ordering is
    * the presentation sort. Shard = doc_id % 8 is the deterministic
    * round-robin a writer turns into one file per shard via
    * partitionBy(shard). */
  /** The canonical record expression over (doc_id, lang, source, text) —
    * exposed for InvariantSpec's from_json round-trip property. */
  private[graft] def jsonlRecord: org.apache.spark.sql.Column = {
    val esc = expr("replace(replace(text, '\\\\', '\\\\\\\\'), '\"', '\\\\\"')")
    concat(
      lit("{\"id\":"), col("doc_id").cast("string"),
      lit(",\"lang\":\""), col("lang"),
      lit("\",\"source\":\""), col("source"),
      lit("\",\"text\":\""), esc, lit("\"}"))
  }

  def tJsonlExport(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .repartition(s.sparkContext.defaultParallelism, col("doc_id"))
      .withColumn("record", jsonlRecord)
      .select(col("doc_id"), (col("doc_id") % 8).as("shard"),
        octet_length(col("record")).as("rec_bytes"),
        md5(col("record")).as("rec_hash"))
      .orderBy(col("doc_id"))

  val tJsonlExportSql: String =
    """SELECT doc_id, doc_id % 8 AS shard,
      |  octet_length(encode(record)) AS rec_bytes, md5(record) AS rec_hash
      |FROM (
      |  SELECT doc_id,
      |    '{"id":' || CAST(doc_id AS VARCHAR) || ',"lang":"' || lang ||
      |    '","source":"' || source || '","text":"' ||
      |    replace(replace(text, '\', '\\'), '"', '\"') || '"}' AS record
      |  FROM documents)
      |ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------- t_fertility

  /** t_fertility: TOKENIZER FERTILITY per language — tokens-per-word and
    * bytes-per-token, THE multilingual-tokenizer health metrics (a
    * tokenizer trained on English "explodes" CJK/diacritic text into many
    * more pieces; fertility quantifies the compute tax per language and
    * drives vocab rebalancing decisions). Uses the ONE shared
    * script-aware word tokenizer and the shared BPE-ish piece counter so
    * both engines count the identical streams.
    *
    * Parity: all sums exact BIGINTs; the two ratios are x6-pinned single
    * divisions. Scale shape: ONE lang-keyed map-side-partial aggregation
    * to ≤|langs| rows. */
  def tFertility(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .repartition(s.sparkContext.defaultParallelism, col("doc_id"))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(size(tokens(col("text"))).cast("long")).as("n_words"),
        sum(bpeTokenCount(col("text")).cast("long")).as("n_pieces"),
        sum(octet_length(col("text")).cast("long")).as("n_bytes"))
      .select(col("lang"), col("n_docs"), col("n_words"), col("n_pieces"), col("n_bytes"),
        (col("n_pieces").cast("double") / col("n_words").cast("double")).as("fertility"),
        (col("n_bytes").cast("double") / col("n_pieces").cast("double")).as("bytes_per_piece"))
      .orderBy(col("lang"))

  val tFertilitySql: String =
    s"""WITH a AS (
       |  SELECT lang, COUNT(*) AS n_docs,
       |    CAST(SUM(len($toks)) AS BIGINT) AS n_words,
       |    CAST(SUM(len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9 \\t\\n\\r\\f]'))) AS BIGINT) AS n_pieces,
       |    CAST(SUM(octet_length(encode(text))) AS BIGINT) AS n_bytes
       |  FROM documents GROUP BY lang)
       |SELECT lang, n_docs, n_words, n_pieces, n_bytes,
       |  CAST(n_pieces AS DOUBLE) / CAST(n_words AS DOUBLE) AS fertility,
       |  CAST(n_bytes AS DOUBLE) / CAST(n_pieces AS DOUBLE) AS bytes_per_piece
       |FROM a ORDER BY lang""".stripMargin

  // ------------------------------------------------------ t_langid_margin

  /** t_langid_margin: LANGUAGE-ID CONFIDENCE routing — the margin between
    * the best and second-best stopword-profile hit counts, the
    * abstain/route signal t_langid's hard argmax hides (a production
    * curation pipeline routes margin-0 docs to the script fallback or a
    * model, rather than trusting a coin-flip argmax). Reported per
    * DECLARED lang so profile weaknesses surface per corpus slice.
    *
    * Parity: hit counts are exact integers from the ONE shared tokenizer
    * + profiles; the top-2 come from sorting the 5-element hit array —
    * no argmax tiebreak enters the margin at all. Pure integer outputs.
    *
    * Scale shape: narrow per-doc map + ONE lang-keyed map-side-partial
    * rollup. */
  def tLangidMargin(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.TextFunctions.{langHits, LangProfiles}
    val hitsSorted = array_sort(array(
      LangProfiles.map { case (_, p) => langHits(tokens(col("text")), p).cast("long") }: _*))
    val n = LangProfiles.size
    Tables.documents(s, dir)
      .repartition(s.sparkContext.defaultParallelism, col("doc_id"))
      .withColumn("hs", hitsSorted)
      .withColumn("top1", element_at(col("hs"), n))
      .withColumn("margin", element_at(col("hs"), n) - element_at(col("hs"), n - 1))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("top1") === 0, 1L).otherwise(0L)).as("n_nohit"),
        sum(when(col("top1") > 0 && col("margin") === 0, 1L).otherwise(0L)).as("n_ambiguous"),
        sum(when(col("margin") >= 2, 1L).otherwise(0L)).as("n_confident"),
        max(col("margin")).as("max_margin"))
      .orderBy(col("lang"))
  }

  val tLangidMarginSql: String = {
    val inList = (p: Seq[String]) => p.map(w => s"'$w'").mkString(", ")
    val hits = graft.functions.TextFunctions.LangProfiles
      .map { case (_, p) => s"CAST(len(list_filter(tt, t -> t IN (${inList(p)}))) AS BIGINT)" }
    val n = hits.size
    s"""WITH h AS (
       |  SELECT lang, list_sort([${hits.mkString(", ")}]) AS hs
       |  FROM (SELECT lang, $toks AS tt FROM documents)),
       |m AS (
       |  SELECT lang, hs[$n] AS top1, hs[$n] - hs[${n - 1}] AS margin FROM h)
       |SELECT lang, COUNT(*) AS n_docs,
       |  CAST(SUM(CASE WHEN top1 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_nohit,
       |  CAST(SUM(CASE WHEN top1 > 0 AND margin = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_ambiguous,
       |  CAST(SUM(CASE WHEN margin >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_confident,
       |  MAX(margin) AS max_margin
       |FROM m GROUP BY lang ORDER BY lang""".stripMargin
  }

  // ---------------------------------------------------------------- t_oov

  /** t_oov: OUT-OF-VOCABULARY rate of the eval split against the train
    * split's vocabulary — the coverage metric that complements
    * t_ngram_coverage (5-gram memorization pressure) and t_fertility
    * (piece tax): a high OOV share per language means the tokenizer/
    * vocab under-serves that slice and eval perplexity will read
    * unfairly high. Splits come from the ONE shared content-hash
    * assignment (t_split's buckets), so this gate and the
    * decontamination family see the same train/eval boundary.
    *
    * Parity: vocabulary membership via a left anti/semi structure on
    * exact token strings; counts exact BIGINTs; rate ONE pinned
    * division. The train-vocab join carries NO broadcast hint
    * (vocabulary-sized — stats/AQE decide).
    *
    * Scale shape: one train-side distinct (map-side partial), one
    * token-keyed membership join, one lang rollup. */
  def tOov(s: SparkSession, dir: String): DataFrame = {
    val withSplit = Tables.documents(s, dir)
      .repartition(s.sparkContext.defaultParallelism, col("doc_id"))
      .withColumn("bucket", Text.splitBucket(col("text")))
      .withColumn("split",
        Text.SplitBounds.foldRight(lit(null).cast("string")) { case ((name, bound), acc) =>
          when(col("bucket") < bound, lit(name)).otherwise(acc)
        })
    val vocab = withSplit.filter(col("split") === "train")
      .select(explode(tokens(col("text"))).as("token"))
      .filter(col("token") =!= "").distinct()
    // planted OOV: the synthetic corpus shares one closed ~40-word
    // vocabulary, so raw OOV is 0 everywhere and the counting path would
    // be unverified (the q_basket 0-row lesson) — eval docs at doc_id%7
    // get a deterministic token family ('qzv0'..'qzv4') that train has
    // never seen; planting happens AFTER split assignment (the split
    // hashes the ORIGINAL text), identically in the oracle
    val evalToks = withSplit.filter(col("split") === "val")
      .withColumn("t2", when(col("doc_id") % 7 === 0,
        concat(col("text"), lit(" qzv"), (col("doc_id") % 5).cast("string")))
        .otherwise(col("text")))
      .select(col("lang"), explode(tokens(col("t2"))).as("token"))
      .filter(col("token") =!= "")
    evalToks
      .join(vocab.withColumn("in_vocab", lit(1)), Seq("token"), "left")
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_tokens"),
        sum(when(col("in_vocab").isNull, 1L).otherwise(0L)).as("n_oov"))
      .select(col("lang"), col("n_tokens"), col("n_oov"),
        (col("n_oov").cast("double") / col("n_tokens").cast("double")).as("oov_rate"))
      .orderBy(col("lang"))
  }

  val tOovSql: String = {
    val cases = Text.SplitBounds.map { case (name, bound) =>
      s"WHEN bucket < $bound THEN '$name'" }.mkString(" ")
    s"""WITH d AS (
       |  SELECT doc_id, lang, text, CASE $cases END AS split
       |  FROM (SELECT doc_id, lang, text, ${Text.splitBucketSql} AS bucket FROM documents)),
       |vocab AS (
       |  SELECT DISTINCT t AS token FROM (
       |    SELECT unnest($toks) AS t FROM (SELECT text FROM d WHERE split = 'train'))
       |  WHERE t <> ''),
       |ev AS (
       |  SELECT lang, t AS token FROM (
       |    SELECT lang, unnest($toks) AS t FROM (
       |      SELECT lang,
       |        CASE WHEN doc_id % 7 = 0
       |             THEN text || ' qzv' || CAST(doc_id % 5 AS VARCHAR)
       |             ELSE text END AS text
       |      FROM d WHERE split = 'val'))
       |  WHERE t <> '')
       |SELECT lang, COUNT(*) AS n_tokens,
       |  CAST(SUM(CASE WHEN v.token IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_oov,
       |  CAST(SUM(CASE WHEN v.token IS NULL THEN 1 ELSE 0 END) AS DOUBLE)
       |    / CAST(COUNT(*) AS DOUBLE) AS oov_rate
       |FROM ev LEFT JOIN vocab v USING (token)
       |GROUP BY lang ORDER BY lang""".stripMargin
  }

  // -------------------------------------------------------------- t_astral

  /** t_astral: NON-BMP (astral-plane) codepoint routing — the loud face
    * of the documented tokenizer boundary (README §non-BMP, VERDICT r11
    * missing #4): the shared tokenizer segments supplementary-plane
    * codepoints (emoji, CJK Extensions B+) only coarsely, so a curation
    * pipeline must MEASURE which corpus slices hit that path and route
    * them to a fallback segmenter instead of silently under-counting
    * tokens. Per lang: docs containing astral codepoints, total astral
    * codepoints, and the routed share. Astral content is PLANTED
    * deterministically (every 13th doc gains 1 + doc_id%3 U+1F600s —
    * the t_oov planting convention) on top of whatever the corpus
    * carries, so the gate can never green on an accidentally-BMP-only
    * corpus. Counting is regexp MATCH COUNTS ([\x{10000}-\x{10FFFF}] —
    * one match per codepoint in BOTH engines), never string length,
    * because Java length() counts UTF-16 units (2 per astral char) while
    * DuckDB counts codepoints — the exact parity trap the boundary is
    * about.
    *
    * Scale shape: one narrow regexp map + a ≤|langs|-row rollup. */
  def tAstral(s: SparkSession, dir: String): DataFrame = {
    val planted = when(col("doc_id") % 13 === 0,
      concat(col("text"), lit(" "),
        repeat(lit("😀"), (lit(1) + col("doc_id") % 3).cast("int"))))
      .otherwise(col("text"))
    Tables.documents(s, dir)
      .select(col("lang"),
        regexp_count(planted, lit("[\\x{10000}-\\x{10FFFF}]")).cast("long").as("cp"))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("cp") > 0, 1L).otherwise(0L)).as("n_routed_docs"),
        sum(col("cp")).as("n_astral_cp"))
      .select(col("lang"), col("n_docs"), col("n_routed_docs"), col("n_astral_cp"),
        (col("n_routed_docs").cast("double") / col("n_docs").cast("double"))
          .as("routed_share"))
      .orderBy(col("lang"))
  }

  val tAstralSql: String =
    """WITH d AS (
      |  SELECT lang,
      |    CASE WHEN doc_id % 13 = 0
      |         THEN text || ' ' || repeat(chr(128512), CAST(1 + doc_id % 3 AS INT))
      |         ELSE text END AS t
      |  FROM documents),
      |c AS (
      |  SELECT lang,
      |    CAST(len(regexp_extract_all(t, '[\x{10000}-\x{10FFFF}]')) AS BIGINT) AS cp
      |  FROM d)
      |SELECT lang, COUNT(*) AS n_docs,
      |  CAST(SUM(CASE WHEN cp > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_routed_docs,
      |  CAST(SUM(cp) AS BIGINT) AS n_astral_cp,
      |  CAST(SUM(CASE WHEN cp > 0 THEN 1 ELSE 0 END) AS DOUBLE)
      |    / CAST(COUNT(*) AS DOUBLE) AS routed_share
      |FROM c GROUP BY lang ORDER BY lang""".stripMargin

  // ------------------------------------------------------------ t_len_hist

  /** t_len_hist: DOCUMENT-LENGTH spectrum per language — log2 bins of
    * n_chars (the t_zipf length(bin(x))−1 idiom, never a float log), the
    * distribution every curation decision consults first: truncation
    * points, packing sequence length (t_pack), chunk sizes (t_chunk) and
    * the Gopher min/max-length cut all read off this histogram, per lang
    * because length profiles differ radically across languages. Counts
    * from the n_chars METADATA column — the 100 TB point is that the
    * histogram never touches text bytes.
    *
    * Scale shape: one narrow map + a ≤|langs|·64-row map-side-partial
    * rollup. */
  def tLenHist(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .select(col("lang"),
        (length(bin(col("n_chars"))) - 1).cast("long").as("len_bin"),
        col("n_chars"))
      .groupBy(col("lang"), col("len_bin"))
      .agg(count(lit(1)).as("n_docs"),
        min(col("n_chars")).as("min_chars"), max(col("n_chars")).as("max_chars"),
        sum(col("n_chars")).as("char_mass"))
      .orderBy(col("lang"), col("len_bin"))

  val tLenHistSql: String =
    """SELECT lang, CAST(length(bin(n_chars)) - 1 AS BIGINT) AS len_bin,
      |  COUNT(*) AS n_docs,
      |  CAST(MIN(n_chars) AS BIGINT) AS min_chars,
      |  CAST(MAX(n_chars) AS BIGINT) AS max_chars,
      |  CAST(SUM(n_chars) AS BIGINT) AS char_mass
      |FROM documents GROUP BY 1, 2 ORDER BY lang, len_bin""".stripMargin

  // ---------------------------------------------------------- t_code_fence

  /** t_code_fence: FENCED CODE-BLOCK extraction from markdown-ish text —
    * the routing step that sends code content to the code-curation
    * pipeline (t_code_detect scores whole docs; this finds EMBEDDED
    * blocks inside prose docs, the common crawl shape): count of
    * ```-fenced blocks per doc via ONE non-greedy dotall regex match
    * count — identical in Java regex and RE2, and counting MATCHES
    * (never matched-span lengths, which are UTF-16-unit vs codepoint
    * across engines). Blocks are PLANTED at %23 (1 + doc_id%2 fences
    * appended) on top of whatever the corpus carries — the t_astral
    * planting convention.
    *
    * Scale shape: one narrow regexp map + a ≤|langs|-row rollup. */
  def tCodeFence(s: SparkSession, dir: String): DataFrame = {
    val fence = "```py\nx = 1\n```"
    val planted = when(col("doc_id") % 23 === 0,
      concat(col("text"), lit("\n"),
        // repeat with separator: n fenced blocks, newline-joined
        array_join(array_repeat(lit(fence), (lit(1) + col("doc_id") % 2).cast("int")), "\n")))
      .otherwise(col("text"))
    Tables.documents(s, dir)
      .select(col("lang"),
        regexp_count(planted, lit("(?s)```.*?```")).cast("long").as("n_blocks"))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("n_blocks") > 0, 1L).otherwise(0L)).as("n_docs_with_code"),
        sum(col("n_blocks")).as("n_blocks"))
      .select(col("lang"), col("n_docs"), col("n_docs_with_code"), col("n_blocks"),
        (col("n_docs_with_code").cast("double") / col("n_docs").cast("double"))
          .as("code_doc_share"))
      .orderBy(col("lang"))
  }

  val tCodeFenceSql: String =
    """WITH d AS (
      |  SELECT lang,
      |    CASE WHEN doc_id % 23 = 0
      |         THEN text || chr(10) ||
      |           array_to_string([ '```py' || chr(10) || 'x = 1' || chr(10) || '```'
      |                             for i in range(CAST(1 + doc_id % 2 AS INT)) ], chr(10))
      |         ELSE text END AS t
      |  FROM documents),
      |c AS (
      |  SELECT lang,
      |    CAST(len(regexp_extract_all(t, '(?s)```.*?```')) AS BIGINT) AS n_blocks
      |  FROM d)
      |SELECT lang, COUNT(*) AS n_docs,
      |  CAST(SUM(CASE WHEN n_blocks > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_docs_with_code,
      |  CAST(SUM(n_blocks) AS BIGINT) AS n_blocks,
      |  CAST(SUM(CASE WHEN n_blocks > 0 THEN 1 ELSE 0 END) AS DOUBLE)
      |    / CAST(COUNT(*) AS DOUBLE) AS code_doc_share
      |FROM c GROUP BY lang ORDER BY lang""".stripMargin

  // -------------------------------------------------------- t_vocab_growth

  /** t_vocab_growth: HEAPS-LAW vocabulary saturation — distinct-token
    * count at corpus prefixes (10/25/50/100% by doc_id order), the curve
    * that says whether more data still buys vocabulary (steep = keep
    * crawling; flat = the tokenizer/vocab budget is saturated) — the
    * corpus-level complement of t_vocab's frequency table and t_oov's
    * split coverage. NO global sort anywhere: prefix boundaries are
    * PERCENTILE_DISC doc_ids (actual values, exact in both engines), a
    * token's prefix membership is first_seen ≤ boundary via one min
    * aggregation, and the four checkpoints are a broadcast 4-row frame.
    *
    * Scale shape: one token explode + min agg (map-side partial), one
    * ≤|vocab|×4 broadcast-filtered rollup, one 4-value doc count. */
  def tVocabGrowth(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    val cps = docs.agg(
      expr("percentile_disc(0.1) WITHIN GROUP (ORDER BY doc_id)").as("p10"),
      expr("percentile_disc(0.25) WITHIN GROUP (ORDER BY doc_id)").as("p25"),
      expr("percentile_disc(0.5) WITHIN GROUP (ORDER BY doc_id)").as("p50"),
      max(col("doc_id")).as("p100"))
    val cpRows = cps.selectExpr(
      "stack(4, 10L, CAST(p10 AS BIGINT), 25L, CAST(p25 AS BIGINT), " +
        "50L, CAST(p50 AS BIGINT), 100L, CAST(p100 AS BIGINT)) AS (pct, cp)")
    val firstSeen = docs
      .repartition(s.sparkContext.defaultParallelism, col("doc_id"))
      .select(col("doc_id"), explode(tokens(col("text"))).as("token"))
      .filter(col("token") =!= "")
      .groupBy(col("token")).agg(min(col("doc_id")).as("first_seen"))
    val vocab = firstSeen.crossJoin(broadcast(cpRows))
      .filter(col("first_seen") <= col("cp"))
      .groupBy(col("pct")).agg(count(lit(1)).as("vocab"))
    val nDocs = docs.crossJoin(broadcast(cpRows))
      .filter(col("doc_id") <= col("cp"))
      .groupBy(col("pct")).agg(count(lit(1)).as("n_docs"))
    vocab.join(nDocs, "pct")
      .select(col("pct"), col("n_docs"), col("vocab"),
        (col("vocab").cast("double") / col("n_docs").cast("double"))
          .as("vocab_per_doc"))
      .orderBy(col("pct"))
  }

  val tVocabGrowthSql: String =
    s"""WITH cps AS (
       |  SELECT quantile_disc(doc_id, 0.1) AS p10, quantile_disc(doc_id, 0.25) AS p25,
       |    quantile_disc(doc_id, 0.5) AS p50, MAX(doc_id) AS p100
       |  FROM documents),
       |cpv AS (
       |  SELECT CAST(pct AS BIGINT) AS pct,
       |    CASE pct WHEN 10 THEN p10 WHEN 25 THEN p25 WHEN 50 THEN p50 ELSE p100 END AS cp
       |  FROM (VALUES (10), (25), (50), (100)) v(pct), cps),
       |fs AS (
       |  SELECT t AS token, MIN(doc_id) AS first_seen
       |  FROM (SELECT doc_id, unnest($toks) AS t FROM documents)
       |  WHERE t <> '' GROUP BY t),
       |voc AS (SELECT pct, COUNT(*) AS vocab FROM fs, cpv WHERE first_seen <= cp GROUP BY pct),
       |nd AS (SELECT pct, COUNT(*) AS n_docs FROM documents, cpv WHERE doc_id <= cp GROUP BY pct)
       |SELECT pct, n_docs, vocab,
       |  CAST(vocab AS DOUBLE) / CAST(n_docs AS DOUBLE) AS vocab_per_doc
       |FROM voc JOIN nd USING (pct) ORDER BY pct""".stripMargin

  // ------------------------------------------------------- t_sample_pps

  /** Target draw count for t_sample_pps (the realized sample is k or
    * k+1: with W = Σw and integer step = W div k, the grid anchor+j·step
    * fits k points below k·step ≤ W and one more iff W mod k > anchor). */
  val SamplePpsK = 20

  /** t_sample_pps: SYSTEMATIC PPS SAMPLING — the weighted companion to
    * t_sample_stratified's exact-k uniform draw: documents sampled with
    * probability proportional to their BYTE WEIGHT (token-budget eval
    * sets, dedup audit panels, and cost-weighted QA draws all want "pick
    * by bytes, not by row"), via the classic systematic grid over the
    * cumulative weight axis: anchor + j·step for j ≥ 0, step = W div k.
    * A document is drawn once per grid point inside its byte interval —
    * a doc heavier than step is drawn MULTIPLE times (n_hits > 1, the
    * honest PPS-with-replacement semantics for whale docs).
    *
    * ENTIRELY INTEGER: weights, the cumulative axis, step, anchor and
    * the hit-count formula f(x) = (x − anchor − 1) div step + 1 (x >
    * anchor, else 0) are all BIGINT div/compare — no RNG, no float, no
    * ln/pow (libm calls are not cross-engine reproducible; integer
    * systematic PPS is), so the draw is deterministic, engine- and
    * partitioning-independent, and hash-checkable.
    *
    * Scale shape: the cumulative axis is BandedRank.withPrefixSums over
    * doc_id order (band-partitioned running sums — never a one-reducer
    * corpus sort; the DuckDB oracle keeps the flat window as the
    * exactness cross-check), one 1-row total broadcast, and a narrow
    * integer filter — output is ~k rows at ANY corpus size. */
  def tSamplePps(s: SparkSession, dir: String): DataFrame = {
    val w = Tables.documents(s, dir)
      .repartition(s.sparkContext.defaultParallelism, col("doc_id"))
      .select(col("doc_id"), octet_length(col("text")).cast("long").as("w_bytes"))
    ppsHits(w, SamplePpsK).orderBy(col("doc_id"))
  }

  /** The systematic-PPS core over any (doc_id BIGINT distinct, w_bytes
    * BIGINT ≥ 0) frame — factored out so SamplePpsSpec plants weight
    * frames (whale docs, exact-boundary weights) directly. */
  private[graft] def ppsHits(wIn: DataFrame, k: Int): DataFrame = {
    val w = wIn.select(col("doc_id"), col("w_bytes"), lit(0).as("g"))
      .cpLazy // consumed 3x: bounds, band subtotals, final banded join
    val cum = graft.operators.BandedRank
      .withPrefixSums(w, Seq("g"), "doc_id", Seq(("w_bytes", "cum_bytes")))
    val tot = w.agg(sum(col("w_bytes")).cast("long").as("tot"))
      .select(col("tot"),
        expr(s"tot div $k").as("step"),
        expr(s"(tot div $k) div 2").as("anchor"))
    cum.crossJoin(broadcast(tot))
      .withColumn("n_hits",
        when(col("step") > 0L && col("cum_bytes") > col("anchor"),
          expr("(cum_bytes - anchor - 1) div step") + lit(1L)).otherwise(lit(0L))
          - when(col("step") > 0L && col("cum_bytes") - col("w_bytes") > col("anchor"),
            expr("(cum_bytes - w_bytes - anchor - 1) div step") + lit(1L))
            .otherwise(lit(0L)))
      .filter(col("n_hits") > 0L)
      .select(col("doc_id"), col("w_bytes"), col("cum_bytes"), col("n_hits"))
  }

  val tSamplePpsSql: String =
    s"""WITH w AS (
       |  SELECT doc_id, CAST(strlen(text) AS BIGINT) AS w_bytes FROM documents),
       |c AS (
       |  SELECT doc_id, w_bytes,
       |    CAST(SUM(w_bytes) OVER (ORDER BY doc_id
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_bytes
       |  FROM w),
       |p AS (
       |  SELECT CAST(SUM(w_bytes) AS BIGINT) // $SamplePpsK AS step,
       |    (CAST(SUM(w_bytes) AS BIGINT) // $SamplePpsK) // 2 AS anchor
       |  FROM w),
       |h AS (
       |  SELECT c.doc_id, c.w_bytes, c.cum_bytes,
       |    (CASE WHEN p.step > 0 AND c.cum_bytes > p.anchor
       |          THEN (c.cum_bytes - p.anchor - 1) // p.step + 1 ELSE 0 END
       |     - CASE WHEN p.step > 0 AND c.cum_bytes - c.w_bytes > p.anchor
       |           THEN (c.cum_bytes - c.w_bytes - p.anchor - 1) // p.step + 1 ELSE 0 END
       |    ) AS n_hits
       |  FROM c CROSS JOIN p)
       |SELECT doc_id, w_bytes, cum_bytes, CAST(n_hits AS BIGINT) AS n_hits
       |FROM h WHERE n_hits > 0 ORDER BY doc_id""".stripMargin

  val gates: Seq[Gate] = Seq(
    Gate("t_sample_pps", tSamplePps _, tSamplePpsSql),
    Gate("t_vocab_growth", tVocabGrowth _, tVocabGrowthSql),
    Gate("t_code_fence", tCodeFence _, tCodeFenceSql),
    Gate("t_len_hist", tLenHist _, tLenHistSql),
    Gate("t_astral", tAstral _, tAstralSql),
    Gate("t_oov", tOov _, tOovSql),
    Gate("t_langid_margin", tLangidMargin _, tLangidMarginSql),
    Gate("t_fertility", tFertility _, tFertilitySql),
    Gate("t_prefix_share", tPrefixShare _, tPrefixShareSql),
    Gate("t_nfc_dedup", tNfcDedup _, tNfcDedupSql),
    Gate("t_license", tLicense _, tLicenseSql),
    Gate("t_collocations", tCollocations _, tCollocationsSql),
    Gate("t_readability", tReadability _, tReadabilitySql),
    Gate("t_zipf", tZipf _, tZipfSql),
    Gate("t_garbage", tGarbage _, tGarbageSql),
    Gate("t_entities", tEntities _, tEntitiesSql),
    Gate("t_ctrlchars", tCtrlchars _, tCtrlcharsSql),
    Gate("t_ngram_coverage", tNgramCoverage _, tNgramCoverageSql),
    Gate("t_rake", tRake _, tRakeSql),
    Gate("t_jsonl_export", tJsonlExport _, tJsonlExportSql),
  )
}
