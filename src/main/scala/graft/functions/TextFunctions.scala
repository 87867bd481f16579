package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Text-analysis column functions (SURVEY.md §2C) — composed from Spark
  * SQL functions (no UDFs), with DuckDB-expressible semantics so every
  * operator has an exact oracle.
  *
  * Higher-order functions (`transform`, `filter`, `aggregate`, ...) are
  * NOT codegen'd: their lambda body is interpreted once per array element,
  * and any input the body reads is re-evaluated with it. A body must read
  * a costly input (tokens(), kgram_hashes, ...) through `let`, which binds
  * it once per row to a lambda variable; LambdaLintSpec fails the build on
  * a gate or dedup plan that evaluates such an input per element.
  *
  * Conventions shared with the oracle SQL:
  *  - tokens = lowercase, trim, script-aware extraction (TokenPattern):
  *    whitespace-delimited runs, except Han per-char and Kana/Hangul/Thai
  *    per same-script run
  *  - shingles are word 3-grams (partial shingle when the doc is shorter)
  *  - hashes derive from md5 hex; numeric hashes take 15 hex chars (60
  *    bits, sign-safe in a 64-bit long in both engines)
  */
object TextFunctions {

  /** Large prime modulus for Carter–Wegman minhash permutations (< 2^31 so
    * (h1 + i*h2) never overflows a 64-bit long). */
  val P: Long = 2147483647L

  /** Explicit whitespace class used wherever text is tokenized or
    * normalized, on BOTH engines. Never write `\s` in a paired regex: Java's
    * `\s` includes \x0B (vertical tab) while RE2's (DuckDB) does not, so a
    * document containing \x0B would tokenize differently per engine and
    * break the exact-hash oracles. The same Scala string embeds correctly
    * as a Java regex and inside a SQL string literal. */
  val Ws = "[ \\t\\n\\r\\f]"

  /** Script codepoint ranges for non-whitespace-delimited writing systems
    * — LITERAL BMP characters (never `\p{script}` classes, whose Unicode
    * tables differ between Java regex and RE2), so the identical pattern
    * string drives both engines. Public Unicode block boundaries. BMP
    * only by design: supplementary-plane ideographs (CJK Ext B+, rare in
    * crawls) tokenize as non-whitespace runs via the fallback class —
    * never dropped, just not per-char segmented (surrogate-pair ranges
    * behave differently between Java regex and RE2, so extending the
    * ranges would break the one-pattern-two-engines contract). */
  val HanRange = "\u4e00-\u9fff"    // CJK Unified Ideographs
  val KanaRange = "\u3040-\u30ff"   // Hiragana + Katakana
  val HangulRange = "\uac00-\ud7af" // Hangul syllables
  val ThaiRange = "\u0e00-\u0e7f"   // Thai

  /** Script-aware token pattern: Han ideographs tokenize per character
    * (the standard unigram segmentation — Chinese has no word delimiter),
    * Kana/Hangul/Thai as same-script runs, everything else as
    * non-whitespace runs exactly like the old whitespace split. The
    * alternative classes are DISJOINT, so Java's and RE2's shared
    * leftmost-first alternation yields identical tokens. */
  val TokenPattern: String =
    s"[$HanRange]|[$KanaRange]+|[$HangulRange]+|[$ThaiRange]+|" +
      s"[^$HanRange$KanaRange$HangulRange$ThaiRange \\t\\n\\r\\f]+"

  /** One char class covering every non-whitespace script — the GUARD for
    * the tokenizer's fast path. */
  val ScriptClass: String = s"[$HanRange$KanaRange$HangulRange$ThaiRange]"

  /** Tokenize: lowercase, trim, script-aware extraction (see TokenPattern).
    * For whitespace-script text this equals the classic `split(\s+)` —
    * except that empty/all-whitespace input yields [] rather than a
    * single empty token, which is the saner count. A CJK/Thai document —
    * one giant "token" under a whitespace split, invisible to every
    * token-based quality/dedup/packing operator — yields real
    * per-character/per-run tokens.
    *
    * TWO-PATH EVALUATION, ONE SEMANTICS: the multi-alternation extraction
    * regex costs ~50× a whitespace split (measured: t_ngrams 0.9 → 39 s
    * at sf0.1 when every doc paid it), so a cheap per-doc char-class scan
    * routes script-free text — the bulk of any real corpus — through
    * split-and-drop-empties, which produces EXACTLY the extraction
    * result when no script codepoint is present (the "other" alternative
    * IS the non-whitespace run). The oracle keeps the single-regex
    * formulation; values are identical by construction, and
    * ScriptTokenizerSpec pins branch equality explicitly.
    *
    * The drop-empties step MUST stay codegen'd: `array_remove(split, "")`
    * has doGenCode, while the r9 `filter(split, _ =!= "")` higher-order
    * function is CodegenFallback — it knocked the whole projection out of
    * whole-stage codegen and cost every tokens() consumer 2–7× (t_rep_filter
    * 1.0 → 7.5 s at sf0.1) despite identical semantics. */
  def tokens(text: Column): Column = {
    val norm = lower(trim(text))
    // the guard scans the RAW column (lower/trim cannot create or remove
    // script codepoints); the fast path must drop empty split tokens —
    // trim() strips SPACES only, so text bounded by \t\n\r\f still splits
    // to boundary empties that the extraction path never emits
    when(text.rlike(ScriptClass),
        regexp_extract_all(norm, lit(TokenPattern), lit(0)))
      .otherwise(array_remove(split(norm, s"$Ws+"), ""))
  }

  /** tokens() as a SQL expression string over `colExpr` — for call sites
    * that assemble expr() strings (the SimHash signature columns). Same
    * two-path semantics; backslashes doubled for the SQL-literal
    * unescape, script ranges are literal chars and pass through. */
  def tokensSqlExpr(colExpr: String): String = {
    val pat = TokenPattern.replace("\\", "\\\\")
    val ws = Ws.replace("\\", "\\\\")
    s"CASE WHEN $colExpr RLIKE '$ScriptClass' " +
      s"THEN regexp_extract_all(lower(trim($colExpr)), '$pat', 0) " +
      s"ELSE array_remove(split(lower(trim($colExpr)), '$ws+'), '') END"
  }

  /** `body(value)` with `value` evaluated once per row: the body sees it
    * as a lambda variable, which any lambda nested in the body reads in
    * O(1) per element. Without it, `transform(xs, i => f(value, i))`
    * re-evaluates `value` for every element (the optimizer also inlines a
    * projected alias back into a lambda, so a prior select is no guard). */
  def let(value: Column)(body: Column => Column): Column =
    element_at(transform(array(value), body), 1)

  /** Word 3-gram shingles, distinct. 0-based `get` mirrors DuckDB's 1-based
    * list indexing with null-skipping concat_ws on both sides. */
  def shingles3(toks: Column): Column =
    array_distinct(let(toks)(t => transform(
      sequence(lit(0), greatest(size(t) - 3, lit(0))),
      i => concat_ws(" ", get(t, i), get(t, i + 1), get(t, i + 2)))))

  /** (h1, h2) base hashes of a shingle for Carter–Wegman permutations. */
  def baseHashes(s: Column): Column = {
    val m = md5(s)
    struct(
      (conv(substring(m, 1, 15), 16, 10).cast("long") % P).as("h1"),
      (conv(substring(m, 16, 15), 16, 10).cast("long") % P).as("h2"))
  }

  /** i-th minhash over a pre-hashed shingle array (array of (h1,h2)). */
  def minhash(hashed: Column, i: Int): Column =
    array_min(transform(hashed, h => (h.getField("h1") + lit(i.toLong) * h.getField("h2")) % P))

  /** BPE-ish token count: letter runs, digit runs, single punctuation. */
  def bpeTokenCount(text: Column): Column =
    size(regexp_extract_all(lower(text), lit(s"[a-z]+|[0-9]+|[^a-z0-9 \\t\\n\\r\\f]"), lit(0)))

  /** Ratio of punctuation (non-word, non-space) characters. */
  def punctRatio(text: Column): Column =
    length(regexp_replace(text, "[a-zA-Z0-9_ \\t\\n\\r\\f]", "")).cast("double") /
      greatest(length(text), lit(1)).cast("double")

  val Stopwords: Seq[String] = Seq("the", "a", "and", "of", "to", "in", "is", "on", "for", "with")

  def stopwordRatio(toks: Column): Column =
    size(filter(toks, t => t.isin(Stopwords.map(x => x: Any): _*))).cast("double") /
      greatest(size(toks), lit(1)).cast("double")

  /** Composite quality score in [0,1]; fixed operation order so the double
    * result is bitwise identical to the oracle's. */
  def qualityScore(text: Column, toks: Column): Column =
    lit(0.4) * least(lit(1.0), size(toks).cast("double") / 100.0) +
      lit(0.4) * stopwordRatio(toks) +
      lit(0.2) * (lit(1.0) - punctRatio(text))

  /** Stopword profiles for the n-gram/stopword language-ID heuristic. */
  val LangProfiles: Seq[(String, Seq[String])] = Seq(
    "de" -> Seq("der", "die", "das", "und", "ist", "nicht", "ein"),
    "en" -> Seq("the", "a", "and", "of", "to", "is", "in"),
    "es" -> Seq("el", "los", "las", "y", "que", "por", "un"),
    "fr" -> Seq("le", "la", "et", "les", "des", "une", "est"),
    "zh" -> Seq("的", "是", "在", "了", "和", "有", "我"))

  def langHits(toks: Column, profile: Seq[String]): Column =
    size(filter(toks, t => t.isin(profile.map(x => x: Any): _*)))

  /** Charset profiles for the script-count langid fallback: language →
    * codepoint range (order = deterministic tie-break, mirrored by the
    * oracle CASE chain). */
  val ScriptProfiles: Seq[(String, String)] = Seq(
    "zh" -> HanRange, "ja" -> KanaRange, "ko" -> HangulRange, "th" -> ThaiRange)

  /** Characters of `text` inside a codepoint range (both engines count
    * CHARACTERS, not bytes; ranges stay in the BMP so no surrogate
    * mismatch). */
  def scriptCount(text: Column, range: String): Column =
    length(text) - length(regexp_replace(text, s"[$range]", ""))

  /** Deterministic argmax over stopword profiles: first language (in
    * LangProfiles order) whose hit count equals the maximum. When NO
    * profile hits — the whole failure mode of stopword langid on
    * non-whitespace scripts — fall back to the dominant SCRIPT by
    * character count (ScriptProfiles order breaks ties; note Kana decides
    * ja vs zh for Japanese text, which is mostly Han + Kana, via the zh
    * stopword profile only when 的-class tokens appear). Mirrors the
    * oracle's CASE chain exactly, including ties. */
  def langId(text: Column, toks: Column): Column = {
    val hits = LangProfiles.map { case (l, p) => l -> langHits(toks, p) }
    val maxHits = greatest(hits.map(_._2): _*)
    val scripts = ScriptProfiles.map { case (l, r) => l -> scriptCount(text, r) }
    val maxScript = greatest(scripts.map(_._2): _*)
    val fallback = scripts.foldRight(lit("und")) { case ((l, c), acc) =>
      when(c === maxScript && maxScript > 0, lit(l)).otherwise(acc) }
    hits.foldRight(fallback) { case ((l, h), acc) =>
      when(h === maxHits && maxHits > 0, lit(l)).otherwise(acc) }
  }

  /** Document fingerprint: minimum md5 over 8-char shingles (winnowing-style
    * content signature, stable under doc reordering of equal content). */
  def charFingerprint(text: Column, k: Int = 8): Column =
    array_min(transform(
      sequence(lit(0), greatest(length(text) - k, lit(0))),
      i => md5(substring(text, i + 1, lit(k)))))

  /** DuckDB replay of the native kgram_hashes expression (VectorExpressions
    * .KgramHashes): the same Karp–Rabin polynomial fold (B=257, M=1e9+7)
    * over ord() codepoints, same window semantics (k_eff = min(k, len),
    * empty text → [0]). O(n·k) in the oracle is fine — it runs at sf0.01;
    * the engine side pays O(n). */
  def kgramHashesSql(colExpr: String, k: Int): String =
    s"""CASE WHEN length($colExpr) = 0 THEN [CAST(0 AS BIGINT)]
       |ELSE list_transform(range(1, greatest(length($colExpr) - $k + 1, 1) + 1), i ->
       |  list_reduce(list_transform(range(i, i + least($k, length($colExpr))), p ->
       |    CAST(ord(substring($colExpr, CAST(p AS INT), 1)) AS BIGINT)),
       |    (a, x) -> (a * 257 + x) % 1000000007)) END""".stripMargin.replace("\n", " ")

  /** Word bigrams (non-distinct — frequency-carrying). */
  def bigrams(toks: Column): Column =
    let(toks)(t => transform(sequence(lit(0), greatest(size(t) - 2, lit(0))),
      i => concat_ws(" ", get(t, i), get(t, i + 1))))
}
