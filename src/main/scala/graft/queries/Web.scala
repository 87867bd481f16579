package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.functions.{Html, Url}

/** Web-ingest queries (SURVEY.md §2C): HTML → text extraction and URL
  * canonicalization — the first two operators of a crawl pipeline. The
  * corpus carries plain text, so each gate SYNTHESIZES its web-shaped
  * input deterministically in-query (the m_audio pattern: container
  * writer and decoder both under the gate) and the oracle replays both
  * the synthesis and the extraction. */
object Web {

  /** Deterministic messy-HTML wrapper around each document: headline from
    * the source field, body text, a per-doc anchor, a script block, a
    * comment, and entity-encoded punctuation — every stripping rule
    * exercised on every row. */
  private def htmlCol = concat(
    lit("<html><head><script>var x = 1 < 2;</script><style>p { color: red; }</style></head><body><h1>"),
    col("source"),
    lit("</h1><p>"), col("text"), lit("</p><a href=\"https://ex.com/d/"),
    col("doc_id").cast("string"), lit("\">doc "), col("doc_id").cast("string"),
    lit(" &amp; more</a><p>5 &lt; 6 &quot;q&quot; &#39;s&#39; &nbsp;end</p><!-- hidden --></body></html>"))

  private val htmlSql =
    """'<html><head><script>var x = 1 < 2;</script><style>p { color: red; }</style></head><body><h1>'
      | || source || '</h1><p>' || text || '</p><a href="https://ex.com/d/'
      | || CAST(doc_id AS VARCHAR) || '">doc ' || CAST(doc_id AS VARCHAR)
      | || ' &amp; more</a><p>5 &lt; 6 &quot;q&quot; &#39;s&#39; &nbsp;end</p><!-- hidden --></body></html>'"""
      .stripMargin.replace("\n", "")

  /** t_html: extraction metrics per document — text fingerprint + length
    * (proves scripts/styles/comments dropped, tags stripped, entities
    * decoded, whitespace collapsed), anchor count and link density (the
    * boilerplate signal). Narrow regex map over one scan, no shuffle. */
  def tHtml(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .repartition(s.sparkContext.defaultParallelism, col("doc_id"))
      .withColumn("html", htmlCol)
      .select(col("doc_id"),
        md5(Html.toText(col("html"))).as("text_fp"),
        length(Html.toText(col("html"))).cast("long").as("n_chars"),
        Html.linkCount(col("html")).cast("long").as("n_links"),
        Html.anchorTextChars(col("html")).as("link_chars"),
        Html.linkDensity(col("html")).as("link_density"))
      .orderBy(col("doc_id"))

  val tHtmlSql: String = {
    val comments = Html.CommentPat
    val tags = Html.TagPat
    val anchor = Html.AnchorPat
    // same pipeline, same order: per-tag blocks → comments → tags →
    // entities → ws
    val stripped = (Html.BlockPats :+ comments :+ tags)
      .foldLeft("html")((acc, p) => s"regexp_replace($acc, '$p', ' ', 'g')")
    val entityChain = Html.Entities.foldLeft(stripped) {
      case (acc, (e, r)) =>
        val rr = r.replace("'", "''")
        s"regexp_replace($acc, '$e', '$rr', 'g')"
    }
    val text = s"trim(regexp_replace($entityChain, '[ \\t\\n\\r\\f]+', ' ', 'g'))"
    val anchorChars =
      s"""CAST(COALESCE(list_sum(list_transform(regexp_extract_all(html, '$anchor', 1),
         | a -> length(trim(regexp_replace(regexp_replace(a, '$tags', ' ', 'g'), '[ \\t\\n\\r\\f]+', ' ', 'g'))))), 0) AS BIGINT)"""
        .stripMargin.replace("\n", "")
    s"""SELECT doc_id, md5(t) AS text_fp, CAST(length(t) AS BIGINT) AS n_chars,
       |  CAST(len(regexp_extract_all(html, '$anchor', 0)) AS BIGINT) AS n_links,
       |  $anchorChars AS link_chars,
       |  CASE WHEN length(t) = 0 THEN 0.0
       |       ELSE CAST($anchorChars AS DOUBLE) / CAST(length(t) AS DOUBLE) END AS link_density
       |FROM (SELECT doc_id, html, $text AS t
       |      FROM (SELECT doc_id, $htmlSql AS html FROM documents))
       |ORDER BY doc_id""".stripMargin
  }

  /** Deterministic messy URL per document — doc_id % 4 picks the mess:
    * uppercase host+default port, tracking params + unsorted params,
    * fragment, or already-clean. */
  private def urlCol = {
    val id = col("doc_id").cast("string")
    when(col("doc_id") % 4 === 0,
        concat(lit("HTTPS://Ex.COM:443/d/"), id, lit("?b=2&a=1")))
      .when(col("doc_id") % 4 === 1,
        concat(lit("http://ex.com:80/d/"), id, lit("?utm_source=feed&z=9&utm_medium=x&y=8")))
      .when(col("doc_id") % 4 === 2,
        concat(lit("https://ex.com/d/"), id, lit("#section-2")))
      .otherwise(concat(lit("https://ex.com/d/"), id, lit("?a=1")))
  }

  private val urlSql =
    """CASE doc_id % 4
      | WHEN 0 THEN 'HTTPS://Ex.COM:443/d/' || CAST(doc_id AS VARCHAR) || '?b=2&a=1'
      | WHEN 1 THEN 'http://ex.com:80/d/' || CAST(doc_id AS VARCHAR) || '?utm_source=feed&z=9&utm_medium=x&y=8'
      | WHEN 2 THEN 'https://ex.com/d/' || CAST(doc_id AS VARCHAR) || '#section-2'
      | ELSE 'https://ex.com/d/' || CAST(doc_id AS VARCHAR) || '?a=1'
      |END""".stripMargin.replace("\n", "")

  /** t_url_canon: canonical URL keys — lowercase scheme/host, default
    * port and fragment dropped, utm_* stripped, query params sorted.
    * Narrow map; the canonical key is what crawl dedup groups on. */
  def tUrlCanon(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .withColumn("url", urlCol)
      .select(col("doc_id"), col("url"), Url.canonicalize(col("url")).as("canon_url"))
      .orderBy(col("doc_id"))

  val tUrlCanonSql: String = {
    val pat = "^([A-Za-z][A-Za-z0-9+.-]*)://([^/?#]*)([^?#]*)\\??([^#]*)(#.*)?$"
    s"""SELECT doc_id, url,
       |  scheme || '://' ||
       |  CASE WHEN scheme = 'http' THEN regexp_replace(auth, ':80$$', '')
       |       WHEN scheme = 'https' THEN regexp_replace(auth, ':443$$', '')
       |       ELSE auth END ||
       |  CASE WHEN pth = '' THEN '/' ELSE pth END ||
       |  CASE WHEN len(params) = 0 THEN ''
       |       ELSE '?' || array_to_string(params, '&') END AS canon_url
       |FROM (
       |  SELECT doc_id, url,
       |    lower(regexp_extract(url, '$pat', 1)) AS scheme,
       |    lower(regexp_extract(url, '$pat', 2)) AS auth,
       |    regexp_extract(url, '$pat', 3) AS pth,
       |    list_sort(list_filter(string_split(regexp_extract(url, '$pat', 4), '&'),
       |      p -> p <> '' AND NOT starts_with(p, 'utm_'))) AS params
       |  FROM (SELECT doc_id, $urlSql AS url FROM documents))
       |ORDER BY doc_id""".stripMargin
  }

  /** The robots.txt the t_robots gate parses IN QUERY (same literal on
    * both engines): classic REP directives with an Allow carve-out inside
    * a Disallowed tree — the precedence case (longest match wins, Allow
    * beats Disallow on ties) a naive prefix filter gets wrong. */
  private val RobotsTxt =
    "User-agent: *\\nDisallow: /private/\\nAllow: /private/ok/\\nDisallow: /tmp/\\nCrawl-delay: 2\\nSitemap: https://ex.com/sitemap.xml"

  /** t_robots: robots-exclusion filtering — the crawl front door's THIRD
    * operator (after t_html extraction and t_url_canon keys): parse the
    * robots.txt directives (Allow/Disallow for UA *, other lines
    * ignored), then decide each URL's path by the REP rule — the
    * LONGEST matching prefix wins and Allow wins length ties. Paths vary
    * by doc_id%4 over /d/, /private/, /private/ok/ and /tmp/, so every
    * precedence branch fires. Scale shape: the parsed rule table is
    * rule-count-sized and BROADCASTS to the URL scan; the winner per URL
    * is one doc_id-keyed max_by over ≤&#124;rules&#124; matched rows —
    * the per-URL work a 100 TB frontier filter does, never a per-URL
    * regex zoo. */
  def tRobots(s: SparkSession, dir: String): DataFrame = {
    val rules = s.range(1).select(
        explode(split(lit(RobotsTxt.replace("\\n", "\n")), "\n")).as("line"))
      .select(trim(regexp_extract(col("line"), "^([A-Za-z-]+):", 1)).as("directive"),
        trim(regexp_extract(col("line"), "^[A-Za-z-]+:(.*)$", 1)).as("value"))
      .filter(col("directive").isin("Allow", "Disallow") && col("value") =!= "")
      .select((col("directive") === "Allow").as("is_allow"), col("value").as("prefix"),
        length(col("value")).as("plen"))
    val urls = Tables.documents(s, dir).select(col("doc_id"),
      when(col("doc_id") % 4 === 0, concat(lit("/d/"), col("doc_id").cast("string")))
        .when(col("doc_id") % 4 === 1, concat(lit("/private/"), col("doc_id").cast("string")))
        .when(col("doc_id") % 4 === 2, concat(lit("/private/ok/"), col("doc_id").cast("string")))
        .otherwise(concat(lit("/tmp/"), col("doc_id").cast("string"))).as("path"))
    val matches = urls.join(broadcast(rules), col("path").startsWith(col("prefix")), "left")
    matches.groupBy(col("doc_id"), col("path"))
      // REP precedence: longest prefix wins, Allow wins ties — encoded as
      // max of (plen, is_allow); no matching rule ⇒ crawlable
      .agg(max_by(struct(col("is_allow"), col("prefix")),
        struct(col("plen"), col("is_allow"))).as("win"))
      .select(col("doc_id"), col("path"),
        coalesce(col("win.prefix"), lit("")).as("matched_rule"),
        coalesce(col("win.is_allow"), lit(true)).as("crawlable"))
      .orderBy(col("doc_id"))
  }

  val tRobotsSql: String =
    s"""WITH lines AS (
       |  SELECT unnest(string_split(e'${RobotsTxt}', e'\\n')) AS line),
       |rules AS (
       |  SELECT (directive = 'Allow') AS is_allow, value AS prefix, length(value) AS plen
       |  FROM (SELECT trim(regexp_extract(line, '^([A-Za-z-]+):', 1)) AS directive,
       |               trim(regexp_extract(line, '^[A-Za-z-]+:(.*)$$', 1)) AS value
       |        FROM lines)
       |  WHERE directive IN ('Allow', 'Disallow') AND value <> ''),
       |urls AS (
       |  SELECT doc_id,
       |    CASE doc_id % 4
       |      WHEN 0 THEN '/d/' || CAST(doc_id AS VARCHAR)
       |      WHEN 1 THEN '/private/' || CAST(doc_id AS VARCHAR)
       |      WHEN 2 THEN '/private/ok/' || CAST(doc_id AS VARCHAR)
       |      ELSE '/tmp/' || CAST(doc_id AS VARCHAR) END AS path
       |  FROM documents),
       |m AS (
       |  SELECT doc_id, path, is_allow, prefix,
       |    ROW_NUMBER() OVER (PARTITION BY doc_id
       |      ORDER BY plen DESC, CAST(is_allow AS INT) DESC) AS rk
       |  FROM urls LEFT JOIN rules ON starts_with(path, prefix))
       |SELECT doc_id, path, COALESCE(prefix, '') AS matched_rule,
       |  COALESCE(is_allow, TRUE) AS crawlable
       |FROM m WHERE rk = 1 ORDER BY doc_id""".stripMargin

  /** d_url_dedup: crawl dedup BY CANONICAL URL — the cheapest dedup tier
    * of a crawl pipeline, upstream of any content hashing: every spelling
    * of a page (case, default ports, utm_* params, fragments, param
    * order) collapses onto its canonical key and the min doc_id survives.
    * The same urlCol mess as t_url_canon, grouped — doc_id%4 variants of
    * the same page dedup 4:1 where their canon keys collide. One keyed
    * aggregation; at 100 TB this groupBy replaces a content-hash pass
    * over fetched bodies for the URL-identical tier. */
  def dUrlDedup(s: SparkSession, dir: String): DataFrame = {
    // page identity = doc_id div 4 so the four mess variants of one page
    // genuinely canonicalize together — INTEGER division, matching the
    // oracle's `//` exactly at any id magnitude (double-divide-then-cast
    // is exact only below 2^53 and encodes floor-vs-truncate assumptions)
    val id = expr("doc_id div 4")
    val url = when(col("doc_id") % 4 === 0,
        concat(lit("HTTPS://Ex.COM:443/p/"), id.cast("string"), lit("?b=2&a=1")))
      .when(col("doc_id") % 4 === 1,
        concat(lit("http://ex.com/p/"), id.cast("string"), lit("?utm_source=feed&a=1&b=2")))
      .when(col("doc_id") % 4 === 2,
        concat(lit("https://ex.com/p/"), id.cast("string"), lit("?a=1&b=2#frag")))
      .otherwise(concat(lit("https://ex.com/p/"), id.cast("string"), lit("?b=2&a=1")))
    Tables.documents(s, dir)
      .select(col("doc_id"), Url.canonicalize(url).as("canon_url"))
      .groupBy(col("canon_url"))
      .agg(count(lit(1)).as("n_spellings"), min(col("doc_id")).as("survivor_id"))
      .orderBy(col("canon_url"))
  }

  val dUrlDedupSql: String = {
    val pat = "^([A-Za-z][A-Za-z0-9+.-]*)://([^/?#]*)([^?#]*)\\??([^#]*)(#.*)?$"
    s"""WITH u AS (
       |  SELECT doc_id,
       |    CASE doc_id % 4
       |      WHEN 0 THEN 'HTTPS://Ex.COM:443/p/' || CAST(doc_id // 4 AS VARCHAR) || '?b=2&a=1'
       |      WHEN 1 THEN 'http://ex.com/p/' || CAST(doc_id // 4 AS VARCHAR) || '?utm_source=feed&a=1&b=2'
       |      WHEN 2 THEN 'https://ex.com/p/' || CAST(doc_id // 4 AS VARCHAR) || '?a=1&b=2#frag'
       |      ELSE 'https://ex.com/p/' || CAST(doc_id // 4 AS VARCHAR) || '?b=2&a=1'
       |    END AS url
       |  FROM documents),
       |c AS (
       |  SELECT doc_id,
       |    scheme || '://' ||
       |    CASE WHEN scheme = 'http' THEN regexp_replace(auth, ':80$$', '')
       |         WHEN scheme = 'https' THEN regexp_replace(auth, ':443$$', '')
       |         ELSE auth END ||
       |    CASE WHEN pth = '' THEN '/' ELSE pth END ||
       |    CASE WHEN len(params) = 0 THEN ''
       |         ELSE '?' || array_to_string(params, '&') END AS canon_url
       |  FROM (
       |    SELECT doc_id,
       |      lower(regexp_extract(url, '$pat', 1)) AS scheme,
       |      lower(regexp_extract(url, '$pat', 2)) AS auth,
       |      regexp_extract(url, '$pat', 3) AS pth,
       |      list_sort(list_filter(string_split(regexp_extract(url, '$pat', 4), '&'),
       |        p -> p <> '' AND NOT starts_with(p, 'utm_'))) AS params
       |    FROM u))
       |SELECT canon_url, COUNT(*) AS n_spellings, MIN(doc_id) AS survivor_id
       |FROM c GROUP BY canon_url ORDER BY canon_url""".stripMargin
  }

  val gates: Seq[Gate] = Seq(
    Gate("t_html", tHtml _, tHtmlSql),
    Gate("t_url_canon", tUrlCanon _, tUrlCanonSql),
    Gate("t_robots", tRobots _, tRobotsSql),
    Gate("d_url_dedup", dUrlDedup _, dUrlDedupSql),
  )
}
