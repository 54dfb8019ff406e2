package graft.operators

import graft.functions.Entities
import graft.sources.StructuredCorpus
import HtmlLex.{STOP, Tag, text, walk}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import scala.collection.mutable.ArrayBuffer
import java.util.Locale

/** Structured-data extraction — the page-embedded data surfaces a
  * web-extraction pipeline harvests beyond running text: schema.org JSON-LD
  * blocks, data tables, head declarations (canonical, OpenGraph, hreflang,
  * robots, refresh, AMP, rel=next), images, code blocks, lists, quotes,
  * definition lists, licenses, and the markdown serialization of the whole
  * page.
  *
  * Every scanner here is one [[HtmlLex.walk]] over the page with one
  * lexical rule: `<!-- -->` comments are skipped, tag names (an ASCII
  * letter, then letters, digits, `-`, `_` or `:`) are compared lowercased,
  * attributes are quoted or bare in any order, and the bodies of rawtext
  * elements (script, style, textarea, title) are never scanned — a markup
  * lookalike in a JS string never emits. Element text is markup-stripped,
  * entity-decoded and whitespace-collapsed ([[HtmlLex.text]]); script
  * bodies are verbatim up to the case-insensitive `</script>`. List items,
  * dt/dd pairs, table rows and the code of a `<pre>` are each parsed by one
  * body parser, shared by the harvest scanners and [[mdBlocks]].
  *
  * Scale shape: per-row procedural scans (flatMap) — embarrassingly
  * parallel, zero exchanges before the caller's own ordering; JSON parsing
  * is Catalyst `from_json` (codegen'd, null-safe on malformed bodies).
  */
object Structured {

  // ---- shared scan helpers ---------------------------------------------------

  /** The first value `pick` gives for a tag, in document order. */
  private def first[A](html: String)(pick: PartialFunction[Tag, A]): Option[A] = {
    var out: Option[A] = None
    walk(html)(pick.andThen { a => out = Some(a); STOP })
    out
  }

  /** Whether the tag's `rel` token list carries `token`. */
  private def relHas(t: Tag, token: String): Boolean =
    t.attr("rel").toLowerCase(Locale.ROOT).split("\\s+").contains(token)

  /** A non-empty run of ASCII digits as a Long; None for any other string
    * (a sign, a space, a non-ASCII digit) and for a value past
    * `Long.MaxValue`. The oracles read these numbers as `[0-9]+`.
    */
  private def digitsLong(s: String): Option[Long] = {
    var v = 0L
    var k = 0
    while (k < s.length) {
      val d = s.charAt(k) - '0'
      if (d < 0 || d > 9 || v > (Long.MaxValue - d) / 10) return None
      v = v * 10 + d
      k += 1
    }
    if (s.isEmpty) None else Some(v)
  }

  /** A `<table>` whose class attribute carries the `data` token. */
  private def isDataTable(t: Tag): Boolean = t.attr("class").split("\\s+").contains("data")

  // ---- element-body parsers (shared by the harvests and mdBlocks) -------------

  /** Texts of the `<li>` items of a list body. */
  private def listItemTexts(body: String): Vector[String] = {
    val out = ArrayBuffer.empty[String]
    walk(body) { case li if li.name == "li" => out += text(li.body); li.past }
    out.toVector
  }

  /** (term, definition) per `<dd>` of a definition-list body: each dd pairs
    * with the most recent `<dt>` ("" before any).
    */
  private def dlPairs(body: String): Vector[(String, String)] = {
    val out = ArrayBuffer.empty[(String, String)]
    var term = ""
    walk(body) {
      case t if t.name == "dt" => term = text(t.body); t.past
      case t if t.name == "dd" => out += ((term, text(t.body))); t.past
    }
    out.toVector
  }

  /** Cell texts (th/td) of each `<tr>` of a table body, rows in order. */
  private def tableRows(body: String): Vector[Vector[String]] = {
    val rows = ArrayBuffer.empty[Vector[String]]
    walk(body) {
      case tr if tr.name == "tr" =>
        val cells = ArrayBuffer.empty[String]
        walk(tr.body) { case c if c.name == "th" || c.name == "td" => cells += text(c.body); c.past }
        rows += cells.toVector
        tr.past
    }
    rows.toVector
  }

  /** The first `<code>` child of a `<pre>` body as (lang, code): lang from
    * the `language-*` class token ("" when untagged), code entity-decoded
    * with whitespace preserved. None for a bare pre (preformatted text).
    */
  private def preCode(body: String): Option[(String, String)] =
    first(body) {
      case c if c.name == "code" =>
        val lang = c.attr("class").split("\\s+")
          .collectFirst { case t if t.startsWith("language-") => t.substring(9) }
          .getOrElse("")
        (lang, Entities.decodeAll(c.body))
    }

  // ---- JSON-LD scripts -----------------------------------------------------

  /** Raw bodies of `<script type="application/ld+json">` blocks in document
    * order; other script types are rawtext like any script.
    */
  def jsonLdBodies(html: String): Vector[String] = {
    val out = ArrayBuffer.empty[String]
    walk(html) {
      case t if t.name == "script" =>
        if (t.attr("type").trim.toLowerCase(Locale.ROOT) == "application/ld+json") out += t.body
        t.past
    }
    out.toVector
  }

  /** (table, row, col, cell) grid of every `<table>` whose class attribute
    * carries the `data` token. Cells are th/td in row order, entity-decoded,
    * whitespace-collapsed; nested markup inside a cell contributes its text.
    * A table's body runs to its first `</table>`, so a table nested inside
    * another is read as part of the outer body, never as a table of its own.
    */
  def dataTableCells(html: String): Vector[(Int, Int, Int, String)] = {
    val out = ArrayBuffer.empty[(Int, Int, Int, String)]
    var tbl = 0
    walk(html) {
      case t if t.name == "table" =>
        if (isDataTable(t)) {
          for ((row, r) <- tableRows(t.body).zipWithIndex; (cell, c) <- row.zipWithIndex)
            out += ((tbl, r, c, cell))
          tbl += 1
        }
        t.past
    }
    out.toVector
  }

  // ---- queries ---------------------------------------------------------------

  private val LD_SCHEMA = StructType(Seq(
    StructField("@type", StringType),
    StructField("headline", StringType),
    StructField("datePublished", StringType),
    StructField("author", StructType(Seq(StructField("name", StringType)))),
    StructField("wordCount", LongType)
  ))

  /** Article metadata from JSON-LD blocks: one row per ld+json script, in
    * document order, fields null-safe via from_json.
    */
  def exJsonld(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    StructuredCorpus.htmlStrs(spark)
      .as[(String, String)]
      .flatMap { case (url, html) =>
        jsonLdBodies(html).zipWithIndex.map { case (b, p) => (url, p.toLong, b) }
      }
      .toDF("url", "pos", "body")
      .withColumn("j", from_json(col("body"), LD_SCHEMA))
      .select(
        col("url"), col("pos"),
        col("j.@type").as("ld_type"),
        col("j.headline").as("headline"),
        col("j.datePublished").as("date_published"),
        col("j.author.name").as("author"),
        col("j.wordCount").as("word_count")
      )
      .orderBy("url", "pos")
  }

  val exJsonldSql: String = {
    val H = StructuredCorpus.HTML_PQ
    """WITH m AS (
      |  SELECT url,
      |         regexp_extract_all(html_str,
      |           '<script type="application/ld\+json">(.*?)</script>', 1) bs
      |  FROM """.stripMargin + H + """),
      |e AS (
      |  SELECT url, CAST(i - 1 AS BIGINT) pos, bs[i] body
      |  FROM m, unnest(generate_series(1, len(bs))) AS u(i))
      |SELECT url, pos,
      |       json_extract_string(body, '$."@type"') ld_type,
      |       json_extract_string(body, '$.headline') headline,
      |       json_extract_string(body, '$.datePublished') date_published,
      |       json_extract_string(body, '$.author.name') author,
      |       CAST(json_extract(body, '$.wordCount') AS BIGINT) word_count
      |FROM e ORDER BY url, pos""".stripMargin
  }

  /** Data-table grids flattened to (url, tbl, r, c, cell); r=0 is the header
    * row.
    */
  def exTables(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    StructuredCorpus.htmlStrs(spark)
      .as[(String, String)]
      .flatMap { case (url, html) =>
        dataTableCells(html).map { case (t, r, c, cell) =>
          (url, t.toLong, r.toLong, c.toLong, cell)
        }
      }
      .toDF("url", "tbl", "r", "c", "cell")
      .orderBy("url", "tbl", "r", "c")
  }

  val exTablesSql: String = {
    val H = StructuredCorpus.HTML_PQ
    """WITH t AS (
      |  SELECT url,
      |         regexp_extract_all(html_str, '<table class="data">(.*?)</table>', 1) ts
      |  FROM """.stripMargin + H + """),
      |t2 AS (
      |  SELECT url, CAST(ti - 1 AS BIGINT) tbl, ts[ti] tb
      |  FROM t, unnest(generate_series(1, len(ts))) AS u(ti)),
      |r2 AS (
      |  SELECT url, tbl, CAST(ri - 1 AS BIGINT) r, rs[ri] rw
      |  FROM (SELECT url, tbl, regexp_extract_all(tb, '<tr>(.*?)</tr>', 1) rs FROM t2),
      |       unnest(generate_series(1, len(rs))) AS u(ri)),
      |c2 AS (
      |  SELECT url, tbl, r, CAST(ci - 1 AS BIGINT) c, cs[ci] cell
      |  FROM (SELECT url, tbl, r, regexp_extract_all(rw, '<t[hd]>(.*?)</t[hd]>', 1) cs FROM r2),
      |       unnest(generate_series(1, len(cs))) AS u(ci))
      |SELECT url, tbl, r, c, cell FROM c2 ORDER BY url, tbl, r, c""".stripMargin
  }

  // ---- rel=canonical clustering ----------------------------------------------

  /** First head `<link rel="canonical" href=…>` target, or "" when none is
    * declared (rel is a token list).
    */
  def canonicalHref(html: String): String = canonicalOf(headElems(html))

  private def canonicalOf(head: Vector[Tag]): String =
    head.collectFirst {
      case t if t.name == "link" && relHas(t, "canonical") && t.attr("href").nonEmpty =>
        t.attr("href")
    }.getOrElse("")

  /** Canonical-URL clustering — the duplicate-group signal the site itself
    * declares (tracking-param / mobile / recrawl variants all point at one
    * canonical): every url resolves to its declared canonical (itself when
    * none), clusters are counted, and `is_canon` marks the cluster
    * representative a dedup pass would keep. At 100 TB this is the CHEAP
    * first dedup pass — one url-keyed extraction plus one canonical-keyed
    * count, no similarity join at all.
    */
  def exCanonical(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val resolved = StructuredCorpus.htmlStrs(spark)
      .as[(String, String)]
      .map { case (url, html) =>
        val c = canonicalHref(html)
        (url, if (c.isEmpty) url else c)
      }
      .toDF("url", "canonical")
    val sizes = resolved.groupBy("canonical").agg(count(lit(1)).as("cluster_n"))
    resolved
      .join(sizes, "canonical")
      .select(
        col("url"), col("canonical"), col("cluster_n"),
        when(col("url") === col("canonical"), 1L).otherwise(0L).as("is_canon")
      )
      .orderBy("url")
  }

  val exCanonicalSql: String = {
    val H = StructuredCorpus.HTML_PQ
    """WITH res AS (
      |  SELECT url,
      |         CASE WHEN regexp_extract(html_str,
      |                '<link rel="canonical" href="([^"]*)">', 1) = ''
      |              THEN url
      |              ELSE regexp_extract(html_str,
      |                '<link rel="canonical" href="([^"]*)">', 1) END canonical
      |  FROM """.stripMargin + H + """),
      |sz AS (SELECT canonical, count(*) cluster_n FROM res GROUP BY canonical)
      |SELECT url, canonical, cluster_n,
      |       CAST(CASE WHEN url = canonical THEN 1 ELSE 0 END AS BIGINT) is_canon
      |FROM res JOIN sz USING (canonical) ORDER BY url""".stripMargin
  }

  // ---- sitemap parse -----------------------------------------------------------

  private[operators] val SITEMAP_SCHEMA = StructType(Seq(
    StructField("url", ArrayType(StructType(Seq(
      StructField("loc", StringType),
      StructField("lastmod", StringType),
      StructField("priority", StringType)
    ))))
  ))

  /** sitemap.xml → crawl-frontier rows: (host, ord, loc, lastmod, priority)
    * per `<url>` entry, in sitemap order. The parse is Spark 4's native
    * `from_xml` (typed schema, null-safe); priority stays a STRING — it is
    * a declared label, not a number to do float math on.
    */
  def exSitemap(spark: SparkSession, sfDir: String): DataFrame =
    StructuredCorpus.sitemaps(spark)
      .select(col("host"), from_xml(col("sitemap_xml"), SITEMAP_SCHEMA).as("p"))
      .select(col("host"), posexplode(col("p.url")).as(Seq("ord", "u")))
      .select(
        col("host"), col("ord").cast("long").as("ord"),
        col("u.loc").as("loc"), col("u.lastmod").as("lastmod"),
        col("u.priority").as("priority")
      )
      .orderBy("host", "ord")

  val exSitemapSql: String = {
    val S = StructuredCorpus.SITEMAPS_PQ
    """WITH m AS (
      |  SELECT host, regexp_extract_all(sitemap_xml, '<url>(.*?)</url>', 1) es
      |  FROM """.stripMargin + S + """),
      |e AS (
      |  SELECT host, CAST(i - 1 AS BIGINT) ord, es[i] entry
      |  FROM m, unnest(generate_series(1, len(es))) AS u(i))
      |SELECT host, ord,
      |       regexp_extract(entry, '<loc>(.*?)</loc>', 1) loc,
      |       regexp_extract(entry, '<lastmod>(.*?)</lastmod>', 1) lastmod,
      |       regexp_extract(entry, '<priority>(.*?)</priority>', 1) priority
      |FROM e ORDER BY host, ord""".stripMargin
  }

  // ---- head-element scan (shared by the og / hreflang / pubdate scanners) -----

  /** Start tags inside `<head>…</head>` in document order; the scan STOPS at
    * `</head>` — og/twitter metas, hreflang alternates and
    * article:published_time are head surfaces per spec, so body lookalikes
    * (ad-injected meta clones) never leak in.
    */
  private def headElems(html: String): Vector[Tag] = {
    val out = ArrayBuffer.empty[Tag]
    walk(html) {
      case t if t.name == "/head" => STOP
      case t if !t.name.startsWith("/") => out += t; t.end
    }
    out.toVector
  }

  // ---- OpenGraph / Twitter card metas ------------------------------------------

  /** The social-share card fields a crawl index surfaces next to the
    * extracted text: og:title/type/image/url (from `property=` metas — a
    * `name="og:title"` is NOT OpenGraph and is skipped) and twitter:card
    * (which the Twitter spec puts in `name=`). First occurrence wins per
    * field; "" when a page doesn't declare one; head-scoped (body decoys
    * pinned ignored).
    */
  def ogCard(html: String): (String, String, String, String, String) = {
    var ogTitle = ""; var ogType = ""; var ogImage = ""; var ogUrl = ""; var tw = ""
    headElems(html).foreach { t =>
      if (t.name == "meta") {
        val prop = t.attr("property").toLowerCase(Locale.ROOT)
        val nm = t.attr("name").toLowerCase(Locale.ROOT)
        val c = t.attr("content")
        prop match {
          case "og:title" => if (ogTitle.isEmpty) ogTitle = c
          case "og:type" => if (ogType.isEmpty) ogType = c
          case "og:image" => if (ogImage.isEmpty) ogImage = c
          case "og:url" => if (ogUrl.isEmpty) ogUrl = c
          case _ =>
        }
        if (nm == "twitter:card" && tw.isEmpty) tw = c
      }
    }
    (ogTitle, ogType, ogImage, ogUrl, tw)
  }

  def exOpengraph(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    StructuredCorpus.htmlStrs(spark)
      .as[(String, String)]
      .map { case (url, html) =>
        val (t, y, im, u, tw) = ogCard(html)
        (url, t, y, im, u, tw)
      }
      .toDF("url", "og_title", "og_type", "og_image", "og_url", "tw_card")
      .orderBy("url")
  }

  val exOpengraphSql: String = {
    val H = StructuredCorpus.HTML_PQ
    """WITH h AS (
      |  SELECT url, regexp_extract(html_str, '<head>(.*?)</head>', 1) hd
      |  FROM """.stripMargin + H + """)
      |SELECT url,
      |  regexp_extract(hd, '<meta property="og:title" content="([^"]*)">', 1) og_title,
      |  regexp_extract(hd, '<meta property="og:type" content="([^"]*)">', 1) og_type,
      |  regexp_extract(hd, '<meta property="og:image" content="([^"]*)">', 1) og_image,
      |  regexp_extract(hd, '<meta property="og:url" content="([^"]*)">', 1) og_url,
      |  regexp_extract(hd, '<meta name="twitter:card" content="([^"]*)">', 1) tw_card
      |FROM h ORDER BY url""".stripMargin
  }

  // ---- hreflang alternate clusters ----------------------------------------------

  /** `<link rel="alternate" hreflang=…>` language variants in head order —
    * the site-declared translation cluster (the OTHER site-declared duplicate
    * structure besides rel=canonical: variants are same-content different-
    * language, so a per-language dedup pass must NOT collapse them while a
    * url-frontier pass should crawl them once per language). rel is a token
    * list; alternates without hreflang (RSS autodiscovery) are skipped; body
    * lookalikes are out of scope by head-scoping.
    */
  def hreflangAlts(html: String): Vector[(String, String)] =
    headElems(html).collect {
      case t if t.name == "link" && relHas(t, "alternate") && t.attr("hreflang").nonEmpty =>
        (t.attr("hreflang"), t.attr("href"))
    }

  def exHreflang(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    StructuredCorpus.htmlStrs(spark)
      .as[(String, String)]
      .flatMap { case (url, html) =>
        hreflangAlts(html).zipWithIndex.map { case ((l, h), k) => (url, k.toLong, l, h) }
      }
      .toDF("url", "ord", "hreflang", "href")
      .orderBy("url", "ord")
  }

  val exHreflangSql: String = {
    val H = StructuredCorpus.HTML_PQ
    """WITH h AS (
      |  SELECT url, regexp_extract(html_str, '<head>(.*?)</head>', 1) hd
      |  FROM """.stripMargin + H + """),
      |m AS (
      |  SELECT url,
      |    regexp_extract_all(hd, '<link rel="alternate" hreflang="([^"]*)" href="[^"]*">', 1) ls,
      |    regexp_extract_all(hd, '<link rel="alternate" hreflang="[^"]*" href="([^"]*)">', 1) hs
      |  FROM h)
      |SELECT url, CAST(i - 1 AS BIGINT) ord, ls[i] hreflang, hs[i] href
      |FROM m, unnest(generate_series(1, len(ls))) AS u(i)
      |ORDER BY url, ord""".stripMargin
  }

  // ---- publication-date inference -------------------------------------------------

  /** First `article:published_time` meta content in head ("" when absent). */
  def publishedTimeMeta(html: String): String =
    headElems(html).collectFirst {
      case t if t.name == "meta" && t.attr("property").equalsIgnoreCase("article:published_time") =>
        t.attr("content")
    }.getOrElse("")

  /** First `<time datetime=…>` anywhere in the page ("" when absent) —
    * the visible-timestamp fallback.
    */
  def timeDatetime(html: String): String =
    first(html) { case t if t.name == "time" && t.attr("datetime").nonEmpty => t.attr("datetime") }
      .getOrElse("")

  /** Publication-date inference with the precedence a news-curation pass
    * uses (trafilatura-style): `article:published_time` head meta (authored
    * for sharing, most reliable) → first JSON-LD `datePublished` in document
    * order → first visible `<time datetime=…>` → none. Output is the
    * normalized YYYY-MM-DD plus WHICH source won — downstream mixes weight
    * meta-dated docs above inferred ones. The candidate JSON-LD body is
    * located per-row (first script carrying the field) and parsed null-safe
    * with codegen'd from_json; the whole op is zero-exchange before the
    * output sort.
    */
  def exPubdate(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    StructuredCorpus.htmlStrs(spark)
      .as[(String, String)]
      .map { case (url, html) =>
        val meta = publishedTimeMeta(html)
        val ldBody = jsonLdBodies(html).find(_.contains("\"datePublished\"")).orNull
        (url, meta, ldBody, timeDatetime(html))
      }
      .toDF("url", "meta_ts", "ld_body", "time_dt")
      .withColumn("ld_date", from_json(col("ld_body"), LD_SCHEMA).getField("datePublished"))
      .select(
        col("url"),
        when(col("meta_ts") =!= "", substring(col("meta_ts"), 1, 10))
          .when(col("ld_date").isNotNull && (col("ld_date") =!= ""), col("ld_date"))
          .when(col("time_dt") =!= "", col("time_dt"))
          .otherwise(lit("")).as("pub_date"),
        when(col("meta_ts") =!= "", lit("meta"))
          .when(col("ld_date").isNotNull && (col("ld_date") =!= ""), lit("ldjson"))
          .when(col("time_dt") =!= "", lit("time"))
          .otherwise(lit("")).as("src")
      )
      .orderBy("url")
  }

  val exPubdateSql: String = {
    val H = StructuredCorpus.HTML_PQ
    """WITH f AS (
      |  SELECT url,
      |    regexp_extract(regexp_extract(html_str, '<head>(.*?)</head>', 1),
      |      '<meta property="article:published_time" content="([^"]*)">', 1) meta_ts,
      |    regexp_extract(html_str, '"datePublished":"([^"]*)"', 1) ld_date,
      |    regexp_extract(html_str, '<time datetime="([^"]*)">', 1) time_dt
      |  FROM """.stripMargin + H + """)
      |SELECT url,
      |  CASE WHEN meta_ts <> '' THEN substr(meta_ts, 1, 10)
      |       WHEN ld_date <> '' THEN ld_date
      |       WHEN time_dt <> '' THEN time_dt
      |       ELSE '' END pub_date,
      |  CASE WHEN meta_ts <> '' THEN 'meta'
      |       WHEN ld_date <> '' THEN 'ldjson'
      |       WHEN time_dt <> '' THEN 'time'
      |       ELSE '' END src
      |FROM f ORDER BY url""".stripMargin
  }

  // ---- BreadcrumbList extraction ---------------------------------------------------

  private val BC_SCHEMA = StructType(Seq(
    StructField("@type", StringType),
    StructField("itemListElement", ArrayType(StructType(Seq(
      StructField("position", LongType),
      StructField("name", StringType),
      StructField("item", StringType)
    ))))
  ))

  /** schema.org BreadcrumbList → (url, pos, name, item): the site-declared
    * section path (Home > News > Tech) that section-aware chunking and
    * site-taxonomy stats read; complements ex_outline, which infers the SAME
    * structure from headings when no markup declares it. Non-breadcrumb
    * JSON-LD blocks are filtered by declared @type; `position` is the
    * DECLARED ordinal (BIGINT), not an array index.
    */
  def exBreadcrumb(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    StructuredCorpus.htmlStrs(spark)
      .as[(String, String)]
      .flatMap { case (url, html) => jsonLdBodies(html).map((url, _)) }
      .toDF("url", "body")
      .withColumn("j", from_json(col("body"), BC_SCHEMA))
      .where(col("j.@type") === "BreadcrumbList")
      .select(col("url"), explode(col("j.itemListElement")).as("e"))
      .select(
        col("url"), col("e.position").as("pos"),
        col("e.name").as("name"), col("e.item").as("item")
      )
      .orderBy("url", "pos")
  }

  val exBreadcrumbSql: String = {
    val H = StructuredCorpus.HTML_PQ
    """WITH m AS (
      |  SELECT url,
      |         regexp_extract_all(html_str,
      |           '<script type="application/ld\+json">(.*?)</script>', 1) bs
      |  FROM """.stripMargin + H + """),
      |e AS (
      |  SELECT url, bs[i] body
      |  FROM m, unnest(generate_series(1, len(bs))) AS u(i)
      |  WHERE json_extract_string(bs[i], '$."@type"') = 'BreadcrumbList'),
      |x AS (
      |  SELECT url, body,
      |         CAST(json_array_length(json_extract(body, '$.itemListElement')) AS BIGINT) n
      |  FROM e),
      |i AS (SELECT url, body, k FROM x, unnest(generate_series(0, n - 1)) AS g(k))
      |SELECT url,
      |  CAST(json_extract(body, '$.itemListElement[' || k || '].position') AS BIGINT) pos,
      |  json_extract_string(body, '$.itemListElement[' || k || '].name') AS "name",
      |  json_extract_string(body, '$.itemListElement[' || k || '].item') AS item
      |FROM i ORDER BY url, pos""".stripMargin
  }

  // ---- RSS feed parse -----------------------------------------------------------

  private val RSS_SCHEMA = StructType(Seq(
    StructField("channel", StructType(Seq(
      StructField("title", StringType),
      StructField("link", StringType),
      StructField("item", ArrayType(StructType(Seq(
        StructField("title", StringType),
        StructField("link", StringType),
        StructField("pubDate", StringType),
        StructField("guid", StringType)
      ))))
    )))
  ))

  /** RSS 2.0 feed → article-frontier rows (host, ord, feed_title, title,
    * link, pub_date, guid): the recency-ordered per-article complement of the
    * sitemap frontier (ex_sitemap) — a news recrawler polls feeds, diffs
    * guids against the crawled set, and enqueues only new items. Parse is
    * Spark 4 native `from_xml` (typed nested schema: channel → item array,
    * null-safe on malformed feeds).
    */
  def exFeed(spark: SparkSession, sfDir: String): DataFrame =
    StructuredCorpus.feeds(spark)
      .select(col("host"), from_xml(col("feed_xml"), RSS_SCHEMA).as("p"))
      .select(
        col("host"), col("p.channel.title").as("feed_title"),
        posexplode(col("p.channel.item")).as(Seq("ord", "it"))
      )
      .select(
        col("host"), col("ord").cast("long").as("ord"), col("feed_title"),
        col("it.title").as("title"), col("it.link").as("link"),
        col("it.pubDate").as("pub_date"), col("it.guid").as("guid")
      )
      .orderBy("host", "ord")

  val exFeedSql: String = {
    val F = StructuredCorpus.FEEDS_PQ
    """WITH m AS (
      |  SELECT host,
      |         regexp_extract(feed_xml, '<channel><title>(.*?)</title>', 1) feed_title,
      |         regexp_extract_all(feed_xml, '<item>(.*?)</item>', 1) its
      |  FROM """.stripMargin + F + """),
      |e AS (
      |  SELECT host, feed_title, CAST(i - 1 AS BIGINT) ord, its[i] it
      |  FROM m, unnest(generate_series(1, len(its))) AS u(i))
      |SELECT host, ord, feed_title,
      |  regexp_extract(it, '<title>(.*?)</title>', 1) title,
      |  regexp_extract(it, '<link>(.*?)</link>', 1) link,
      |  regexp_extract(it, '<pubDate>(.*?)</pubDate>', 1) pub_date,
      |  regexp_extract(it, '<guid>(.*?)</guid>', 1) guid
      |FROM e ORDER BY host, ord""".stripMargin
  }

  // ---- image / caption harvest -------------------------------------------------

  /** All `<img>` occurrences in document order with their caption context:
    * (src, alt, figcaption text, width, height) — the image–text pair
    * harvest behind web-scale image-caption datasets (alt text and
    * figcaption are the two native caption channels; downstream keeps pairs
    * where either is non-empty). Figure-wrapped images take their enclosing
    * `<figcaption>` (entity-decoded, markup-stripped, ws-collapsed); bare
    * images get "". Script/style rawtext and comments are skipped so markup
    * lookalikes inside JS strings never emit; width/height surface as
    * nullable dims for the resolution gate a curation pass applies.
    */
  def imageHarvest(html: String): Vector[(String, String, String, Option[Long], Option[Long])] = {
    val out = ArrayBuffer.empty[(String, String, String, Option[Long], Option[Long])]

    def imgOf(t: Tag, figcap: String): Unit =
      out += ((t.attr("src"), Entities.decodeAll(t.attr("alt")), figcap,
        digitsLong(t.attr("width")), digitsLong(t.attr("height"))))

    walk(html) {
      case t if t.name == "figure" =>
        // the first caption applies to every img in the figure, before or after it
        var figcap: Option[String] = None
        val imgs = ArrayBuffer.empty[Tag]
        walk(t.body) {
          case c if c.name == "figcaption" && figcap.isEmpty => figcap = Some(text(c.body)); c.end
          case im if im.name == "img" => imgs += im; im.end
        }
        imgs.foreach(imgOf(_, figcap.getOrElse("")))
        t.past
      case t if t.name == "img" => imgOf(t, ""); t.end
    }
    out.toVector
  }

  def exImages(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    StructuredCorpus.htmlStrs(spark)
      .as[(String, String)]
      .flatMap { case (url, html) =>
        imageHarvest(html).map { case (src, alt, cap, w, h) => (url, src, alt, cap, w, h) }
      }
      .toDF("url", "src", "alt", "figcap", "width", "height")
      .orderBy("url", "src")
  }

  val exImagesSql: String = {
    val H = StructuredCorpus.HTML_PQ
    """WITH t AS (
      |  SELECT url, unnest(regexp_extract_all(html_str, '<img [^>]*>')) tag
      |  FROM """.stripMargin + H + """),
      |i AS (
      |  SELECT url,
      |    regexp_extract(tag, 'src="([^"]*)"', 1) src,
      |    regexp_extract(tag, 'alt="([^"]*)"', 1) alt,
      |    NULLIF(regexp_extract(tag, 'width="([0-9]+)"', 1), '') w,
      |    NULLIF(regexp_extract(tag, 'height="([0-9]+)"', 1), '') h
      |  FROM t),
      |f AS (
      |  SELECT url,
      |    regexp_extract(fig, 'src="([^"]*)"', 1) src,
      |    regexp_extract(fig, '<figcaption>(.*?)</figcaption>', 1) figcap
      |  FROM (SELECT url, unnest(regexp_extract_all(html_str, '<figure>(.*?)</figure>', 1)) fig
      |        FROM """.stripMargin + H + """))
      |SELECT i.url, i.src, i.alt, coalesce(f.figcap, '') figcap,
      |       CAST(i.w AS BIGINT) width, CAST(i.h AS BIGINT) height
      |FROM i LEFT JOIN f ON i.url = f.url AND i.src = f.src
      |ORDER BY i.url, i.src""".stripMargin
  }

  // ---- crawl-control directives ----------------------------------------------

  /** Page-level robots directives: the first `<meta name="robots">` content
    * as a trimmed lowercase token list ("" when absent — absent means
    * index,follow per spec, so flags default 0). The PAGE-side complement of
    * ex_robots (robots.txt): a compliant corpus pipeline must drop noindex
    * pages even when robots.txt allows the path.
    */
  def robotsMeta(html: String): (String, Set[String]) =
    headElems(html).collectFirst {
      case t if t.name == "meta" && t.attr("name").equalsIgnoreCase("robots") =>
        val c = t.attr("content")
        (c, c.split(',').map(_.trim.toLowerCase(Locale.ROOT)).filter(_.nonEmpty).toSet)
    }.getOrElse(("", Set.empty))

  def exMetarobots(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    StructuredCorpus.htmlStrs(spark)
      .as[(String, String)]
      .map { case (url, html) =>
        val (raw, toks) = robotsMeta(html)
        (url, raw,
          if (toks("noindex")) 1L else 0L,
          if (toks("nofollow")) 1L else 0L,
          if (toks("noarchive")) 1L else 0L)
      }
      .toDF("url", "directives", "noindex", "nofollow", "noarchive")
      .orderBy("url")
  }

  val exMetarobotsSql: String = {
    val H = StructuredCorpus.HTML_PQ
    """WITH h AS (
      |  SELECT url, regexp_extract(html_str, '<head>(.*?)</head>', 1) hd
      |  FROM """.stripMargin + H + """),
      |r AS (
      |  SELECT url,
      |         regexp_extract(hd, '<meta name="robots" content="([^"]*)">', 1) directives
      |  FROM h)
      |SELECT url, directives,
      |  CAST(CASE WHEN list_contains(string_split(directives, ','), 'noindex') THEN 1 ELSE 0 END AS BIGINT) noindex,
      |  CAST(CASE WHEN list_contains(string_split(directives, ','), 'nofollow') THEN 1 ELSE 0 END AS BIGINT) nofollow,
      |  CAST(CASE WHEN list_contains(string_split(directives, ','), 'noarchive') THEN 1 ELSE 0 END AS BIGINT) noarchive
      |FROM r ORDER BY url""".stripMargin
  }

  /** Meta-refresh soft redirect: first `<meta http-equiv="refresh">` in head
    * parsed to (delay seconds, target url), None when absent or malformed.
    * Soft redirects are crawl-side duplicate edges: the refreshing page's
    * content is chrome, the target carries the real document.
    */
  def metaRefresh(html: String): Option[(Long, String)] = refreshOf(headElems(html))

  private def refreshOf(head: Vector[Tag]): Option[(Long, String)] =
    head.collectFirst {
      case t if t.name == "meta" && t.attr("http-equiv").equalsIgnoreCase("refresh") =>
        t.attr("content")
    }.flatMap { c =>
      val semi = c.indexOf(';')
      if (semi < 0) None
      else {
        val rest = c.substring(semi + 1).trim
        val eq = rest.toLowerCase(Locale.ROOT).indexOf("url=")
        if (eq < 0) None
        else digitsLong(c.substring(0, semi).trim).map((_, rest.substring(eq + 4).trim))
      }
    }

  def exRefresh(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    StructuredCorpus.htmlStrs(spark)
      .as[(String, String)]
      .flatMap { case (url, html) =>
        metaRefresh(html).map { case (d, t) => (url, d, t) }
      }
      .toDF("url", "delay", "target")
      .orderBy("url")
  }

  val exRefreshSql: String = {
    val H = StructuredCorpus.HTML_PQ
    """WITH h AS (
      |  SELECT url, regexp_extract(html_str, '<head>(.*?)</head>', 1) hd
      |  FROM """.stripMargin + H + """),
      |r AS (
      |  SELECT url,
      |    regexp_extract(hd, '<meta http-equiv="refresh" content="([0-9]+);url=([^"]*)">', 1) d,
      |    regexp_extract(hd, '<meta http-equiv="refresh" content="([0-9]+);url=([^"]*)">', 2) t
      |  FROM h)
      |SELECT url, CAST(d AS BIGINT) delay, t AS target
      |FROM r WHERE d <> '' ORDER BY url""".stripMargin
  }

  /** First `<link rel="amphtml">` target — the AMP mirror edge: amp pages
    * form site-declared duplicate pairs with their canonical exactly like
    * rel=canonical variants, so the dedup frontier folds them first.
    */
  def ampHref(html: String): String = ampOf(headElems(html))

  private def ampOf(head: Vector[Tag]): String =
    head.collectFirst {
      case t if t.name == "link" && relHas(t, "amphtml") && t.attr("href").nonEmpty => t.attr("href")
    }.getOrElse("")

  def exAmp(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    StructuredCorpus.htmlStrs(spark)
      .as[(String, String)]
      .flatMap { case (url, html) =>
        val a = ampHref(html)
        if (a.isEmpty) None else Some((url, a))
      }
      .toDF("url", "amp_url")
      .orderBy("url")
  }

  val exAmpSql: String = {
    val H = StructuredCorpus.HTML_PQ
    """WITH h AS (
      |  SELECT url, regexp_extract(html_str, '<head>(.*?)</head>', 1) hd
      |  FROM """.stripMargin + H + """)
      |SELECT url,
      |       regexp_extract(hd, '<link rel="amphtml" href="([^"]*)">', 1) amp_url
      |FROM h
      |WHERE regexp_extract(hd, '<link rel="amphtml" href="([^"]*)">', 1) <> ''
      |ORDER BY url""".stripMargin
  }

  // ---- fenced code blocks -----------------------------------------------------

  /** `<pre><code>` blocks in document order as (lang, code): lang from the
    * `language-*` class token ("" when untagged), code entity-decoded with
    * whitespace PRESERVED — the one body surface where the running-text
    * extractor's whitespace collapse is exactly wrong (code-literate
    * training corpora keep indentation). A bare `<pre>` without a `<code>`
    * child (ASCII art) and an inline `<code>` span outside any pre are NOT
    * code blocks (pinned); comments and script/style rawtext are skipped so
    * JS-string lookalikes never emit.
    */
  def codeBlocks(html: String): Vector[(String, String)] = {
    val out = ArrayBuffer.empty[(String, String)]
    walk(html) { case t if t.name == "pre" => out ++= preCode(t.body); t.past }
    out.toVector
  }

  /** Code-block harvest — (url, seq, lang, n_lines, code) per fenced block:
    * the extraction pass behind code-literate text corpora (The Stack /
    * StarCoder-style web-code mining keeps indentation and language tags).
    * Zero-exchange per-row scan.
    */
  def exCodeblocks(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    StructuredCorpus.htmlStrs(spark)
      .as[(String, String)]
      .flatMap { case (url, html) =>
        codeBlocks(html).zipWithIndex.map { case ((lang, code), p) =>
          (url, p.toLong, lang, code.count(_ == '\n') + 1L, code)
        }
      }
      .toDF("url", "seq", "lang", "n_lines", "code")
      .orderBy("url", "seq")
  }

  /** Oracle-equivalence precondition (corpus-guaranteed): blocks are emitted
    * exactly as `<pre><code class="language-x">…</code></pre>` (or without
    * the class), bodies carry no raw '<'/'&' and only the `&amp;`/`&lt;`
    * entities. Real-web divergences (attr order, nested spans) are the
    * scanner's unit-test territory.
    */
  val exCodeblocksSql: String = {
    val H = StructuredCorpus.HTML_PQ
    """WITH m AS (
      |  SELECT url,
      |    regexp_extract_all(html_str, '(?s)<pre><code(?: class="language-([a-z]+)")?>(.*?)</code></pre>', 1) ls,
      |    regexp_extract_all(html_str, '(?s)<pre><code(?: class="language-([a-z]+)")?>(.*?)</code></pre>', 2) bs
      |  FROM """.stripMargin + H + """),
      |e AS (
      |  SELECT url, CAST(i - 1 AS BIGINT) seq, coalesce(ls[i], '') lang,
      |         replace(replace(bs[i], '&lt;', '<'), '&amp;', '&') code
      |  FROM m, unnest(generate_series(1, len(bs))) AS u(i))
      |SELECT url, seq, lang,
      |       CAST(length(code) - length(replace(code, chr(10), '')) + 1 AS BIGINT) n_lines,
      |       code
      |FROM e ORDER BY url, seq""".stripMargin
  }

  // ---- bullet / numbered lists --------------------------------------------------

  /** `<ul>`/`<ol>` lists flattened to (lst, kind, ord, item) in document
    * order: items entity-decoded, nested markup stripped to its text,
    * whitespace collapsed — the list-structure harvest an instruction-tuning
    * miner runs (steps, ingredients, FAQs live in lists). Comments and
    * script/style rawtext skipped.
    */
  def listItems(html: String): Vector[(Int, String, Int, String)] = {
    val out = ArrayBuffer.empty[(Int, String, Int, String)]
    var lst = 0
    walk(html) {
      case t if t.name == "ul" || t.name == "ol" =>
        listItemTexts(t.body).zipWithIndex.foreach { case (item, ord) => out += ((lst, t.name, ord, item)) }
        lst += 1
        t.past
    }
    out.toVector
  }

  def exLists(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    StructuredCorpus.htmlStrs(spark)
      .as[(String, String)]
      .flatMap { case (url, html) =>
        listItems(html).map { case (l, kind, o, item) => (url, l.toLong, kind, o.toLong, item) }
      }
      .toDF("url", "lst", "kind", "ord", "item")
      .orderBy("url", "lst", "ord")
  }

  /** Precondition (corpus-guaranteed): lists emitted as `<ul>…</ul>` /
    * `<ol>…</ol>` with bare `<li>` items, nested markup only `<b>`, the only
    * entity `&amp;`, and no ul/ol lookalikes inside scripts.
    */
  val exListsSql: String = {
    val H = StructuredCorpus.HTML_PQ
    """WITH m AS (
      |  SELECT url, regexp_extract_all(html_str, '<[uo]l>.*?</[uo]l>') ms
      |  FROM """.stripMargin + H + """),
      |l AS (
      |  SELECT url, CAST(i - 1 AS BIGINT) lst, substr(ms[i], 2, 2) kind, ms[i] m
      |  FROM m, unnest(generate_series(1, len(ms))) AS u(i)),
      |li AS (
      |  SELECT url, lst, kind, regexp_extract_all(m, '<li>(.*?)</li>', 1) items FROM l),
      |e AS (
      |  SELECT url, lst, kind, CAST(j - 1 AS BIGINT) ord, items[j] raw
      |  FROM li, unnest(generate_series(1, len(items))) AS u(j))
      |SELECT url, lst, kind, ord,
      |       trim(regexp_replace(replace(regexp_replace(raw, '<[^>]*>', ' ', 'g'),
      |                                   '&amp;', '&'), ' +', ' ', 'g')) item
      |FROM e ORDER BY url, lst, ord""".stripMargin
  }

  // ---- license detection ---------------------------------------------------------

  /** First license declaration in document order: a head
    * `<link rel="license">` or a body `<a rel="… license …">` (rel is a
    * token LIST — `rel="licenses"` is not a match, pinned). Returns
    * (src, href) where src ∈ {"link", "a", ""}.
    */
  def licenseOf(html: String): (String, String) =
    first(html) {
      case t if (t.name == "link" || t.name == "a") && relHas(t, "license") && t.attr("href").nonEmpty =>
        (t.name, t.attr("href"))
    }.getOrElse(("", ""))

  /** Normalized license id from a declared href: the Creative Commons
    * `licenses/<code>/` path segment, `cc0` for public-domain marks,
    * `other` for a non-CC license host, "" when none declared.
    */
  private[graft] def licenseCode(href: String): String =
    if (href.isEmpty) ""
    else {
      val m = "creativecommons\\.org/licenses/([a-z-]+)/".r.findFirstMatchIn(href)
      if (m.isDefined) m.get.group(1)
      else if (href.contains("creativecommons.org/publicdomain/")) "cc0"
      else "other"
    }

  /** License harvest — (url, src, code): the filter key behind
    * license-aware corpus assembly (keep cc-by/cc0, route by-nc to the
    * research split). Zero-exchange per-row scan.
    */
  def exLicense(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    StructuredCorpus.htmlStrs(spark)
      .as[(String, String)]
      .map { case (url, html) =>
        val (src, href) = licenseOf(html)
        (url, src, licenseCode(href))
      }
      .toDF("url", "src", "code")
      .orderBy("url")
  }

  /** Precondition (corpus-guaranteed): the head form is emitted exactly as
    * `<link rel="license" href="…">`, the body form as
    * `<a rel="nofollow license" href="…">`; never both on one page.
    */
  val exLicenseSql: String = {
    val H = StructuredCorpus.HTML_PQ
    """WITH x AS (
      |  SELECT url,
      |    regexp_extract(html_str, '<link rel="license" href="([^"]*)">', 1) lk,
      |    regexp_extract(html_str, '<a rel="(?:nofollow )?license" href="([^"]*)">', 1) ak
      |  FROM """.stripMargin + H + """),
      |r AS (
      |  SELECT url,
      |    CASE WHEN lk <> '' THEN 'link' WHEN ak <> '' THEN 'a' ELSE '' END src,
      |    CASE WHEN lk <> '' THEN lk ELSE ak END href
      |  FROM x)
      |SELECT url, src,
      |  CASE WHEN href = '' THEN ''
      |       WHEN regexp_extract(href, 'creativecommons\.org/licenses/([a-z-]+)/', 1) <> ''
      |         THEN regexp_extract(href, 'creativecommons\.org/licenses/([a-z-]+)/', 1)
      |       WHEN contains(href, 'creativecommons.org/publicdomain/') THEN 'cc0'
      |       ELSE 'other' END code
      |FROM r ORDER BY url""".stripMargin
  }

  // ---- pagination chains -----------------------------------------------------------

  /** First head `<link rel="next">` target, if any — the multi-page-article
    * pointer a stitching pass follows.
    */
  def nextHref(html: String): Option[String] =
    headElems(html).collectFirst {
      case t if t.name == "link" && relHas(t, "next") && t.attr("href").nonEmpty => t.attr("href")
    }

  /** Pagination-chain assembly — (head, part, url): chains are built from
    * rel=next edges alone (rel=prev is advisory and inconsistent on the real
    * web); a HEAD is a page with an outgoing next pointer that no other page
    * points at, and the walk follows next edges that land on pages actually
    * IN the corpus (a broken pointer ends its chain and the orphaned tail
    * re-heads — pinned). This is the stitching pass that reassembles
    * paginated articles before extraction at 100 TB: the per-round join is
    * frontier-sized (chains, not corpus), iteration count = max pagination
    * depth (a small constant on the real web — capped loudly here), and the
    * edge table is localCheckpoint'ed once so no round recomputes the scan.
    */
  def exPaginate(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val pages = StructuredCorpus.htmlStrs(spark)
    val rawEdges = pages
      .as[(String, String)]
      .flatMap { case (u, h) => nextHref(h).map(nx => (u, nx)) }
      .toDF("url", "nxt")
      .localCheckpoint() // reused for heads + every walk round
    // edges that land on a page actually in the corpus (the walkable set)
    val walk = rawEdges
      .join(pages.select(col("url").as("nxt")), "nxt")
      .select(col("url").as("w_url"), col("nxt").as("w_nxt"))
      .localCheckpoint()
    val heads = rawEdges.select("url")
      .join(rawEdges.select(col("nxt").as("url")), Seq("url"), "left_anti")
      .distinct()
    var frontier = heads
      .select(col("url").as("head"), lit(0L).as("part"), col("url"))
      .localCheckpoint()
    var acc = frontier
    val maxDepth =
      sys.props.get("graft.paginate.maxDepth").map(_.toInt).getOrElse(64)
    var depth = 0
    var more = frontier.limit(1).count() > 0
    while (more && depth < maxDepth) {
      val next = frontier.join(walk, frontier("url") === col("w_url"))
        .select(col("head"), (col("part") + 1L).as("part"), col("w_nxt").as("url"))
        .localCheckpoint()
      more = next.limit(1).count() > 0
      if (more) { acc = acc.unionByName(next); frontier = next }
      depth += 1
    }
    require(!more,
      s"pagination walk exceeded $maxDepth rounds — a rel=next cycle or " +
        "adversarial chain; raise -Dgraft.paginate.maxDepth")
    acc.orderBy("head", "part")
  }

  val exPaginateSql: String = {
    val H = StructuredCorpus.HTML_PQ
    s"""WITH RECURSIVE
       |en AS (
       |  SELECT url, regexp_extract(html_str, '<link rel="next" href="([^"]*)">', 1) nxt
       |  FROM $H
       |  WHERE regexp_extract(html_str, '<link rel="next" href="([^"]*)">', 1) <> ''),
       |f AS (
       |  SELECT en.url, en.nxt FROM en JOIN (SELECT url FROM $H) p ON en.nxt = p.url),
       |heads AS (
       |  SELECT url FROM en WHERE url NOT IN (SELECT nxt FROM en)),
       |chain AS (
       |  SELECT url AS head, CAST(0 AS BIGINT) AS part, url FROM heads
       |  UNION ALL
       |  SELECT c.head, c.part + 1, f.nxt FROM chain c JOIN f ON c.url = f.url)
       |SELECT head, part, url FROM chain ORDER BY head, part""".stripMargin
  }

  // ---- FAQ Q/A pairs ---------------------------------------------------------

  private val FAQ_SCHEMA = StructType(Seq(
    StructField("@type", StringType),
    StructField("mainEntity", ArrayType(StructType(Seq(
      StructField("@type", StringType),
      StructField("name", StringType),
      StructField("acceptedAnswer", StructType(Seq(StructField("text", StringType))))
    ))))
  ))

  /** FAQPage JSON-LD → (url, pos, question, answer): the site-DECLARED
    * question/answer pairs an instruction-tuning miner harvests first —
    * unlike heuristic Q/A mining from running text, schema.org FAQPage
    * markup IS the ground truth (question in `mainEntity[].name`, answer in
    * `acceptedAnswer.text`). `pos` is the declared ARRAY index — a
    * non-Question entry (pinned decoy) is filtered but still occupies its
    * position, so question ordinals are stable under mixed lists. Shares the
    * ld+json channel with exJsonld/exBreadcrumb; routing is by declared
    * `@type` on both sides. Zero-exchange per-row scan + codegen'd
    * `from_json`.
    */
  def exFaq(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    StructuredCorpus.htmlStrs(spark)
      .as[(String, String)]
      .flatMap { case (url, html) => jsonLdBodies(html).map((url, _)) }
      .toDF("url", "body")
      .withColumn("j", from_json(col("body"), FAQ_SCHEMA))
      .where(col("j.@type") === "FAQPage")
      .select(col("url"), posexplode(col("j.mainEntity")).as(Seq("pos", "e")))
      .where(col("e.@type") === "Question")
      .select(
        col("url"), col("pos").cast("long").as("pos"),
        col("e.name").as("question"),
        col("e.acceptedAnswer.text").as("answer")
      )
      .orderBy("url", "pos")
  }

  val exFaqSql: String = {
    val H = StructuredCorpus.HTML_PQ
    """WITH m AS (
      |  SELECT url,
      |         regexp_extract_all(html_str,
      |           '<script type="application/ld\+json">(.*?)</script>', 1) bs
      |  FROM """.stripMargin + H + """),
      |e AS (
      |  SELECT url, bs[i] body
      |  FROM m, unnest(generate_series(1, len(bs))) AS u(i)
      |  WHERE json_extract_string(bs[i], '$."@type"') = 'FAQPage'),
      |x AS (
      |  SELECT url, body,
      |         CAST(json_array_length(json_extract(body, '$.mainEntity')) AS BIGINT) n
      |  FROM e),
      |i AS (SELECT url, body, k FROM x, unnest(generate_series(0, n - 1)) AS g(k))
      |SELECT url, CAST(k AS BIGINT) pos,
      |  json_extract_string(body, '$.mainEntity[' || k || '].name') AS question,
      |  json_extract_string(body, '$.mainEntity[' || k || '].acceptedAnswer.text') AS answer
      |FROM i
      |WHERE json_extract_string(body, '$.mainEntity[' || k || ']."@type"') = 'Question'
      |ORDER BY url, pos""".stripMargin
  }

  // ---- blockquotes ------------------------------------------------------------

  /** `<blockquote>` elements in document order as (cite, quote): the cite
    * attribute ("" when absent) and the body with nested markup stripped to
    * text, entity-decoded, whitespace-collapsed. Quotes are the
    * attribution-bearing text spans a citation-aware corpus keeps linked to
    * their source; comments and script/style rawtext are skipped so
    * JS-string lookalikes never emit.
    */
  def blockquotes(html: String): Vector[(String, String)] = {
    val out = ArrayBuffer.empty[(String, String)]
    walk(html) { case t if t.name == "blockquote" => out += ((t.attr("cite"), text(t.body))); t.past }
    out.toVector
  }

  def exBlockquote(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    StructuredCorpus.htmlStrs(spark)
      .as[(String, String)]
      .flatMap { case (url, html) =>
        blockquotes(html).zipWithIndex.map { case ((cite, quote), p) =>
          (url, p.toLong, cite, quote)
        }
      }
      .toDF("url", "seq", "cite", "quote")
      .orderBy("url", "seq")
  }

  /** Precondition (corpus-guaranteed): quotes emitted as
    * `<blockquote cite="…">` or bare `<blockquote>`, nested markup only
    * `<em>`, the only entity `&amp;`, no lookalikes in scripts/comments.
    */
  val exBlockquoteSql: String = {
    val H = StructuredCorpus.HTML_PQ
    """WITH m AS (
      |  SELECT url,
      |    regexp_extract_all(html_str, '<blockquote(?: cite="([^"]*)")?>(.*?)</blockquote>', 1) cs,
      |    regexp_extract_all(html_str, '<blockquote(?: cite="([^"]*)")?>(.*?)</blockquote>', 2) qs
      |  FROM """.stripMargin + H + """),
      |e AS (
      |  SELECT url, CAST(i - 1 AS BIGINT) seq, coalesce(cs[i], '') cite, qs[i] raw
      |  FROM m, unnest(generate_series(1, len(qs))) AS u(i))
      |SELECT url, seq, cite,
      |       trim(regexp_replace(replace(regexp_replace(raw, '<[^>]*>', ' ', 'g'),
      |                                   '&amp;', '&'), ' +', ' ', 'g')) AS "quote"
      |FROM e ORDER BY url, seq""".stripMargin
  }

  // ---- definition lists ---------------------------------------------------------

  /** `<dl>` definition lists flattened to (dl, ord, term, defn) in document
    * order: each `<dd>` pairs with the most recent `<dt>` (multiple `<dd>`
    * per `<dt>` repeat the term — the general HTML rule, unit-pinned), text
    * entity-decoded, nested markup stripped, ws collapsed. Glossaries and
    * FAQ-ish term/definition structure an instruction miner flattens to
    * pairs; comments and script/style rawtext skipped.
    */
  def dlItems(html: String): Vector[(Int, Int, String, String)] = {
    val out = ArrayBuffer.empty[(Int, Int, String, String)]
    var dl = 0
    walk(html) {
      case t if t.name == "dl" =>
        dlPairs(t.body).zipWithIndex.foreach { case ((term, defn), ord) => out += ((dl, ord, term, defn)) }
        dl += 1
        t.past
    }
    out.toVector
  }

  def exDl(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    StructuredCorpus.htmlStrs(spark)
      .as[(String, String)]
      .flatMap { case (url, html) =>
        dlItems(html).map { case (d, o, t, f) => (url, d.toLong, o.toLong, t, f) }
      }
      .toDF("url", "dl", "ord", "term", "defn")
      .orderBy("url", "dl", "ord")
  }

  /** Precondition (corpus-guaranteed): strict dt/dd alternation (one dd per
    * dt) emitted as bare `<dt>`/`<dd>`, nested markup only `<i>`, the only
    * entity `&amp;` — so the j-th dt pairs with the j-th dd.
    */
  val exDlSql: String = {
    val H = StructuredCorpus.HTML_PQ
    """WITH m AS (
      |  SELECT url, regexp_extract_all(html_str, '<dl>(.*?)</dl>') ds
      |  FROM """.stripMargin + H + """),
      |d AS (
      |  SELECT url, CAST(i - 1 AS BIGINT) dl, ds[i] body
      |  FROM m, unnest(generate_series(1, len(ds))) AS u(i)),
      |p AS (
      |  SELECT url, dl,
      |         regexp_extract_all(body, '<dt>(.*?)</dt>', 1) ts,
      |         regexp_extract_all(body, '<dd>(.*?)</dd>', 1) fs
      |  FROM d),
      |e AS (
      |  SELECT url, dl, CAST(j - 1 AS BIGINT) ord, ts[j] rawt, fs[j] rawd
      |  FROM p, unnest(generate_series(1, len(fs))) AS u(j))
      |SELECT url, dl, ord,
      |       trim(regexp_replace(replace(regexp_replace(rawt, '<[^>]*>', ' ', 'g'),
      |                                   '&amp;', '&'), ' +', ' ', 'g')) term,
      |       trim(regexp_replace(replace(regexp_replace(rawd, '<[^>]*>', ' ', 'g'),
      |                                   '&amp;', '&'), ' +', ' ', 'g')) defn
      |FROM e ORDER BY url, dl, ord""".stripMargin
  }

  // ---- markdown serialization ---------------------------------------------------

  /** Structure-preserving HTML→Markdown serialization: the whole page's
    * BLOCK surfaces rendered to markdown chunks in true document order —
    * paragraphs (inner markup stripped to text), fenced code (lang tag +
    * whitespace preserved), ul/ol lists (`- ` / `1. `), blockquotes (`> `),
    * definition lists (`term\n: defn`), images (`![alt](src)`), and
    * data-class tables (header + `---` separator + body rows). Inline-only
    * elements outside any block (a bare `<time>`, stray text) are chrome and
    * drop; scripts/styles/comments, bare `<pre>` without `<code>`, and
    * layout (class-less) tables are skipped. This is the product
    * serialization a code/instruction-literate training corpus stores
    * instead of flat text — structure survives tokenization.
    */
  def mdBlocks(html: String): Vector[String] = {
    val out = ArrayBuffer.empty[String]
    walk(html) {
      case t if t.name == "pre" =>
        preCode(t.body).foreach { case (lang, code) => out += s"```$lang\n$code\n```" }
        t.past
      case t if t.name == "p" =>
        val x = text(t.body)
        if (x.nonEmpty) out += x
        t.past
      case t if t.name == "ul" || t.name == "ol" =>
        val items = listItemTexts(t.body).zipWithIndex.map { case (item, k) =>
          if (t.name == "ul") s"- $item" else s"${k + 1}. $item"
        }
        if (items.nonEmpty) out += items.mkString("\n")
        t.past
      case t if t.name == "blockquote" =>
        out += ("> " + text(t.body))
        t.past
      case t if t.name == "dl" =>
        val pairs = dlPairs(t.body)
        if (pairs.nonEmpty) out += pairs.map { case (term, defn) => s"$term\n: $defn" }.mkString("\n")
        t.past
      case t if t.name == "img" =>
        out += s"![${Entities.decodeAll(t.attr("alt"))}](${t.attr("src")})"
        t.end
      case t if t.name == "table" =>
        if (isDataTable(t)) {
          val rows = tableRows(t.body)
          if (rows.nonEmpty) {
            val rule = Vector.fill(rows.head.length)("---")
            out += (rows.head +: rule +: rows.tail).map(_.mkString("| ", " | ", " |")).mkString("\n")
          }
        }
        t.past
    }
    out.toVector
  }

  /** Markdown serialization of every page: (url, md), chunks joined by
    * blank lines. Zero-exchange per-row scan — the whole-page product
    * transform runs exactly as wide as the scan.
    */
  def exMarkdown(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    StructuredCorpus.htmlStrs(spark)
      .as[(String, String)]
      .map { case (url, html) => (url, mdBlocks(html).mkString("\n\n")) }
      .toDF("url", "md")
      .orderBy("url")
  }

  /** Oracle: re-derives the SAME markdown from the staged strings, exploiting
    * the corpus's fixed per-page block emission order (license-p, first
    * plain p, code fences, inline-code p, lists, quotes, dls, images, data
    * tables, last plain p) — each block family re-extracted by the regexes
    * its own oracle uses, rendered to md, and string_agg'd on (rank, sub).
    * The Spark side does NOT see this order: it scans in true document
    * order; the rank table just happens to equal it on this corpus.
    */
  val exMarkdownSql: String = {
    val H = StructuredCorpus.HTML_PQ
    val clean = (g: String) =>
      s"trim(regexp_replace(replace(regexp_replace($g, '<[^>]*>', ' ', 'g'), '&amp;', '&'), ' +', ' ', 'g'))"
    s"""WITH src AS (SELECT url, html_str FROM $H),
       |lic AS (
       |  SELECT url, 0 rk, 0 sub,
       |         regexp_extract(html_str, '<p><a rel="(?:nofollow )?license"[^>]*>([^<]*)</a></p>', 1) chunk
       |  FROM src),
       |plain AS (SELECT url, regexp_extract_all(html_str, '<p>([^<]*)</p>', 1) ps FROM src),
       |p1 AS (SELECT url, 1 rk, 0 sub, ps[1] chunk FROM plain WHERE len(ps) >= 1),
       |p3 AS (SELECT url, 9 rk, 0 sub, ps[len(ps)] chunk FROM plain WHERE len(ps) >= 2),
       |code0 AS (
       |  SELECT url,
       |    regexp_extract_all(html_str, '(?s)<pre><code(?: class="language-([a-z]+)")?>(.*?)</code></pre>', 1) ls,
       |    regexp_extract_all(html_str, '(?s)<pre><code(?: class="language-([a-z]+)")?>(.*?)</code></pre>', 2) bs
       |  FROM src),
       |code AS (
       |  SELECT url, 2 rk, CAST(i AS INT) sub,
       |         '``' || '`' || coalesce(ls[i], '') || chr(10) ||
       |         replace(replace(bs[i], '&lt;', '<'), '&amp;', '&') || chr(10) || '``' || '`' chunk
       |  FROM code0, unnest(generate_series(1, len(bs))) AS u(i)),
       |icode AS (
       |  SELECT url, 3 rk, 0 sub,
       |         'call ' || regexp_extract(html_str, '<p>call <code>([^<]*)</code> inline\\.</p>', 1) || ' inline.' chunk
       |  FROM src
       |  WHERE regexp_extract(html_str, '<p>call <code>([^<]*)</code> inline\\.</p>', 1) <> ''),
       |l0 AS (SELECT url, regexp_extract_all(html_str, '<[uo]l>.*?</[uo]l>') ms FROM src),
       |l1 AS (
       |  SELECT url, CAST(i AS INT) sub, substr(ms[i], 2, 2) kind,
       |         regexp_extract_all(ms[i], '<li>(.*?)</li>', 1) items
       |  FROM l0, unnest(generate_series(1, len(ms))) AS u(i)),
       |l2 AS (
       |  SELECT url, sub, kind, CAST(j AS INT) ord, ${clean("items[j]")} item
       |  FROM l1, unnest(generate_series(1, len(items))) AS u(j)),
       |lists AS (
       |  SELECT url, 4 rk, sub,
       |         string_agg(CASE WHEN kind = 'ul' THEN '- ' || item
       |                         ELSE ord || '. ' || item END, chr(10) ORDER BY ord) chunk
       |  FROM l2 GROUP BY url, sub),
       |q0 AS (
       |  SELECT url,
       |         regexp_extract_all(html_str, '<blockquote(?: cite="[^"]*")?>(.*?)</blockquote>', 1) qs
       |  FROM src),
       |quotes AS (
       |  SELECT url, 5 rk, CAST(i AS INT) sub, '> ' || ${clean("qs[i]")} chunk
       |  FROM q0, unnest(generate_series(1, len(qs))) AS u(i)),
       |d0 AS (SELECT url, regexp_extract_all(html_str, '<dl>(.*?)</dl>', 1) ds FROM src),
       |d1 AS (
       |  SELECT url, CAST(i AS INT) sub,
       |         regexp_extract_all(ds[i], '<dt>(.*?)</dt>', 1) ts,
       |         regexp_extract_all(ds[i], '<dd>(.*?)</dd>', 1) fs
       |  FROM d0, unnest(generate_series(1, len(ds))) AS u(i)),
       |d2 AS (
       |  SELECT url, sub, CAST(j AS INT) ord, ${clean("ts[j]")} term, ${clean("fs[j]")} defn
       |  FROM d1, unnest(generate_series(1, len(fs))) AS u(j)),
       |dls AS (
       |  SELECT url, 6 rk, sub,
       |         string_agg(term || chr(10) || ': ' || defn, chr(10) ORDER BY ord) chunk
       |  FROM d2 GROUP BY url, sub),
       |im0 AS (
       |  SELECT url,
       |         regexp_extract_all(html_str, '<img src="([^"]*)"', 1) srcs,
       |         regexp_extract_all(html_str, '<img src="[^"]*" alt="([^"]*)"', 1) alts
       |  FROM src),
       |imgs AS (
       |  SELECT url, 7 rk, CAST(i AS INT) sub, '![' || alts[i] || '](' || srcs[i] || ')' chunk
       |  FROM im0, unnest(generate_series(1, len(srcs))) AS u(i)),
       |t0 AS (SELECT url, regexp_extract_all(html_str, '<table class="data">(.*?)</table>', 1) ts FROM src),
       |t1 AS (
       |  SELECT url, CAST(ti AS INT) sub, regexp_extract_all(ts[ti], '<tr>(.*?)</tr>', 1) rs
       |  FROM t0, unnest(generate_series(1, len(ts))) AS u(ti)),
       |t2 AS (
       |  SELECT url, sub, CAST(ri AS INT) r,
       |         regexp_extract_all(rs[ri], '<t[hd]>(.*?)</t[hd]>', 1) cs
       |  FROM t1, unnest(generate_series(1, len(rs))) AS u(ri)),
       |t3 AS (
       |  SELECT url, sub, r,
       |         CASE WHEN r = 1 THEN
       |           '| ' || array_to_string(cs, ' | ') || ' |' || chr(10) ||
       |           '| ' || array_to_string(list_transform(cs, x -> '---'), ' | ') || ' |'
       |         ELSE '| ' || array_to_string(cs, ' | ') || ' |' END line
       |  FROM t2),
       |tables AS (
       |  SELECT url, 8 rk, sub, string_agg(line, chr(10) ORDER BY r) chunk
       |  FROM t3 GROUP BY url, sub),
       |allc AS (
       |  SELECT * FROM lic WHERE chunk <> ''
       |  UNION ALL SELECT * FROM p1
       |  UNION ALL SELECT * FROM code
       |  UNION ALL SELECT * FROM icode
       |  UNION ALL SELECT * FROM lists
       |  UNION ALL SELECT * FROM quotes
       |  UNION ALL SELECT * FROM dls
       |  UNION ALL SELECT * FROM imgs
       |  UNION ALL SELECT * FROM tables
       |  UNION ALL SELECT * FROM p3)
       |SELECT url, string_agg(chunk, chr(10) || chr(10) ORDER BY rk, sub) md
       |FROM allc GROUP BY url ORDER BY url""".stripMargin
  }

  // ---- recrawl snapshot diff ------------------------------------------------------

  /** Recrawl change classification — per (url, crawl): `new` on first sight,
    * `changed` when the body differs from the previous crawl, `unchanged`
    * when identical; plus `is_latest` marking the snapshot a latest-view
    * compaction keeps. The CDX/revisit diff a recrawl scheduler feeds back
    * into per-host crawl budgets (hosts that never change get visited less).
    *
    * Scale shape: ONE url-hash exchange serves BOTH windows (lag and max
    * ride the same partitioning — exchange reuse); change detection is a
    * per-row comparison after the sort, and no driver state exists. At
    * 100 TB this is exactly the daily-snapshot diff shape.
    */
  def exRecrawl(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val byUrl = Window.partitionBy("url").orderBy("crawl")
    StructuredCorpus.recrawls(spark)
      .withColumn("prev", lag("body", 1).over(byUrl))
      .withColumn("change",
        when(col("prev").isNull, "new")
          .when(col("prev") =!= col("body"), "changed")
          .otherwise("unchanged"))
      .withColumn("is_latest",
        col("crawl") === max("crawl").over(Window.partitionBy("url")))
      .select("url", "crawl", "change", "is_latest")
      .orderBy("url", "crawl")
  }

  val exRecrawlSql: String = {
    val R = StructuredCorpus.RECRAWLS_PQ
    s"""WITH w AS (
       |  SELECT url, crawl, body,
       |         lag(body) OVER (PARTITION BY url ORDER BY crawl) prev,
       |         max(crawl) OVER (PARTITION BY url) mx
       |  FROM $R)
       |SELECT url, crawl,
       |       CASE WHEN prev IS NULL THEN 'new'
       |            WHEN prev <> body THEN 'changed'
       |            ELSE 'unchanged' END AS "change",
       |       (crawl = mx) AS is_latest
       |FROM w ORDER BY url, crawl""".stripMargin
  }

  // ---- site-declared alias edges ------------------------------------------------

  /** The consolidated duplicate-edge table from one page's head
    * declarations, as (alias, canon, via): rel=canonical (this page is the
    * alias of its declared target — self-canonical is NOT an edge),
    * rel=amphtml (the declared AMP mirror is the alias of THIS page — note
    * the flipped direction), and meta-refresh (the refreshing page is
    * chrome; its target carries the document). The head is walked once
    * and all three channels are picked from it.
    */
  def aliasEdges(url: String, html: String): Seq[(String, String, String)] = {
    val head = headElems(html)
    val c = canonicalOf(head) match {
      case t if t.nonEmpty && t != url => Seq((url, t, "canonical"))
      case _ => Seq()
    }
    val a = ampOf(head) match {
      case "" => Seq()
      case t => Seq((t, url, "amp"))
    }
    val r = refreshOf(head) match {
      case Some((_, t)) if t != url => Seq((url, t, "refresh"))
      case _ => Seq()
    }
    c ++ a ++ r
  }

  /** Alias-edge harvest — the FIRST dedup structure a 100 TB crawl folds,
    * before any content similarity runs: site-declared duplicate edges from
    * all three channels in one table. Downstream unions this with
    * url-normalization identities and resolves connected components; every
    * edge here removes a candidate from the (much more expensive) near-dup
    * similarity join. Zero-exchange per-row scan.
    */
  def exAliases(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    StructuredCorpus.htmlStrs(spark)
      .as[(String, String)]
      .flatMap { case (url, html) => aliasEdges(url, html) }
      .toDF("alias", "canon", "via")
      .orderBy("alias", "via", "canon")
  }

  val exAliasesSql: String = {
    val H = StructuredCorpus.HTML_PQ
    s"""WITH h AS (
       |  SELECT url, regexp_extract(html_str, '<head>(.*?)</head>', 1) hd
       |  FROM $H),
       |c AS (
       |  SELECT url alias, regexp_extract(hd, '<link rel="canonical" href="([^"]*)">', 1) canon,
       |         'canonical' via
       |  FROM h),
       |a AS (
       |  SELECT regexp_extract(hd, '<link rel="amphtml" href="([^"]*)">', 1) alias,
       |         url canon, 'amp' via
       |  FROM h),
       |r AS (
       |  SELECT url alias,
       |         regexp_extract(hd, '<meta http-equiv="refresh" content="[0-9]+;url=([^"]*)">', 1) canon,
       |         'refresh' via
       |  FROM h)
       |SELECT alias, canon, via FROM (
       |  SELECT * FROM c WHERE canon <> '' AND canon <> alias
       |  UNION ALL SELECT * FROM a WHERE alias <> ''
       |  UNION ALL SELECT * FROM r WHERE canon <> '')
       |ORDER BY alias, via, canon""".stripMargin
  }

  // ---- contract surface ------------------------------------------------------

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "ex_jsonld" -> (exJsonld _),
    "ex_tables" -> (exTables _),
    "ex_canonical" -> (exCanonical _),
    "ex_sitemap" -> (exSitemap _),
    "ex_opengraph" -> (exOpengraph _),
    "ex_hreflang" -> (exHreflang _),
    "ex_pubdate" -> (exPubdate _),
    "ex_breadcrumb" -> (exBreadcrumb _),
    "ex_feed" -> (exFeed _),
    "ex_metarobots" -> (exMetarobots _),
    "ex_refresh" -> (exRefresh _),
    "ex_amp" -> (exAmp _),
    "ex_images" -> (exImages _),
    "ex_codeblocks" -> (exCodeblocks _),
    "ex_lists" -> (exLists _),
    "ex_license" -> (exLicense _),
    "ex_paginate" -> (exPaginate _),
    "ex_faq" -> (exFaq _),
    "ex_blockquote" -> (exBlockquote _),
    "ex_dl" -> (exDl _),
    "ex_markdown" -> (exMarkdown _),
    "ex_recrawl" -> (exRecrawl _),
    "ex_aliases" -> (exAliases _)
  )

  def oracles: Map[String, String] = Map(
    "ex_jsonld" -> exJsonldSql,
    "ex_tables" -> exTablesSql,
    "ex_canonical" -> exCanonicalSql,
    "ex_sitemap" -> exSitemapSql,
    "ex_opengraph" -> exOpengraphSql,
    "ex_hreflang" -> exHreflangSql,
    "ex_pubdate" -> exPubdateSql,
    "ex_breadcrumb" -> exBreadcrumbSql,
    "ex_feed" -> exFeedSql,
    "ex_metarobots" -> exMetarobotsSql,
    "ex_refresh" -> exRefreshSql,
    "ex_amp" -> exAmpSql,
    "ex_images" -> exImagesSql,
    "ex_codeblocks" -> exCodeblocksSql,
    "ex_lists" -> exListsSql,
    "ex_license" -> exLicenseSql,
    "ex_paginate" -> exPaginateSql,
    "ex_faq" -> exFaqSql,
    "ex_blockquote" -> exBlockquoteSql,
    "ex_dl" -> exDlSql,
    "ex_markdown" -> exMarkdownSql,
    "ex_recrawl" -> exRecrawlSql,
    "ex_aliases" -> exAliasesSql
  )
}
