package graft.operators

import graft.sources.StructuredCorpus
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Crawl-corpus hygiene operators — the passes between raw crawl and clean
  * training text that act on CROSS-PAGE structure rather than a single
  * document: per-host template discovery (boilerplate that only shows up as
  * repetition across a host's pages), outlink spam profiles, URL-template
  * mining for crawler traps, recrawl freshness scheduling, and the unicode
  * scrub every web-text pipeline runs first.
  *
  * House rules as the rest of the oracle surface: deterministic synthetic
  * staging ([[StructuredCorpus]]), integer-only arithmetic, typed DuckDB
  * oracle per query, explicit total ordering.
  */
object CrawlOps {

  // ---- per-host template-line discovery (the CCNet-shaped boilerplate pass) --

  /** A line is a TEMPLATE line of its host iff the host has at least
    * `MIN_HOST_PAGES` pages and the line appears on a STRICT majority of
    * them. Strict: a line on exactly half the pages is content that happens
    * to repeat (pagination halves, A/B variants), not chrome.
    */
  val MIN_HOST_PAGES = 4

  private def hostLines(spark: SparkSession): (DataFrame, DataFrame, DataFrame) = {
    val docs = StructuredCorpus.hostdocs(spark)
    val lines = docs.select(
      col("host"), col("url"),
      posexplode(split(col("text"), "\n")).as(Seq("ord", "line")))
    // url is the table key — one row per page, so the page count needs no
    // distinct (and no second exchange)
    val hostPages = docs.groupBy("host")
      .agg(count(lit(1)).as("host_pages"))
    // two-phase distinct count: partial agg on (host, line, url) combines
    // same-doc repeats map-side, then one row per page-presence shuffles to
    // the (host, line) reducer — a hot footer line never arrives as raw
    // per-occurrence volume
    val counts = lines.groupBy("host", "line")
      .agg(countDistinct(col("url")).as("n_pages"))
    val tpl = counts
      .join(broadcast(hostPages), "host") // #hosts rows — broadcast at any SF
      .filter(col("host_pages") >= MIN_HOST_PAGES &&
        col("n_pages") * 2 > col("host_pages"))
    (lines, hostPages, tpl)
  }

  /** Template-line table: every (host, line) a strict majority of the
    * host's pages share — the per-host boilerplate a cross-page pass
    * discovers where single-document heuristics can't (the chrome is
    * fluent prose; only its REPETITION gives it away). Scale shape: one
    * (host, line) hash exchange with map-side combine; hot template lines
    * never deliver raw per-page volume to one reducer.
    */
  def exHostlines(spark: SparkSession, sfDir: String): DataFrame = {
    val (_, _, tpl) = hostLines(spark)
    tpl.select("host", "line", "n_pages", "host_pages")
      .orderBy("host", "line")
  }

  val exHostlinesSql: String = {
    val H = StructuredCorpus.HOSTDOCS_PQ
    s"""WITH s AS (SELECT host, url, string_split(text, chr(10)) ls FROM $H),
       |l AS (SELECT host, url, ls[i] line
       |      FROM s, unnest(generate_series(1, len(ls))) AS u(i)),
       |hp AS (SELECT host, count(DISTINCT url) host_pages FROM s GROUP BY 1),
       |c AS (SELECT host, line, count(DISTINCT url) n_pages FROM l GROUP BY 1, 2)
       |SELECT c.host, line, n_pages, host_pages
       |FROM c JOIN hp USING (host)
       |WHERE host_pages >= $MIN_HOST_PAGES AND 2 * n_pages > host_pages
       |ORDER BY host, line""".stripMargin
  }

  /** Template-line REMOVAL — the product side of exHostlines: every doc
    * rewritten with its host's template lines dropped, original line order
    * preserved. The join back rides the same (host, line) key the discovery
    * pass already produced; reassembly is an order-keyed array fold (no
    * per-group sort task, no UDAF).
    */
  def exHostclean(spark: SparkSession, sfDir: String): DataFrame = {
    val (lines, _, tpl) = hostLines(spark)
    val flagged = lines.join(
        tpl.select(col("host"), col("line"), lit(1L).as("is_tpl")),
        Seq("host", "line"), "left")
      .withColumn("is_tpl", coalesce(col("is_tpl"), lit(0L)))
    flagged.groupBy("url")
      .agg(
        count(lit(1)).as("n_lines"),
        sum(when(col("is_tpl") === 1L, 0L).otherwise(1L)).as("n_kept"),
        array_join(
          transform(
            array_sort(collect_list(
              when(col("is_tpl") === 0L, struct(col("ord"), col("line"))))),
            x => x.getField("line")),
          "\n").as("clean_text"))
      .orderBy("url")
  }

  val exHostcleanSql: String = {
    val H = StructuredCorpus.HOSTDOCS_PQ
    s"""WITH s AS (SELECT host, url, string_split(text, chr(10)) ls FROM $H),
       |l AS (SELECT host, url, ls[i] line, CAST(i AS BIGINT) ord
       |      FROM s, unnest(generate_series(1, len(ls))) AS u(i)),
       |hp AS (SELECT host, count(DISTINCT url) host_pages FROM s GROUP BY 1),
       |c AS (SELECT host, line, count(DISTINCT url) n_pages FROM l GROUP BY 1, 2),
       |tpl AS (SELECT c.host, line FROM c JOIN hp USING (host)
       |        WHERE host_pages >= $MIN_HOST_PAGES AND 2 * n_pages > host_pages),
       |k AS (SELECT l.url, l.line, l.ord, (t.line IS NOT NULL) is_tpl
       |      FROM l LEFT JOIN tpl t ON l.host = t.host AND l.line = t.line)
       |SELECT url,
       |       CAST(count(*) AS BIGINT) n_lines,
       |       CAST(sum(CASE WHEN is_tpl THEN 0 ELSE 1 END) AS BIGINT) n_kept,
       |       coalesce(string_agg(CASE WHEN is_tpl THEN NULL ELSE line END,
       |                           chr(10) ORDER BY ord), '') clean_text
       |FROM k GROUP BY url ORDER BY url""".stripMargin
  }

  // ---- per-page outlink profile (link-spam features) -------------------------

  /** Outlink profile per page — the link-shape features a spam/quality
    * classifier reads before any text model: total links, internal
    * (path-relative) vs external (absolute) split, distinct external host
    * fan-out, total anchor characters. A link farm shows as high n_ext +
    * high n_ext_hosts; nav chrome as high n_int with short anchors. Runs
    * the production [[Links]] scanner; zero exchanges before the per-url
    * partial agg.
    */
  def exLinkstats(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val e = StructuredCorpus.linkpages(spark)
      .as[(String, String)]
      .flatMap { case (url, html) =>
        Links.extract(html).map(l => (url, l.href, l.anchor))
      }
      .toDF("url", "href", "anchor")
    e.groupBy("url")
      .agg(
        count(lit(1)).as("n_links"),
        sum(when(col("href").startsWith("/"), 1L).otherwise(0L)).as("n_int"),
        sum(when(col("href").startsWith("http"), 1L).otherwise(0L)).as("n_ext"),
        countDistinct(when(col("href").startsWith("http"),
          regexp_extract(col("href"), "^https?://([^/]+)", 1))).as("n_ext_hosts"),
        sum(length(col("anchor")).cast("long")).as("anchor_chars"))
      .orderBy("url")
  }

  val exLinkstatsSql: String = {
    val L = StructuredCorpus.LINKPAGES_PQ
    s"""WITH m AS (
       |  SELECT url,
       |         regexp_extract_all(html_str, '<a href="([^"]*)">([^<]*)</a>', 1) hs,
       |         regexp_extract_all(html_str, '<a href="([^"]*)">([^<]*)</a>', 2) an
       |  FROM $L),
       |e AS (SELECT url, hs[i] href, an[i] anchor
       |      FROM m, unnest(generate_series(1, len(hs))) AS u(i))
       |SELECT url,
       |       CAST(count(*) AS BIGINT) n_links,
       |       CAST(sum(CASE WHEN href LIKE '/%' THEN 1 ELSE 0 END) AS BIGINT) n_int,
       |       CAST(sum(CASE WHEN href LIKE 'http%' THEN 1 ELSE 0 END) AS BIGINT) n_ext,
       |       CAST(count(DISTINCT CASE WHEN href LIKE 'http%'
       |              THEN regexp_extract(href, '^https?://([^/]+)', 1) END) AS BIGINT) n_ext_hosts,
       |       CAST(sum(length(anchor)) AS BIGINT) anchor_chars
       |FROM e GROUP BY url ORDER BY url""".stripMargin
  }

  // ---- URL-template mining / crawler-trap detection ---------------------------

  /** Trap threshold: a single url template accounting for ≥ this many urls
    * of one host is an infinite-space signature (calendars, faceted search,
    * session ids) a frontier scheduler caps.
    */
  val TRAP_URLS = 50L

  /** Exposed for the boundary-pin spec (crafted urls). */
  def urlTemplate(url: Column): Column = {
    val path = regexp_extract(url, "^https?://[^/]+([^?]*)", 1)
    val tplPath = array_join(
      transform(split(path, "/"), s =>
        when(s.rlike("^[0-9]+$"), "{n}")
          .when(length(s) >= 13, "{s}")
          .otherwise(s)),
      "/")
    val params = array_join(
      array_sort(regexp_extract_all(url, lit("[?&]([a-z]+)="), lit(1))), ",")
    concat(tplPath,
      when(params === "", "").otherwise(concat(lit("?"), params)))
  }

  /** URL-template mining over the crawl log: each url's path is normalized
    * segment-wise (all-digit segment → `{n}`, ≥13-char segment → `{s}`,
    * short literals kept) and query params canonicalize to their sorted
    * name set — then templates roll up per host. A template whose url count
    * crosses [[TRAP_URLS]] is a crawler-trap signature. Pure codegen'd
    * column expressions (no UDF) + one (host, tpl) exchange with map-side
    * combine; at 10^12 urls the hot trap templates are exactly the ones
    * that pre-aggregate best.
    */
  def exUrltemplate(spark: SparkSession, sfDir: String): DataFrame =
    StructuredCorpus.crawllog(spark)
      .select(col("host"), urlTemplate(col("url")).as("tpl"))
      .groupBy("host", "tpl")
      .agg(count(lit(1)).as("n_urls"))
      .select(col("host"), col("tpl"), col("n_urls"),
        when(col("n_urls") >= TRAP_URLS, 1L).otherwise(0L).as("is_trap"))
      .orderBy("host", "tpl")

  val exUrltemplateSql: String = {
    val C = StructuredCorpus.CRAWLLOG_PQ
    s"""WITH t AS (
       |  SELECT host,
       |         array_to_string(list_transform(
       |           string_split(regexp_extract(url, '^https?://[^/]+([^?]*)', 1), '/'),
       |           s -> CASE WHEN regexp_full_match(s, '[0-9]+') THEN '{n}'
       |                     WHEN length(s) >= 13 THEN '{s}' ELSE s END), '/')
       |         || CASE WHEN coalesce(array_to_string(list_sort(
       |                        regexp_extract_all(url, '[?&]([a-z]+)=', 1)), ','), '') = ''
       |                 THEN ''
       |                 ELSE '?' || array_to_string(list_sort(
       |                        regexp_extract_all(url, '[?&]([a-z]+)=', 1)), ',') END tpl
       |  FROM $C)
       |SELECT host, tpl, CAST(count(*) AS BIGINT) n_urls,
       |       CAST(CASE WHEN count(*) >= $TRAP_URLS THEN 1 ELSE 0 END AS BIGINT) is_trap
       |FROM t GROUP BY host, tpl ORDER BY host, tpl""".stripMargin
  }

  // ---- recrawl freshness / change-rate scheduling ------------------------------

  /** Per-url freshness profile over the CDX-style revisit table: crawl
    * count, observed content changes (body differs from the previous
    * crawl), latest change index, and the scheduling class a recrawl
    * budgeter reads — `hot` (changed at the latest crawl), `warm` (changed
    * at least once), `cold` (never observed changing). One url-hash
    * exchange; the lag window and the rollup ride the same key.
    */
  def exFreshness(spark: SparkSession, sfDir: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("url").orderBy("crawl")
    StructuredCorpus.recrawls(spark)
      .withColumn("prev", lag(col("body"), 1).over(w))
      .withColumn("chg",
        when(col("prev").isNotNull && col("prev") =!= col("body"), 1L)
          .otherwise(0L))
      .groupBy("url")
      .agg(
        count(lit(1)).as("n_crawls"),
        sum(col("chg")).as("n_changes"),
        coalesce(max(when(col("chg") === 1L, col("crawl"))), lit(-1L))
          .as("last_change"),
        max(col("crawl")).as("last_crawl"))
      .select(
        col("url"), col("n_crawls"), col("n_changes"), col("last_change"),
        when(col("n_changes") > 0 && col("last_change") === col("last_crawl"),
          "hot")
          .when(col("n_changes") > 0, "warm")
          .otherwise("cold").as("priority"))
      .orderBy("url")
  }

  val exFreshnessSql: String = {
    val R = StructuredCorpus.RECRAWLS_PQ
    s"""WITH d AS (
       |  SELECT url, crawl, body,
       |         lag(body) OVER (PARTITION BY url ORDER BY crawl) prev
       |  FROM $R),
       |c AS (SELECT url, crawl,
       |             CASE WHEN prev IS NOT NULL AND prev <> body THEN 1 ELSE 0 END chg
       |      FROM d),
       |g AS (SELECT url,
       |             CAST(count(*) AS BIGINT) n_crawls,
       |             CAST(sum(chg) AS BIGINT) n_changes,
       |             coalesce(max(CASE WHEN chg = 1 THEN crawl END), -1) last_change,
       |             max(crawl) last_crawl
       |      FROM c GROUP BY url)
       |SELECT url, n_crawls, n_changes, last_change,
       |       CASE WHEN n_changes > 0 AND last_change = last_crawl THEN 'hot'
       |            WHEN n_changes > 0 THEN 'warm'
       |            ELSE 'cold' END priority
       |FROM g ORDER BY url""".stripMargin
  }

  // ---- unicode scrub (the first pass of every web-text pipeline) --------------

  /** Per-doc unicode scrub: count and strip the invisible artifacts web
    * text arrives with — soft hyphens (U+00AD), zero-width chars
    * (ZWSP/ZWNJ/BOM), NBSPs (→ plain space), stray control chars (BEL/SOH),
    * CRLF / lone-CR line endings (→ LF). Pure codegen'd `replace` chains —
    * zero exchanges before the presentation sort, and the counts come from
    * length deltas (BMP-only corpus: UTF-16 length == codepoint length).
    */
  /** The scrub select, factored so the spec can run it on crafted rows. */
  def cleanColumns(df: DataFrame): DataFrame = {
    val t = col("text")
    def stripAll(c: Column, chars: Seq[String]): Column =
      chars.foldLeft(c)((acc, ch) => regexp_replace(acc, lit(ch), lit("")))
    val noSoft = stripAll(t, Seq("\u00AD"))
    val noZw = stripAll(t, Seq("\u200B", "\u200C", "\uFEFF"))
    val noNbsp = stripAll(t, Seq("\u00A0"))
    val noCtrl = stripAll(t, Seq("\u0007", "\u0001"))
    val cleaned = regexp_replace(
      regexp_replace(
        regexp_replace(
          stripAll(t, Seq("\u00AD", "\u200B", "\u200C", "\uFEFF",
            "\u0007", "\u0001")),
          lit("\u00A0"), lit(" ")),
        lit("\r\n"), lit("\n")),
      lit("\r"), lit("\n"))
    df.select(
      col("url"),
      (length(t) - length(noSoft)).cast("long").as("n_soft"),
      (length(t) - length(noZw)).cast("long").as("n_zw"),
      (length(t) - length(noNbsp)).cast("long").as("n_nbsp"),
      (length(t) - length(noCtrl)).cast("long").as("n_ctrl"),
      cleaned.as("clean_text"))
  }

  def taClean(spark: SparkSession, sfDir: String): DataFrame =
    cleanColumns(StructuredCorpus.dirtydocs(spark)).orderBy("url")

  val taCleanSql: String = {
    val D = StructuredCorpus.DIRTYDOCS_PQ
    s"""SELECT url,
       |  CAST(length(text) - length(replace(text, chr(173), '')) AS BIGINT) n_soft,
       |  CAST(length(text) - length(replace(replace(replace(text,
       |       chr(8203), ''), chr(8204), ''), chr(65279), '')) AS BIGINT) n_zw,
       |  CAST(length(text) - length(replace(text, chr(160), '')) AS BIGINT) n_nbsp,
       |  CAST(length(text) - length(replace(replace(text,
       |       chr(7), ''), chr(1), '')) AS BIGINT) n_ctrl,
       |  replace(replace(replace(replace(replace(replace(replace(replace(replace(text,
       |       chr(173), ''), chr(8203), ''), chr(8204), ''), chr(65279), ''),
       |       chr(7), ''), chr(1), ''), chr(160), ' '),
       |       chr(13) || chr(10), chr(10)), chr(13), chr(10)) clean_text
       |FROM $D ORDER BY url""".stripMargin
  }

  // ---- mixed-language span segmentation ----------------------------------------

  /** Mixed-language document segmentation: classify each LINE's language by
    * disjoint-vocab marker scoring (the per-line form of the `ta_langid`
    * argmax heuristic), then sessionize consecutive same-language lines into
    * contiguous spans — the pass a multilingual curation pipeline runs to
    * split code-switched pages into per-language training segments instead
    * of mislabeling (or dropping) the whole doc.
    *
    * Scale shape: line scoring is pure codegen'd column expressions; the
    * two stacked windows (lag boundary flag, running span id) and the span
    * rollup all ride ONE url-hash exchange — `HashPartitioning(url)`
    * satisfies the rollup's `ClusteredDistribution(url, span_id)`, so the
    * groupBy adds no second shuffle. Runs at scan speed + one exchange at
    * 100 TB.
    */
  def taSeglang(spark: SparkSession, sfDir: String): DataFrame = {
    val langs = graft.sources.StructuredCorpus.SEG_LANGS
    val names = langs.map(_._1)
    val lines = graft.sources.StructuredCorpus.mixeddocs(spark)
      .select(col("url"),
        posexplode(split(col("text"), "\n")).as(Seq("ord", "line")))
      .withColumn("tk", split(col("line"), " "))
    val scored = lines.select(
      Seq(col("url"), col("ord").cast("long").as("ord")) ++
        langs.map { case (l, vs) =>
          size(filter(col("tk"), x => x.isin(vs: _*))).cast("long").as(s"s_$l")
        }: _*)
    // argmax with alphabetical tie-break — the same when-chain as ta_langid
    val pred = names.tail.foldLeft(
      when(names.tail.map(o => col(s"s_${names.head}") >= col(s"s_$o")).reduce(_ && _),
        lit(names.head))) { (acc, l) =>
      acc.when(
        names.filterNot(_ == l).map(o => col(s"s_$l") >= col(s"s_$o")).reduce(_ && _),
        lit(l))
    }
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("url").orderBy("ord")
    scored
      .withColumn("pred", pred)
      .withColumn("chg",
        when(lag(col("pred"), 1).over(w).isNull ||
          lag(col("pred"), 1).over(w) =!= col("pred"), 1L).otherwise(0L))
      .withColumn("span_id", sum(col("chg")).over(w))
      .groupBy("url", "span_id")
      .agg(
        min(col("pred")).as("lang"),
        count(lit(1)).as("n_lines"),
        min(col("ord")).as("start_ord"),
        max(col("ord")).as("end_ord"))
      .orderBy("url", "span_id")
  }

  val taSeglangSql: String = {
    val M = graft.sources.StructuredCorpus.MIXEDDOCS_PQ
    val langs = graft.sources.StructuredCorpus.SEG_LANGS
    val names = langs.map(_._1)
    def sqlList(ms: Seq[String]) = ms.map(m => s"'$m'").mkString(", ")
    val scoreCols = langs
      .map { case (l, vs) =>
        s"CAST(len(list_filter(tk, x -> x IN (${sqlList(vs)}))) AS BIGINT) s_$l"
      }
      .mkString(",\n       |             ")
    val predCase = names
      .map { l =>
        val conds = names.filterNot(_ == l).map(o => s"s_$l >= s_$o").mkString(" AND ")
        s"WHEN $conds THEN '$l'"
      }
      .mkString("\n       |                  ")
    s"""WITH s AS (SELECT url, string_split(text, chr(10)) ls FROM $M),
       |l AS (SELECT url, CAST(i - 1 AS BIGINT) ord, string_split(ls[i], ' ') tk
       |      FROM s, unnest(generate_series(1, len(ls))) AS u(i)),
       |sc AS (SELECT url, ord,
       |             $scoreCols
       |       FROM l),
       |p AS (SELECT url, ord,
       |             CASE $predCase
       |                  END pred
       |      FROM sc),
       |b AS (SELECT url, ord, pred,
       |             CASE WHEN lag(pred) OVER (PARTITION BY url ORDER BY ord) IS NULL
       |                    OR lag(pred) OVER (PARTITION BY url ORDER BY ord) <> pred
       |                  THEN 1 ELSE 0 END chg
       |      FROM p),
       |sp AS (SELECT url, ord, pred,
       |              CAST(sum(chg) OVER (PARTITION BY url ORDER BY ord) AS BIGINT) span_id
       |       FROM b)
       |SELECT url, span_id, min(pred) lang, CAST(count(*) AS BIGINT) n_lines,
       |       min(ord) start_ord, max(ord) end_ord
       |FROM sp GROUP BY url, span_id ORDER BY url, span_id""".stripMargin
  }

  // ---- host-level link graph -----------------------------------------------------

  /** Host→host link-graph rollup: every anchor becomes an edge from its
    * page's host to the href's host (path-relative hrefs stay on-host), then
    * edges aggregate to (src_host, dst_host, n_links, n_pages) — the
    * domain-graph table that seeds host authority ranking, spam
    * neighborhoods, and crawl-frontier budgeting. Runs the production
    * [[Links]] scanner.
    *
    * Scale shape: one (src_host, dst_host) exchange with map-side combine —
    * a hub host's millions of in-links pre-aggregate per mapper before the
    * shuffle, so hot edges never arrive as raw per-anchor volume.
    */
  def exHostgraph(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val e = StructuredCorpus.linkpages(spark)
      .as[(String, String)]
      .flatMap { case (url, html) =>
        Links.extract(html).map(l => (url, l.href))
      }
      .toDF("url", "href")
    val srcHost = regexp_extract(col("url"), "^https?://([^/]+)", 1)
    val dstHost = when(col("href").startsWith("http"),
      regexp_extract(col("href"), "^https?://([^/]+)", 1)).otherwise(srcHost)
    e.select(srcHost.as("src_host"), dstHost.as("dst_host"), col("url"))
      .groupBy("src_host", "dst_host")
      .agg(
        count(lit(1)).as("n_links"),
        countDistinct(col("url")).as("n_pages"))
      .select(col("src_host"), col("dst_host"), col("n_links"), col("n_pages"),
        when(col("src_host") === col("dst_host"), 1L).otherwise(0L).as("is_internal"))
      .orderBy("src_host", "dst_host")
  }

  val exHostgraphSql: String = {
    val L = StructuredCorpus.LINKPAGES_PQ
    s"""WITH m AS (
       |  SELECT url,
       |         regexp_extract_all(html_str, '<a href="([^"]*)">([^<]*)</a>', 1) hs
       |  FROM $L),
       |e AS (SELECT url, hs[i] href
       |      FROM m, unnest(generate_series(1, len(hs))) AS u(i)),
       |h AS (SELECT url,
       |             regexp_extract(url, '^https?://([^/]+)', 1) src_host,
       |             CASE WHEN href LIKE 'http%'
       |                  THEN regexp_extract(href, '^https?://([^/]+)', 1)
       |                  ELSE regexp_extract(url, '^https?://([^/]+)', 1) END dst_host
       |      FROM e)
       |SELECT src_host, dst_host,
       |       CAST(count(*) AS BIGINT) n_links,
       |       CAST(count(DISTINCT url) AS BIGINT) n_pages,
       |       CAST(CASE WHEN src_host = dst_host THEN 1 ELSE 0 END AS BIGINT) is_internal
       |FROM h GROUP BY src_host, dst_host ORDER BY src_host, dst_host""".stripMargin
  }

  // ---- redirect-chain resolution (pointer doubling) -------------------------------

  /** Doubling rounds: resolves chains up to 2^4 = 16 hops — the DuckDB
    * oracle's recursive hop cap matches, so both engines flag anything
    * longer (only cycles here) identically.
    */
  val REDIRECT_ROUNDS = 4

  /** Redirect-chain resolution over a functional edge list (one outgoing
    * edge per src — the http-redirect invariant): every source url resolves
    * to its terminal target and exact hop count, or flags as a cycle member
    * / cycle-feeding tail (`final_url` = '', `n_hops` = -1). The dedup pass
    * needs this table to collapse soft-redirect families onto their
    * canonical target before URL-level dedup.
    *
    * Scale shape — POINTER DOUBLING, not hop-by-hop walking: each round
    * joins the successor table with itself (`succ'(u) = succ(succ(u))`,
    * distances add), so a chain of length L resolves in ⌈log₂ L⌉ hash
    * exchanges instead of L sequential joins. At 10^12 urls with redirect
    * chains up to ~16 hops that is 4 shuffles, each functional-keyed
    * (no fan-out: one row per src, ever). Rounds are `localCheckpoint`ed —
    * the plan stays one join deep instead of 2^R scans of the base.
    */
  def exRedirects(spark: SparkSession, sfDir: String): DataFrame =
    resolveChains(StructuredCorpus.redirects(spark)).orderBy("src")

  /** Pointer-doubling chain resolution over a FUNCTIONAL (src, dst) edge
    * list — shared by [[exRedirects]] and [[exCanonmap]] (the caller owns
    * making the edges functional; see the election there).
    */
  private[graft] def resolveChains(edges: DataFrame): DataFrame = {
    var p = edges.select(col("src"), col("dst").as("nxt"), lit(1L).as("d"))
    (1 to REDIRECT_ROUNDS).foreach { _ =>
      p = p.as("a")
        .join(
          p.select(col("src").as("nsrc"), col("nxt").as("nnxt"),
            col("d").as("nd")).as("b"),
          col("a.nxt") === col("nsrc"), "left")
        .select(col("a.src"),
          coalesce(col("nnxt"), col("a.nxt")).as("nxt"),
          (col("a.d") + coalesce(col("nd"), lit(0L))).as("d"))
        .localCheckpoint()
    }
    // resolved iff the final successor has no outgoing edge of its own
    p.join(edges.select(col("src").as("t")).distinct(),
        col("nxt") === col("t"), "left")
      .select(col("src"),
        when(col("t").isNull, col("nxt")).otherwise(lit("")).as("final_url"),
        when(col("t").isNull, col("d")).otherwise(lit(-1L)).as("n_hops"),
        when(col("t").isNull, 0L).otherwise(1L).as("is_cycle"))
  }

  val exRedirectsSql: String = {
    val E = StructuredCorpus.REDIRECTS_PQ
    val cap = 1 << REDIRECT_ROUNDS
    s"""WITH RECURSIVE chain AS (
       |  SELECT src, dst, 1 AS hops FROM $E
       |  UNION ALL
       |  SELECT c.src, e.dst, c.hops + 1
       |  FROM chain c JOIN $E e ON c.dst = e.src
       |  WHERE c.hops < $cap),
       |term AS (
       |  SELECT c.src, c.dst, c.hops FROM chain c
       |  WHERE c.dst NOT IN (SELECT src FROM $E)),
       |srcs AS (SELECT DISTINCT src FROM $E)
       |SELECT s.src,
       |       coalesce(t.dst, '') final_url,
       |       CAST(coalesce(t.hops, -1) AS BIGINT) n_hops,
       |       CAST(CASE WHEN t.src IS NULL THEN 1 ELSE 0 END AS BIGINT) is_cycle
       |FROM srcs s LEFT JOIN term t ON s.src = t.src
       |ORDER BY s.src""".stripMargin
  }

  // ---- seed-distance labeling (multi-source BFS over the host graph) -------

  /** Seed hosts for the BFS / trust surface — fixed in both engines. */
  val SEED_HOSTS = Seq("h0.example.org", "h30.example.org")

  /** Hard round cap: the web host graph's effective diameter is small
    * (tens); anything not reached within the cap is treated as outside the
    * trusted frontier. The oracle's recursive CTE carries the same cap.
    */
  val MAX_DEPTH = 12

  /** Multi-source BFS: every host reachable from the seed set gets its
    * MINIMUM hop distance — the crawl-depth label a frontier budgeter reads
    * (depth tiers get shrinking per-host page budgets; unreached hosts get
    * none). Unreachable hosts (spam islands, the planted 3-cycle) are absent
    * from the output by construction.
    *
    * Scale shape: each round joins only the FRONTIER (hosts first reached
    * last round) against the edge list — frontier-sized, not corpus-sized —
    * then anti-joins the visited set to keep only first sightings. The
    * visited set is the one corpus-scale operand; at 10^9 hosts it and the
    * edge list share a host-hash bucketing so the anti-join is
    * co-partitioned. Rounds = reached diameter, capped at [[MAX_DEPTH]];
    * per-round `localCheckpoint` keeps the plan one join deep, and the loop
    * exits early the first round the frontier empties (driver learns only
    * emptiness, never data).
    */
  def exSeeddepth(spark: SparkSession, sfDir: String): DataFrame =
    seeddepthOver(StructuredCorpus.hostedges(spark), SEED_HOSTS).orderBy("host")

  /** Pipeline form over any (src, dst) edge list. */
  private[graft] def seeddepthOver(edgesIn: DataFrame, seeds: Seq[String],
      maxDepth: Long = MAX_DEPTH): DataFrame = {
    val spark = edgesIn.sparkSession
    val edges = edgesIn.localCheckpoint()
    import spark.implicits._
    var dist = seeds.toDF("host")
      .withColumn("depth", lit(0L)).localCheckpoint()
    var frontier = dist.select("host")
    var d = 0L
    while (d < maxDepth && !frontier.isEmpty) {
      d += 1
      val next = frontier.join(edges, frontier("host") === edges("src"))
        .select(col("dst").as("host")).distinct()
        .join(dist.select("host"), Seq("host"), "left_anti")
        .localCheckpoint()
      dist = dist.unionByName(next.withColumn("depth", lit(d)))
        .localCheckpoint()
      frontier = next
    }
    dist
  }

  val exSeeddepthSql: String = {
    val E = StructuredCorpus.HOSTEDGES_PQ
    val seeds = SEED_HOSTS.map(s => s"('$s')").mkString(", ")
    s"""WITH RECURSIVE walk(host, d) AS (
       |  SELECT host, 0 FROM (VALUES $seeds) s(host)
       |  UNION ALL
       |  SELECT e.dst, w.d + 1
       |  FROM walk w JOIN $E e ON e.src = w.host
       |  WHERE w.d < $MAX_DEPTH)
       |SELECT host, CAST(min(d) AS BIGINT) AS depth
       |FROM walk GROUP BY host ORDER BY host""".stripMargin
  }

  // ---- HITS hub/authority scores (integer-exact, fixed iterations) ---------

  /** Two full HITS iterations over the host graph in EXACT unnormalized
    * integer arithmetic: a₁ = in-degree, h₁ = Σ_out a₁, a₂ = Σ_in h₁,
    * h₂ = Σ_out a₂ — the authority/hub separation a crawl scheduler reads
    * (high-authority hosts get recrawl budget, pure hubs are link chrome).
    * Skipping the per-iteration L2 normalization keeps every value a
    * BIGINT both engines agree on bit-for-bit; the RANKING is what
    * downstream consumes and scaling is rank-invariant. At production scale
    * you'd renormalize with an integer `div` by the per-iteration max
    * (same device as q_pagerank's parts-per-billion rule) to bound growth.
    *
    * Scale shape: each half-iteration is ONE hash exchange (groupBy src or
    * dst) plus a key-partitioned join back to the edge list — with edges
    * stored twice, bucketed on src AND on dst (the standard adjacency
    * layout), every round is exchange-free on the big side. Iteration count
    * fixed, not data-dependent.
    */
  def exHits(spark: SparkSession, sfDir: String): DataFrame = {
    val e = StructuredCorpus.hostedges(spark).localCheckpoint()
    val nodes = e.select(col("src").as("host"))
      .union(e.select(col("dst").as("host"))).distinct()
    val a1 = e.groupBy("dst").agg(count(lit(1)).as("a1"))
    val h1 = e.join(a1, Seq("dst")).groupBy("src").agg(sum("a1").as("h1"))
    val a2 = e.join(h1, Seq("src")).groupBy("dst").agg(sum("h1").as("a2"))
    val h2 = e.join(a2, Seq("dst")).groupBy("src").agg(sum("a2").as("h2"))
    nodes
      .join(h2.withColumnRenamed("src", "host"), Seq("host"), "left")
      .join(a2.withColumnRenamed("dst", "host"), Seq("host"), "left")
      .select(col("host"),
        coalesce(col("h2"), lit(0L)).as("hub"),
        coalesce(col("a2"), lit(0L)).as("auth"))
      .orderBy("host")
  }

  val exHitsSql: String = {
    val E = StructuredCorpus.HOSTEDGES_PQ
    s"""WITH e AS (SELECT src, dst FROM $E),
       |nodes AS (SELECT src AS host FROM e UNION SELECT dst FROM e),
       |a1 AS (SELECT dst, count(*) AS a1 FROM e GROUP BY dst),
       |h1 AS (SELECT e.src, sum(a1.a1) AS h1
       |       FROM e JOIN a1 ON a1.dst = e.dst GROUP BY e.src),
       |a2 AS (SELECT e.dst, sum(h1.h1) AS a2
       |       FROM e JOIN h1 ON h1.src = e.src GROUP BY e.dst),
       |h2 AS (SELECT e.src, sum(a2.a2) AS h2
       |       FROM e JOIN a2 ON a2.dst = e.dst GROUP BY e.src)
       |SELECT n.host,
       |       CAST(coalesce(h2.h2, 0) AS BIGINT) AS hub,
       |       CAST(coalesce(a2.a2, 0) AS BIGINT) AS auth
       |FROM nodes n
       |LEFT JOIN h2 ON h2.src = n.host
       |LEFT JOIN a2 ON a2.dst = n.host
       |ORDER BY n.host""".stripMargin
  }

  // ---- co-citation similarity (hub-capped source self-join) -----------------

  /** Sources with out-degree above this never enter the pairing self-join:
    * a directory/mega-hub page linking hundreds of hosts asserts almost
    * nothing about any PAIR of them, and its C(od, 2) pair fan-out is
    * exactly the quadratic term that kills all-pairs plans — the same
    * df-cap rule dd_ngram_jaccard applies to hot shingles.
    */
  val COCITE_CAP = 8

  /** Co-citation host similarity: two hosts are related when ≥2 distinct
    * capped sources link BOTH (Small's co-citation measure on the host
    * graph) — the cheap relatedness signal seeding topical clusters and
    * spam neighborhoods before any text model runs.
    *
    * Scale shape: out-degree cap first (one src-keyed partial agg riding
    * the self-join's own exchange), THEN the src-keyed self-join — pair
    * volume per source is bounded by C(cap, 2) = 28, so candidate volume is
    * linear in surviving edges, never quadratic in a hub's fan-out. The
    * (host_a, host_b) count combines map-side.
    */
  def exCocite(spark: SparkSession, sfDir: String): DataFrame =
    cociteOver(StructuredCorpus.hostedges(spark)).orderBy("host_a", "host_b")

  /** Pipeline form over any (src, dst) edge list. */
  private[graft] def cociteOver(e: DataFrame): DataFrame = {
    val deg = e.groupBy("src").agg(count(lit(1)).as("od"))
    // materialize the capped edge set ONCE: without this both self-join
    // sides replan the deg aggregate — a doubled edge-table pass at scale
    val k = e.join(deg.filter(col("od") <= COCITE_CAP), Seq("src"))
      .select("src", "dst").localCheckpoint()
    k.as("a").join(k.as("b"),
        col("a.src") === col("b.src") && col("a.dst") < col("b.dst"))
      .select(col("a.dst").as("host_a"), col("b.dst").as("host_b"))
      .groupBy("host_a", "host_b").agg(count(lit(1)).as("n_common"))
      .filter(col("n_common") >= 2)
  }

  val exCociteSql: String = {
    val E = StructuredCorpus.HOSTEDGES_PQ
    s"""WITH deg AS (SELECT src, count(*) AS od FROM $E GROUP BY src),
       |k AS (SELECT e.src, e.dst FROM $E e
       |      JOIN deg ON deg.src = e.src AND deg.od <= $COCITE_CAP)
       |SELECT a.dst AS host_a, b.dst AS host_b,
       |       CAST(count(*) AS BIGINT) AS n_common
       |FROM k a JOIN k b ON a.src = b.src AND a.dst < b.dst
       |GROUP BY 1, 2 HAVING count(*) >= 2
       |ORDER BY host_a, host_b""".stripMargin
  }

  // ---- registrable-domain extraction (public-suffix rule) -------------------

  /** Embedded public-suffix subset: two-label suffixes (including one
    * PRIVATE registry, github.io) and one-label TLDs in policy. A real
    * pipeline ships the full ~9k-rule PSL the same way — as a broadcast
    * lookup the candidate last-1/last-2 labels probe; the rule shape below
    * is exactly that probe, just with a literal IN-list standing in for the
    * broadcast side.
    */
  val PSL2 = Seq("co.uk", "org.uk", "com.au", "github.io", "co.jp")
  val PSL1 = Seq("com", "org", "net", "io", "uk", "au", "jp", "edu")

  /** Registrable domain per host (the PSL rule): longest matching public
    * suffix wins (last-2 labels before last-1), registrable domain = one
    * label + the suffix; a host that IS a bare suffix, or whose TLD is out
    * of policy, is unregistrable ("" / suffix "") — per-DOMAIN crawl
    * budgets, dedup scopes, and spam rollups all key on this, not on the
    * raw host (a spammer mints unlimited hosts under one domain). Pure
    * codegen'd array expressions, zero exchanges; `when` guards keep the
    * 1-based element_at probes in-bounds under ANSI.
    */
  def exDomain(spark: SparkSession, sfDir: String): DataFrame = {
    val two = PSL2.map(lit(_))
    val one = PSL1.map(lit(_))
    StructuredCorpus.rawhosts(spark)
      .withColumn("p", split(col("host"), "\\."))
      .withColumn("n", size(col("p")))
      .withColumn("l1", element_at(col("p"), -1))
      .withColumn("l2", when(col("n") >= 2,
        concat_ws(".", expr("element_at(p, n - 1)"), col("l1"))))
      .withColumn("slab",
        when(col("l2").isin(PSL2: _*), 2)
          .when(col("l1").isin(PSL1: _*), 1)
          .otherwise(0))
      .select(
        col("host"),
        when(col("slab") === 2, col("l2"))
          .when(col("slab") === 1, col("l1"))
          .otherwise(lit("")).as("psl"),
        when(col("slab") > 0 && col("n") > col("slab"),
          expr("array_join(slice(p, n - slab, slab + 1), '.')"))
          .otherwise(lit("")).as("domain"))
      .orderBy("host")
  }

  val exDomainSql: String = {
    val H = StructuredCorpus.RAWHOSTS_PQ
    val in2 = PSL2.map(s => s"'$s'").mkString(", ")
    val in1 = PSL1.map(s => s"'$s'").mkString(", ")
    s"""WITH q AS (
       |  SELECT host, string_split(host, '.') AS p, len(string_split(host, '.')) AS n
       |  FROM $H),
       |s AS (
       |  SELECT host, p, n,
       |         p[n] AS l1,
       |         CASE WHEN n >= 2 THEN p[n-1] || '.' || p[n] END AS l2
       |  FROM q),
       |c AS (
       |  SELECT host, p, n, l1, l2,
       |         CASE WHEN l2 IN ($in2) THEN 2
       |              WHEN l1 IN ($in1) THEN 1
       |              ELSE 0 END AS slab
       |  FROM s)
       |SELECT host,
       |       CASE WHEN slab = 2 THEN l2 WHEN slab = 1 THEN l1 ELSE '' END AS psl,
       |       CASE WHEN slab > 0 AND n > slab
       |            THEN array_to_string(p[n - slab : n], '.')
       |            ELSE '' END AS domain
       |FROM c ORDER BY host""".stripMargin
  }

  // ---- TrustRank (seed-personalized integer PageRank) -----------------------

  /** Four TrustRank iterations in EXACT parts-per-billion integer
    * arithmetic: trust mass starts entirely on the [[SEED_HOSTS]] and the
    * teleport term returns ONLY to them (`r' = seed·(15e7 div |seeds|) +
    * (85·Σ_in (r div odeg)) div 100`, identical `div` truncation in both
    * engines) — the spam-demotion measure (Gyöngyi et al., VLDB 2004):
    * hosts whose trust stays 0 after k rounds are ≥k link-hops from
    * anything trusted, the strongest cheap spam prior a frontier budgeter
    * has. Differs from q_pagerank in exactly the two ways TrustRank
    * differs from PageRank: personalized teleport vector and a REAL edge
    * table (out-degrees measured, not formulaic). Sinks leak mass
    * (unnormalized, same documented truncation as q_pagerank).
    *
    * Scale shape: per-iteration ONE contribution shuffle (groupBy dst) +
    * a key-partitioned join back to nodes; lineage cut per round; 4 rounds
    * fixed. The zero-trust frontier never needs to materialize — absent
    * rows coalesce to the teleport-only value.
    */
  def exTrustrank(spark: SparkSession, sfDir: String): DataFrame =
    trustrankOver(StructuredCorpus.hostedges(spark), SEED_HOSTS).orderBy("host")

  /** Pipeline form over any (src, dst) edge list. */
  private[graft] def trustrankOver(edgesIn: DataFrame, seedList: Seq[String]): DataFrame = {
    val e = edgesIn.localCheckpoint()
    val odeg = e.groupBy("src").agg(count(lit(1)).as("odeg"))
    val edges = e.join(odeg, Seq("src")).localCheckpoint()
    val nodes = e.select(col("src").as("host"))
      .union(e.select(col("dst").as("host"))).distinct().localCheckpoint()
    val nSeeds = seedList.size
    def isSeed(c: Column) = c.isin(seedList: _*)
    var r = nodes.select(col("host"),
      when(isSeed(col("host")), lit(1000000000L / nSeeds))
        .otherwise(lit(0L)).as("r"))
    for (_ <- 1 to 4) {
      val contrib = r.join(edges, r("host") === edges("src"))
        .groupBy("dst").agg(sum(expr("r div odeg")).as("s"))
      r = nodes.join(contrib, nodes("host") === contrib("dst"), "left")
        .select(nodes("host"),
          (when(isSeed(nodes("host")), lit(150000000L / nSeeds)).otherwise(lit(0L)) +
            expr("(85 * coalesce(s, CAST(0 AS BIGINT))) div 100")).as("r"))
        .localCheckpoint()
    }
    r
  }

  val exTrustrankSql: String = {
    val E = StructuredCorpus.HOSTEDGES_PQ
    val seeds = SEED_HOSTS.map(s => s"'$s'").mkString(", ")
    val nSeeds = SEED_HOSTS.size
    def step(prev: String, cur: String): String =
      s"""$cur AS (
         |  SELECT n.host,
         |         CASE WHEN n.host IN ($seeds) THEN ${150000000L / nSeeds} ELSE 0 END
         |           + (85 * coalesce(sum(p.r // ed.odeg), 0)) // 100 AS r
         |  FROM nodes n
         |  LEFT JOIN ed ON ed.dst = n.host
         |  LEFT JOIN $prev p ON p.host = ed.src
         |  GROUP BY n.host)""".stripMargin
    s"""WITH e AS (SELECT src, dst FROM $E),
       |deg AS (SELECT src, count(*) AS odeg FROM e GROUP BY src),
       |ed AS (SELECT e.src, e.dst, deg.odeg FROM e JOIN deg ON deg.src = e.src),
       |nodes AS (SELECT src AS host FROM e UNION SELECT dst FROM e),
       |r0 AS (SELECT host,
       |              CASE WHEN host IN ($seeds) THEN ${1000000000L / nSeeds}
       |                   ELSE 0 END AS r
       |       FROM nodes),
       |${step("r0", "r1")},
       |${step("r1", "r2")},
       |${step("r2", "r3")},
       |${step("r3", "r4")}
       |SELECT host, CAST(r AS BIGINT) AS r FROM r4 ORDER BY host""".stripMargin
  }

  // ---- sitemap frontier backlog (declared vs crawled) ------------------------

  /** Per-host frontier backlog: sitemap-declared urls not yet in the crawl
    * log — the gap table a frontier scheduler drains first (site-declared
    * urls are the cheapest high-precision frontier there is), and the
    * coverage metric a crawl SLA reports. Off-sitemap crawled urls (link /
    * feed discoveries) are ignored by construction — backlog is declared
    * MINUS crawled-within-declared and can never go negative.
    *
    * Scale shape: sitemap locs are frontier-sized, the crawl log is
    * corpus-sized — the join keys on url so the log side is pruned to one
    * column, partial-agg'd by the join itself; the per-host rollup rides a
    * second (host) exchange on the frontier-sized survivor set.
    */
  def exBacklog(spark: SparkSession, sfDir: String): DataFrame = {
    val locs = StructuredCorpus.sitemaps(spark)
      .select(col("host"),
        from_xml(col("sitemap_xml"), Structured.SITEMAP_SCHEMA).as("p"))
      .select(col("host"), explode(col("p.url")).as("u"))
      .select(col("host"), col("u.loc").as("loc"))
    val crawledSet = StructuredCorpus.crawled(spark)
      .select(col("url").as("loc")).distinct()
      .withColumn("hit", lit(1L))
    locs.join(crawledSet, Seq("loc"), "left")
      .groupBy("host")
      .agg(count(lit(1)).as("n_sitemap"),
        sum(coalesce(col("hit"), lit(0L))).as("n_crawled"))
      .select(col("host"), col("n_sitemap"), col("n_crawled"),
        (col("n_sitemap") - col("n_crawled")).as("n_backlog"))
      .orderBy("host")
  }

  val exBacklogSql: String = {
    val S = StructuredCorpus.SITEMAPS_PQ
    val C = StructuredCorpus.CRAWLED_PQ
    s"""WITH m AS (
       |  SELECT host, regexp_extract_all(sitemap_xml, '<url>(.*?)</url>', 1) es
       |  FROM $S),
       |e AS (
       |  SELECT host, regexp_extract(entry, '<loc>(.*?)</loc>', 1) loc
       |  FROM (SELECT host, unnest(es) AS entry FROM m)),
       |c AS (SELECT DISTINCT url FROM $C),
       |j AS (
       |  SELECT e.host, CASE WHEN c.url IS NULL THEN 0 ELSE 1 END hit
       |  FROM e LEFT JOIN c ON c.url = e.loc)
       |SELECT host, CAST(count(*) AS BIGINT) AS n_sitemap,
       |       CAST(sum(hit) AS BIGINT) AS n_crawled,
       |       CAST(count(*) - sum(hit) AS BIGINT) AS n_backlog
       |FROM j GROUP BY host ORDER BY host""".stripMargin
  }

  // ---- URL-pattern bitext alignment (CCAligned / WikiMatrix trick) ------------

  /** Language codes the aligner recognizes as a path segment. */
  val BITEXT_LANGS = Seq("en", "fr", "de", "es")

  /** Translation-pair candidates by URL pattern: two urls whose paths are
    * identical except for the language segment are declared variants of one
    * document (the CCAligned/WikiMatrix URL-matching trick — the highest-
    * precision zero-text bitext miner at crawl scale; candidate pairs then
    * go to an alignment scorer). Key = url with its language segment
    * wildcarded; pairs = same key, different language, url_a < url_b.
    * Corpus precondition (documented in staging): exactly one language
    * segment per url, so Spark's replace-all regexp equals DuckDB's
    * replace-first.
    *
    * Scale shape: one key hash exchange for the self-join; pairs per key
    * are bounded by C(|langs|, 2) — candidate volume is linear in urls,
    * never quadratic (the key IS the document identity).
    */
  def exBitext(spark: SparkSession, sfDir: String): DataFrame = {
    val pat = s"/(${BITEXT_LANGS.mkString("|")})/"
    val d = StructuredCorpus.l10nurls(spark)
      .withColumn("lang", regexp_extract(col("url"), pat, 1))
      .filter(col("lang") =!= "")
      .withColumn("k", regexp_replace(col("url"), pat, "/*/"))
      .localCheckpoint()
    d.as("a").join(d.as("b"),
        col("a.k") === col("b.k") && col("a.url") < col("b.url") &&
          col("a.lang") =!= col("b.lang"))
      .select(col("a.url").as("url_a"), col("a.lang").as("lang_a"),
        col("b.url").as("url_b"), col("b.lang").as("lang_b"))
      .orderBy("url_a", "url_b")
  }

  val exBitextSql: String = {
    val U = StructuredCorpus.L10NURLS_PQ
    val pat = s"/(${BITEXT_LANGS.mkString("|")})/"
    s"""WITH d AS (
       |  SELECT url,
       |         coalesce(regexp_extract(url, '$pat', 1), '') AS lang,
       |         regexp_replace(url, '$pat', '/*/') AS k
       |  FROM $U),
       |f AS (SELECT * FROM d WHERE lang <> '')
       |SELECT a.url AS url_a, a.lang AS lang_a,
       |       b.url AS url_b, b.lang AS lang_b
       |FROM f a JOIN f b
       |  ON a.k = b.k AND a.url < b.url AND a.lang <> b.lang
       |ORDER BY url_a, url_b""".stripMargin
  }

  // ---- canonical-URL mapping (priority election + chain resolution) ----------

  /** Canonical-URL assignment over the consolidated alias-edge table — the
    * composition the dedup frontier actually runs: a url may declare SEVERAL
    * alias kinds at once, so per url the strongest wins FIRST (http redirect
    * is server-authoritative > rel=canonical is site-declared > amp is a
    * mirror hint; dst tiebreak for determinism), making the graph functional
    * — and THEN the elected chains resolve by pointer doubling to their
    * terminal canonical (or flag as cycle members/feeders). Conflicting
    * lower-priority declarations are planted in staging: if one ever won,
    * resolution would observably diverge to a decoy target.
    *
    * Scale: the election is one src-keyed window riding the hash exchange
    * the first doubling round needs anyway; the doubling inherits the
    * ⌈log₂L⌉-shuffle shape of ex_redirects.
    */
  def exCanonmap(spark: SparkSession, sfDir: String): DataFrame = {
    val e = StructuredCorpus.canonedges(spark)
      .withColumn("pr",
        when(col("kind") === "http", 0)
          .when(col("kind") === "canonical", 1).otherwise(2))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("src").orderBy(col("pr"), col("dst"))
    val elected = e.withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1).select("src", "dst")
    resolveChains(elected).orderBy("src")
  }

  val exCanonmapSql: String = {
    val E = StructuredCorpus.CANONEDGES_PQ
    val cap = 1 << REDIRECT_ROUNDS
    s"""WITH RECURSIVE pe AS (
       |  SELECT src, dst,
       |         CASE kind WHEN 'http' THEN 0 WHEN 'canonical' THEN 1
       |              ELSE 2 END AS pr
       |  FROM $E),
       |el AS (
       |  SELECT src, dst FROM (
       |    SELECT src, dst,
       |           row_number() OVER (PARTITION BY src ORDER BY pr, dst) rn
       |    FROM pe) WHERE rn = 1),
       |chain AS (
       |  SELECT src, dst, 1 AS hops FROM el
       |  UNION ALL
       |  SELECT c.src, x.dst, c.hops + 1
       |  FROM chain c JOIN el x ON c.dst = x.src
       |  WHERE c.hops < $cap),
       |term AS (
       |  SELECT c.src, c.dst, c.hops FROM chain c
       |  WHERE c.dst NOT IN (SELECT src FROM el)),
       |srcs AS (SELECT DISTINCT src FROM el)
       |SELECT s.src,
       |       coalesce(t.dst, '') AS final_url,
       |       CAST(coalesce(t.hops, -1) AS BIGINT) AS n_hops,
       |       CAST(CASE WHEN t.src IS NULL THEN 1 ELSE 0 END AS BIGINT) AS is_cycle
       |FROM srcs s LEFT JOIN term t ON s.src = t.src
       |ORDER BY s.src""".stripMargin
  }

  // ---- IDN homoglyph spoof detection ----------------------------------------

  /** Cyrillic→Latin confusable classes the skeleton folds (the high-traffic
    * subset of Unicode TR39's confusables table; production ships the full
    * table the same way — two literal strings feeding `translate`).
    */
  val CONF_FROM = "аеорсх"
  val CONF_TO = "aeopcx"

  /** IDN homograph spoof report — the crawl-security pass over the host
    * inventory (TR39 skeleton idea): fold confusable characters to their
    * Latin skeletons; a host CHANGED by the fold is mixed-script, and when
    * its skeleton collides with a pure-ASCII host it is a spoof CANDIDATE
    * attributed to that host (phishing takedown queue); confusable hosts
    * with no collision report unattributed. Pure hosts never appear.
    *
    * Scale: the skeleton is one codegen'd `translate` per row; the
    * attribution join keys on skeleton with the pure side host-table-sized
    * (broadcast in practice) — one exchange end to end.
    */
  def exHomoglyph(spark: SparkSession, sfDir: String): DataFrame = {
    val h = StructuredCorpus.idnhosts(spark)
      .withColumn("sk", translate(col("host"), CONF_FROM, CONF_TO))
    val pure = h.filter(col("host") === col("sk"))
      .select(col("sk"), col("host").as("legit"))
    h.filter(col("host") =!= col("sk"))
      .join(pure, Seq("sk"), "left")
      .select(col("host"), col("sk").as("skeleton"),
        coalesce(col("legit"), lit("")).as("spoof_of"))
      .orderBy("host")
  }

  val exHomoglyphSql: String = {
    val H = StructuredCorpus.IDNHOSTS_PQ
    s"""WITH h AS (
       |  SELECT host, translate(host, '$CONF_FROM', '$CONF_TO') AS sk
       |  FROM $H),
       |pure AS (SELECT sk, host AS legit FROM h WHERE host = sk),
       |mixed AS (SELECT host, sk FROM h WHERE host <> sk)
       |SELECT m.host, m.sk AS skeleton, coalesce(p.legit, '') AS spoof_of
       |FROM mixed m LEFT JOIN pure p ON p.sk = m.sk
       |ORDER BY m.host""".stripMargin
  }

  // ---- link reciprocity (link-farm signal) -----------------------------------

  /** Per-host out-edge reciprocity: how many of a host's out-links are
    * returned (the reverse edge exists) — organic citation graphs are
    * heavily asymmetric while link farms and "link exchange" rings
    * reciprocate by construction, so ratio_x1000 near 1000 is a strong
    * cheap spam prior (used beside the ex_linkstats fan-out features).
    *
    * Scale: one self left-join of the edge list on the REVERSED key — both
    * sides hash on (src, dst)/(dst, src), volume linear in edges; the
    * per-host rollup combines map-side.
    */
  def exReciprocity(spark: SparkSession, sfDir: String): DataFrame = {
    val e = StructuredCorpus.hostedges(spark)
    val rev = e.select(col("dst").as("src"), col("src").as("dst"))
      .withColumn("back", lit(1L)).distinct()
    e.join(rev, Seq("src", "dst"), "left")
      .groupBy(col("src").as("host"))
      .agg(count(lit(1)).as("n_out"),
        sum(coalesce(col("back"), lit(0L))).as("n_recip"))
      .select(col("host"), col("n_out"), col("n_recip"),
        expr("(1000 * n_recip) div n_out").as("ratio_x1000"))
      .orderBy("host")
  }

  val exReciprocitySql: String = {
    val E = StructuredCorpus.HOSTEDGES_PQ
    s"""WITH e AS (SELECT src, dst FROM $E),
       |rev AS (SELECT DISTINCT dst AS src, src AS dst, 1 AS back FROM e),
       |j AS (
       |  SELECT e.src, CASE WHEN rev.back IS NULL THEN 0 ELSE 1 END AS back
       |  FROM e LEFT JOIN rev ON rev.src = e.src AND rev.dst = e.dst)
       |SELECT src AS host, CAST(count(*) AS BIGINT) AS n_out,
       |       CAST(sum(back) AS BIGINT) AS n_recip,
       |       CAST((1000 * sum(back)) // count(*) AS BIGINT) AS ratio_x1000
       |FROM j GROUP BY src ORDER BY host""".stripMargin
  }

  // ---- host-mirror detection (site-mirror collapse) ---------------------------

  /** Mirror-host detection (`dd_mirror`): host pairs whose CONTENT-
    * fingerprint sets overlap at Jaccard ≥ 1/2 — the site-mirror collapse a
    * web corpus runs before host-level dedup budgets (a mirror family
    * otherwise multiplies its content's weight by the mirror count). The
    * fingerprint (md5 of text), not the url, is what matches — exactly what
    * a mirror is; template chrome is assumed stripped upstream
    * (`ex_hostclean`), so fingerprints are content, not boilerplate.
    *
    * Exact integer rule: J ≥ 1/2 ⇔ 3·|∩| ≥ |A|+|B| (set sizes count
    * DISTINCT fingerprints). Scale shape: the pair candidates come from the
    * fingerprint-INVERTED index (fp → hosts) met in a self equi-join — a
    * pair is only ever formed through a shared fingerprint, so candidate
    * volume is Σ_fp C(df,2), linear in docs while mirrors are rare and df
    * per content fp is the mirror multiplicity (web-wide boilerplate fps
    * belong to ex_hostlines' removal, the df-cap complement); per-host set
    * sizes are a broadcast-sized side. Never an all-pairs host join.
    */
  def ddMirror(spark: SparkSession, sfDir: String): DataFrame =
    mirrorOver(StructuredCorpus.mirrordocs(spark))

  /** The parameterized core over any (host, text) frame, behind the
    * staged-corpus query.
    */
  def mirrorOver(docs: DataFrame): DataFrame = {
    val fps = docs
      .select(col("host"), md5(col("text")).as("fp")).distinct()
    val sizes = fps.groupBy("host").agg(count(lit(1)).as("n"))
    val common = fps.as("a").join(fps.as("b"),
        col("a.fp") === col("b.fp") && col("a.host") < col("b.host"))
      .groupBy(col("a.host").as("host_a"), col("b.host").as("host_b"))
      .agg(count(lit(1)).as("n_common"))
    common
      .join(broadcast(sizes.withColumnRenamed("host", "host_a")
        .withColumnRenamed("n", "n_a")), Seq("host_a"))
      .join(broadcast(sizes.withColumnRenamed("host", "host_b")
        .withColumnRenamed("n", "n_b")), Seq("host_b"))
      .filter(lit(3) * col("n_common") >= col("n_a") + col("n_b"))
      .select(col("host_a"), col("host_b"), col("n_a"), col("n_b"),
        col("n_common"),
        expr("(1000 * n_common) div (n_a + n_b - n_common)").as("jacc_x1000"))
      .orderBy("host_a", "host_b")
  }

  val ddMirrorSql: String = {
    val M = StructuredCorpus.MIRRORDOCS_PQ
    s"""WITH fps AS (SELECT DISTINCT host, md5(text) fp FROM $M),
       |sz AS (SELECT host, count(*) n FROM fps GROUP BY host),
       |common AS (
       |  SELECT a.host host_a, b.host host_b, count(*) n_common
       |  FROM fps a JOIN fps b ON a.fp = b.fp AND a.host < b.host
       |  GROUP BY 1, 2)
       |SELECT host_a, host_b, sa.n n_a, sb.n n_b, n_common,
       |       CAST((1000 * n_common) // (sa.n + sb.n - n_common) AS BIGINT) jacc_x1000
       |FROM common
       |JOIN sz sa ON sa.host = host_a
       |JOIN sz sb ON sb.host = host_b
       |WHERE 3 * n_common >= sa.n + sb.n
       |ORDER BY host_a, host_b""".stripMargin
  }

  // ---- community detection (synchronous label propagation) --------------------

  /** Label-propagation communities (`ex_communities`, Raghavan et al. 2007,
    * synchronous variant): every node starts as its own label; each round,
    * every node adopts its neighbors' MOST FREQUENT label (count desc, then
    * lexicographically least — fully deterministic). Four fixed rounds —
    * density-based communities where dd_components gives mere connectivity:
    * the bridged cliques here are ONE component but four communities, the
    * distinction a topical-cluster / spam-neighborhood rollup needs.
    *
    * Synchronous + fixed-rounds is the determinism trade: the classic
    * bipartite oscillator (the planted star) never converges, it flips
    * phase each round — both engines reproduce the phase exactly, and the
    * spec pins it as the documented pathology async variants exist to fix.
    *
    * Scale shape: each round is ONE neighbor-label exchange (groupBy (node,
    * label) partial-aggs map-side — a hub's repeated labels pre-combine)
    * plus the argmax window on the per-node candidate set (bounded by
    * distinct neighbor labels, ≤ degree); labels join back by node key.
    * Rounds are fixed (4), lineage cut per round via localCheckpoint —
    * identical cost shape to ex_trustrank/ex_hits.
    */
  /** The parameterized core: sync LPA over any directed edge DF (symmetrized
    * here), `rounds` fixed iterations, behind the staged-corpus query.
    */
  def communitiesOver(e0: DataFrame, rounds: Int = 4): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val ed = e0.union(e0.select(col("dst").as("src"), col("src").as("dst")))
      .distinct().localCheckpoint()
    val nodes = ed.select(col("src").as("node")).distinct()
    var labels = nodes.withColumn("label", col("node")).localCheckpoint()
    val w = Window.partitionBy("node").orderBy(desc("c"), col("label"))
    for (_ <- 1 to rounds) {
      val next = ed.join(labels.withColumnRenamed("node", "src"), Seq("src"))
        .groupBy(col("dst").as("node"), col("label"))
        .agg(count(lit(1)).as("c"))
        .withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
        .select("node", "label")
      // isolated nodes (none here, but the contract) keep their label
      labels = nodes.join(next, Seq("node"), "left")
        .select(col("node"), coalesce(col("label"), col("node")).as("label"))
        .localCheckpoint()
    }
    labels
  }

  def exCommunities(spark: SparkSession, sfDir: String): DataFrame =
    communitiesOver(StructuredCorpus.commedges(spark)).orderBy("node")

  val exCommunitiesSql: String = {
    val E = StructuredCorpus.COMMEDGES_PQ
    def round(prev: String, cur: String): String =
      s"""$cur AS (
         |  SELECT n.node, coalesce(p.lbl, n.node) lbl FROM nodes n
         |  LEFT JOIN (
         |    SELECT node, lbl FROM (
         |      SELECT e.dst node, l.lbl, count(*) c,
         |             row_number() OVER (PARTITION BY e.dst
         |                                ORDER BY count(*) DESC, l.lbl) rn
         |      FROM ed e JOIN $prev l ON l.node = e.src
         |      GROUP BY e.dst, l.lbl)
         |    WHERE rn = 1) p ON p.node = n.node)""".stripMargin
    s"""WITH e0 AS (SELECT src, dst FROM $E),
       |ed AS (SELECT DISTINCT * FROM
       |        (SELECT src, dst FROM e0 UNION ALL SELECT dst, src FROM e0)),
       |nodes AS (SELECT DISTINCT src node FROM ed),
       |r0 AS (SELECT node, node lbl FROM nodes),
       |${round("r0", "r1")},
       |${round("r1", "r2")},
       |${round("r2", "r3")},
       |${round("r3", "r4")}
       |SELECT node, lbl AS "label" FROM r4 ORDER BY node""".stripMargin
  }

  // ---- registration -----------------------------------------------------------

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "ex_hostlines" -> (exHostlines _),
    "ex_hostclean" -> (exHostclean _),
    "ex_linkstats" -> (exLinkstats _),
    "ex_urltemplate" -> (exUrltemplate _),
    "ex_freshness" -> (exFreshness _),
    "ta_clean" -> (taClean _),
    "ta_seglang" -> (taSeglang _),
    "ex_hostgraph" -> (exHostgraph _),
    "ex_redirects" -> (exRedirects _),
    "ex_seeddepth" -> (exSeeddepth _),
    "ex_hits" -> (exHits _),
    "ex_cocite" -> (exCocite _),
    "ex_domain" -> (exDomain _),
    "ex_trustrank" -> (exTrustrank _),
    "ex_backlog" -> (exBacklog _),
    "ex_bitext" -> (exBitext _),
    "ex_canonmap" -> (exCanonmap _),
    "ex_homoglyph" -> (exHomoglyph _),
    "ex_reciprocity" -> (exReciprocity _),
    "dd_mirror" -> (ddMirror _),
    "ex_communities" -> (exCommunities _)
  )

  val oracles: Map[String, String] = Map(
    "ex_hostlines" -> exHostlinesSql,
    "ex_hostclean" -> exHostcleanSql,
    "ex_linkstats" -> exLinkstatsSql,
    "ex_urltemplate" -> exUrltemplateSql,
    "ex_freshness" -> exFreshnessSql,
    "ta_clean" -> taCleanSql,
    "ta_seglang" -> taSeglangSql,
    "ex_hostgraph" -> exHostgraphSql,
    "ex_redirects" -> exRedirectsSql,
    "ex_seeddepth" -> exSeeddepthSql,
    "ex_hits" -> exHitsSql,
    "ex_cocite" -> exCociteSql,
    "ex_domain" -> exDomainSql,
    "ex_trustrank" -> exTrustrankSql,
    "ex_backlog" -> exBacklogSql,
    "ex_bitext" -> exBitextSql,
    "ex_canonmap" -> exCanonmapSql,
    "ex_homoglyph" -> exHomoglyphSql,
    "ex_reciprocity" -> exReciprocitySql,
    "dd_mirror" -> ddMirrorSql,
    "ex_communities" -> exCommunitiesSql
  )
}
