package graft.operators

import graft.sources.OracleCorpus
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Driver-oracle surface for the extraction pipeline itself (SURVEY.md §5.4):
  * the Spark side runs the relational twin of production extraction
  * ([[Extract.classifiedBlocks]], [[Extract.lines]], [[Extract.assembled]])
  * over the materialized blocks table; the DuckDB side re-implements the
  * same semantics in independent ANSI SQL over the identical parquet.
  * GoldenSpec ties the twin byte-for-byte to the production map. A mismatch in any classification
  * threshold, window frame, ordering tie-break, or join would surface here.
  *
  * The tokenizer itself (blocks ← raw bytes) is procedural and non-SQL; it is
  * verified by golden byte-identity + ScalaCheck property tests instead.
  */
object ExtractOracle {

  private val B = OracleCorpus.BLOCKS_PQ
  private val D = OracleCorpus.DOCS_PQ

  /** Shared DuckDB CTE chain replicating Classify semantics over blocks. */
  private val SQL_CLASSIFY_CTES =
    s"""cand AS (
       |  SELECT url, seq, tag, kind, text, textLen, linkChars, parentSeq, x, y, depth,
       |         (100 * linkChars) // greatest(textLen, 1) AS ld
       |  FROM $B WHERE (flags & 2) = 0 AND (flags & 1) = 0),
       |d1 AS (
       |  SELECT *,
       |         (kind = 'html' AND ((textLen >= 25 AND ld < 33)
       |            OR (tag IN ('h1','h2','h3','h4','h5','h6')
       |                AND textLen >= 8 AND linkChars = 0))) AS dense
       |  FROM cand),
       |d2 AS (
       |  SELECT *,
       |         CASE WHEN dense THEN CAST(textLen AS BIGINT) - 2 * linkChars END AS contrib
       |  FROM d1),
       |best AS (
       |  SELECT url, parentSeq AS bp
       |  FROM (SELECT url, parentSeq, sum(contrib) ps
       |        FROM d2 WHERE dense GROUP BY url, parentSeq)
       |  QUALIFY row_number() OVER (PARTITION BY url ORDER BY ps DESC, parentSeq ASC) = 1),
       |d3 AS (
       |  SELECT d2.*,
       |         (NOT dense AND bp IS NOT NULL AND parentSeq = bp
       |          AND ld < 33 AND textLen >= 10 AND kind = 'html') AS boost
       |  FROM d2 LEFT JOIN best ON d2.url = best.url),
       |d4 AS (SELECT *, (dense OR boost) AS base FROM d3),
       |d5 AS (
       |  SELECT *,
       |         (kind = 'pdf' OR base OR (
       |            coalesce(lag(base)  OVER (PARTITION BY url ORDER BY seq), false)
       |            AND coalesce(lead(base) OVER (PARTITION BY url ORDER BY seq), false)
       |            AND ld < 33)) AS kept
       |  FROM d4)""".stripMargin

  private val SQL_LINES_CTES =
    s"""$SQL_CLASSIFY_CTES,
       |ordered AS (
       |  SELECT url, kind, seq, text, x, y,
       |         CASE WHEN kind = 'pdf' THEN depth ELSE 0 END k0,
       |         CASE WHEN kind = 'pdf' THEN -y ELSE seq END k1,
       |         CASE WHEN kind = 'pdf' THEN x  ELSE 0   END k2,
       |         CASE WHEN kind = 'pdf' THEN seq ELSE 0  END k3
       |  FROM d5 WHERE kept),
       |marked AS (
       |  SELECT *,
       |         lag(y) OVER w AS prevY,
       |         CASE WHEN kind <> 'pdf' THEN 1
       |              WHEN lag(y) OVER w IS NULL THEN 1
       |              WHEN lag(k0) OVER w <> k0 THEN 1
       |              WHEN lag(y) OVER w - y > 3 THEN 1
       |              ELSE 0 END AS newLine
       |  FROM ordered
       |  WINDOW w AS (PARTITION BY url ORDER BY k0, k1, k2, k3)),
       |numbered AS (
       |  SELECT *,
       |         CAST(sum(newLine) OVER (PARTITION BY url ORDER BY k0, k1, k2, k3
       |                                 ROWS UNBOUNDED PRECEDING) AS BIGINT) AS lineId
       |  FROM marked),
       |lines AS (
       |  SELECT url, lineId,
       |         string_agg(text, ' ' ORDER BY x, seq) AS lineText,
       |         CAST(min(seq) AS BIGINT) AS sourceSeq,
       |         count(*) AS nRows
       |  FROM numbered GROUP BY url, lineId)""".stripMargin

  // ---- queries -----------------------------------------------------------

  def exClassify(spark: SparkSession, sfDir: String): DataFrame =
    Extract.classifiedBlocks(OracleCorpus.blocks(spark))
      .select(
        col("url"), col("seq").cast("long").as("seq"),
        col("dense"), col("base"), col("kept"),
        col("ld").cast("long").as("ld")
      )
      .orderBy("url", "seq")

  val exClassifySql: String =
    s"""WITH $SQL_CLASSIFY_CTES
       |SELECT url, CAST(seq AS BIGINT) seq, dense, base, kept, CAST(ld AS BIGINT) ld
       |FROM d5 ORDER BY url, seq""".stripMargin

  def exLines(spark: SparkSession, sfDir: String): DataFrame =
    Extract.lines(Extract.classifiedBlocks(OracleCorpus.blocks(spark)))
      .select(
        col("url"), col("lineId").cast("long").as("lineId"),
        col("lineText"), col("sourceSeq").cast("long").as("sourceSeq"),
        col("nRows")
      )
      .orderBy("url", "lineId")

  val exLinesSql: String =
    s"""WITH $SQL_LINES_CTES
       |SELECT url, lineId, lineText, sourceSeq, nRows
       |FROM lines ORDER BY url, lineId""".stripMargin

  def exDocs(spark: SparkSession, sfDir: String): DataFrame =
    Extract.assembled(Extract.lines(Extract.classifiedBlocks(OracleCorpus.blocks(spark))))
      .select(col("url"), col("atext").as("text"), col("keptRows"))
      .orderBy("url")

  val exDocsSql: String =
    s"""WITH $SQL_LINES_CTES
       |SELECT url,
       |       string_agg(lineText, chr(10) ORDER BY lineId) AS text,
       |       CAST(sum(nRows) AS BIGINT) AS keptRows
       |FROM lines GROUP BY url ORDER BY url""".stripMargin

  /** Coverage metrics rollup over the final extracted docs (A6 shape). */
  def exStats(spark: SparkSession, sfDir: String): DataFrame =
    OracleCorpus.docs(spark)
      .rollup("contentKind", "lang")
      .agg(
        count(lit(1)).as("n"),
        coalesce(sum(length(col("text"))), lit(0L)).as("chars"),
        coalesce(sum(col("nDropped")), lit(0L)).cast("long").as("dropped")
      )
      .orderBy(col("contentKind").asc_nulls_first, col("lang").asc_nulls_first)

  val exStatsSql: String =
    s"""SELECT contentKind, lang, count(*) n,
       |       CAST(coalesce(sum(length(text)), 0) AS BIGINT) chars,
       |       CAST(coalesce(sum(nDropped), 0) AS BIGINT) dropped
       |FROM $D GROUP BY ROLLUP(contentKind, lang)
       |ORDER BY contentKind ASC NULLS FIRST, lang ASC NULLS FIRST""".stripMargin

  // ---- language-ID over extracted text (marker-token heuristic) ----------

  private val MARKERS: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "quick", "brown", "fox", "water"),
    "de" -> Seq("der", "schnelle", "fuchs", "wasser", "stadt"),
    "es" -> Seq("el", "zorro", "agua", "ciudad", "jardín"),
    "fr" -> Seq("le", "renard", "eau", "ville", "lumière"),
    "zh" -> Seq("故事", "城市", "音乐", "道路", "问题")
  )

  def exLangid(spark: SparkSession, sfDir: String): DataFrame = {
    val toks = filter(
      split(regexp_replace(lower(col("text")), "[\n.。]", " "), " "),
      x => x =!= lit("")
    )
    var df = OracleCorpus.docs(spark)
      .filter(length(col("text")) > 0)
      .select(col("url"), col("lang"), toks.as("t"))
    for ((l, ws) <- MARKERS)
      df = df.withColumn(s"s_$l", size(filter(col("t"), x => x.isin(ws: _*))).cast("long"))
    val scores = MARKERS.map { case (l, _) => col(s"s_$l") }
    val allZero = scores.map(_ === 0L).reduce(_ && _)
    var pred: org.apache.spark.sql.Column = lit("und")
    // reverse precedence chain: earlier langs win ties
    for ((l, _) <- MARKERS.reverse)
      pred = when(
        MARKERS.filter(_._1 != l).map(o => col(s"s_$l") >= col(s"s_${o._1}")).reduce(_ && _),
        lit(l)
      ).otherwise(pred)
    df.select(
      col("url"), col("lang"),
      when(allZero, lit("und")).otherwise(pred).as("pred_lang")
    )
      .withColumn("is_match", col("pred_lang") === col("lang"))
      .orderBy("url")
  }

  val exLangidSql: String = {
    val scoreCols = MARKERS.map { case (l, ws) =>
      val lst = ws.map(w => s"'$w'").mkString(", ")
      s"CAST(len(list_filter(t, x -> x IN ($lst))) AS BIGINT) s_$l"
    }.mkString(",\n         ")
    val caseChain = MARKERS.map { case (l, _) =>
      val conds = MARKERS.filter(_._1 != l).map(o => s"s_$l >= s_${o._1}").mkString(" AND ")
      s"WHEN $conds THEN '$l'"
    }.mkString("\n              ")
    val allZero = MARKERS.map { case (l, _) => s"s_$l = 0" }.mkString(" AND ")
    s"""WITH toks AS (
       |  SELECT url, lang,
       |         list_filter(string_split(regexp_replace(lower(text), '[\\n.。]', ' ', 'g'), ' '),
       |                     x -> x <> '') t
       |  FROM $D WHERE length(text) > 0),
       |scored AS (
       |  SELECT url, lang,
       |         $scoreCols
       |  FROM toks)
       |SELECT url, lang,
       |       CASE WHEN $allZero THEN 'und'
       |              $caseChain
       |            ELSE 'und' END AS pred_lang,
       |       (CASE WHEN $allZero THEN 'und'
       |              $caseChain
       |            ELSE 'und' END) = lang AS is_match
       |FROM scored ORDER BY url""".stripMargin
  }

  // ---- host-stats broadcast-join enrichment (J3 + A4) --------------------

  /** Per-host doc stats joined back onto every doc with an explicit
    * broadcast hint — the skew-diagnosis join of SURVEY.md §2.4 J3: the
    * host-stats side is tiny (#hosts rows) at any corpus scale, so the big
    * side never shuffles.
    */
  def exHostJoin(spark: SparkSession, sfDir: String): DataFrame = {
    // parse_url is the named built-in (SURVEY.md §2.8); the DuckDB side uses
    // an equivalent regex (DuckDB has no URL parser). The regex stops at
    // '/' OR ':' and needs no trailing slash, so the two agree for any
    // scheme-prefixed URL without userinfo; a port would still diverge
    // (parse_url keeps it out of HOST) — corpus urls carry none.
    val docs = OracleCorpus.docs(spark)
      .withColumn("host", parse_url(col("url"), lit("HOST")))
    val stats = docs.groupBy("host")
      .agg(count(lit(1)).as("host_docs"),
        sum(length(col("text"))).as("host_chars"))
    docs
      .join(broadcast(stats), Seq("host"))
      .select(col("url"), col("host"), col("host_docs"), col("host_chars"))
      .orderBy("url")
  }

  val exHostJoinSql: String =
    s"""WITH d AS (
       |  SELECT url, regexp_extract(url, '^https?://([^/:]+)', 1) host, length(text) nc
       |  FROM $D),
       |stats AS (SELECT host, count(*) host_docs,
       |                 CAST(sum(nc) AS BIGINT) host_chars FROM d GROUP BY 1)
       |SELECT url, d.host, host_docs, host_chars
       |FROM d JOIN stats ON d.host = stats.host ORDER BY url""".stripMargin

  // ---- canonical-URL recrawl dedup (keep newest) ---------------------------

  /** URL-keyed recrawl dedup — the stage that runs BEFORE any content dedup
    * in a crawl pipeline: multiple fetches of the same logical page (tracking
    * params, fragments, later re-fetches) collapse to one kept fetch, the
    * NEWEST. Re-fetches are planted deterministically (every 4th url gains a
    * utm+fragment variant 7 days later). The keeper is an AGGREGATE argmax —
    * `max(struct(ts, raw))` — not a row_number window: partial aggregation
    * combines map-side, so a hot canonical URL (a page recrawled millions of
    * times) reduces to ONE row per map partition before the shuffle, where
    * the window formulation would sort the hot key's every fetch on one
    * reducer. The DuckDB oracle IS the window formulation — agreement proves
    * the argmax picks exactly the row_number()=1 row.
    */
  def exUrlDedup(spark: SparkSession, sfDir: String): DataFrame = {
    val base = OracleCorpus.docs(spark).select(col("url"), col("warc_ts"))
    val refetch = base
      .filter(expr(
        "CAST(coalesce(nullif(regexp_extract(url, '-([0-9]+)$', 1), ''), '0') AS BIGINT) % 4 = 1"))
      .select(concat(col("url"), lit("?utm_source=recrawl#frag")).as("raw"),
        expr("warc_ts + INTERVAL 7 DAY").as("ts"))
    val fetches = base.select(col("url").as("raw"), col("warc_ts").as("ts"))
      .unionByName(refetch)
    fetches
      .withColumn("canon",
        substring_index(substring_index(col("raw"), "#", 1), "?", 1))
      .groupBy("canon")
      .agg(count(lit(1)).as("n_fetches"),
        max(struct(col("ts").as("ts"), col("raw").as("raw"))).as("m"))
      .select(col("canon"), col("n_fetches"),
        col("m.raw").as("kept_url"), col("m.ts").as("kept_ts"))
      .orderBy("canon")
  }

  val exUrlDedupSql: String =
    s"""WITH base AS (SELECT url, warc_ts FROM $D),
       |f AS (
       |  SELECT url AS raw, warc_ts AS ts FROM base
       |  UNION ALL
       |  SELECT url || '?utm_source=recrawl#frag', warc_ts + INTERVAL 7 DAY
       |  FROM base
       |  WHERE CAST(coalesce(nullif(regexp_extract(url, '-([0-9]+)$$', 1), ''), '0')
       |             AS BIGINT) % 4 = 1),
       |c AS (SELECT str_split(str_split(raw, '#')[1], '?')[1] AS canon, raw, ts FROM f)
       |SELECT canon, n_fetches, raw AS kept_url, ts AS kept_ts
       |FROM (SELECT canon, raw, ts,
       |             count(*) OVER (PARTITION BY canon) n_fetches,
       |             row_number() OVER (PARTITION BY canon
       |                                ORDER BY ts DESC, raw DESC) rn
       |      FROM c)
       |WHERE rn = 1 ORDER BY canon""".stripMargin

  // ---- robots.txt compliance gate (RFC 9309 longest-match) ----------------

  /** robots.txt fetch-permission gate — the crawl-stack component that
    * decides whether each url may be fetched at all. Per host, a robots.txt
    * BODY is planted deterministically (every third host carries a dedicated
    * `graftbot` group above the `*` group); the parse is fully relational:
    * lines split + exploded with their ordinal, each rule line assigned to
    * its user-agent group by a LOCF carry-forward window over the preceding
    * `User-agent:` line (the gaps-and-islands trick applied to a config
    * format), the applicable group chosen per RFC 9309 (the specific agent's
    * group if one exists, else `*`), and each (host, path) probe decided by
    * LONGEST-MATCHING rule, Allow winning length ties — an aggregate argmax
    * `max(struct(rule_len, allow))`, no window over probes. Scale shape:
    * rules-per-host is tiny and broadcasts onto the probe stream; the only
    * corpus-width work is one (host, path) partial-agg'd groupBy.
    */
  def exRobots(spark: SparkSession, sfDir: String): DataFrame = {
    val probes = OracleCorpus.docs(spark)
      .withColumn("host", parse_url(col("url"), lit("HOST")))
      .withColumn("path", expr("substr(url, length(substring_index(url, '/', 3)) + 1)"))
      .select(col("url"), col("host"), col("path"))
    val hosts = probes.select(col("host")).distinct()
      .withColumn("h",
        expr("CAST(coalesce(nullif(regexp_extract(host, '([0-9]+)', 1), ''), '0') AS BIGINT)"))
      .withColumn("body", concat(
        when(col("h") % 3 === 0, lit(
          "User-agent: graftbot\nDisallow: /p/\nAllow: /p/4\n\n")).otherwise(lit("")),
        lit("User-agent: *\nDisallow: /admin/\nAllow: /\n")))
    val lines = hosts
      .select(col("host"), col("h"), posexplode(split(col("body"), "\n")))
      .withColumnRenamed("pos", "ln")
      .withColumn("directive", lower(trim(substring_index(col("col"), ":", 1))))
      .withColumn("value", trim(expr("substr(col, instr(col, ':') + 1)")))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("host").orderBy("ln")
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    val rules = lines
      .withColumn("ua",
        last(when(col("directive") === "user-agent", col("value")), ignoreNulls = true).over(w))
      .filter(col("directive").isin("allow", "disallow") && col("value") =!= "")
      .select(col("host"), col("ua"),
        col("value").as("rule"),
        (col("directive") === "allow").as("allow"))
    // RFC 9309 group choice: the specific agent's group when present, else *
    val hasBot = rules.filter(col("ua") === "graftbot")
      .select(col("host")).distinct().withColumn("has_bot", lit(true))
    val applicable = rules
      .join(hasBot, Seq("host"), "left")
      .filter(col("ua") === when(coalesce(col("has_bot"), lit(false)), "graftbot").otherwise("*"))
      .select(col("host"), col("rule"), col("allow"))
    probes
      .join(broadcast(applicable), Seq("host"))
      .filter(col("path").startsWith(col("rule")))
      .groupBy(col("url"), col("host"), col("path"))
      .agg(max(struct(length(col("rule")).as("l"), col("allow").as("a"))).as("m"))
      .select(col("url"), col("host"),
        col("m.a").as("allowed"), col("m.l").cast("long").as("rule_len"))
      .orderBy("url")
  }

  val exRobotsSql: String =
    s"""WITH probes AS (
       |  SELECT url, regexp_extract(url, '^https?://([^/:]+)', 1) host,
       |         substr(url, length(array_to_string(str_split(url, '/')[1:3], '/')) + 1) path
       |  FROM $D),
       |hosts AS (
       |  SELECT host,
       |         CAST(coalesce(nullif(regexp_extract(host, '([0-9]+)', 1), ''), '0') AS BIGINT) h
       |  FROM (SELECT DISTINCT host FROM probes)),
       |bodies AS (
       |  SELECT host,
       |         (CASE WHEN h % 3 = 0
       |               THEN 'User-agent: graftbot' || chr(10) || 'Disallow: /p/' || chr(10)
       |                    || 'Allow: /p/4' || chr(10) || chr(10)
       |               ELSE '' END)
       |         || 'User-agent: *' || chr(10) || 'Disallow: /admin/' || chr(10)
       |         || 'Allow: /' || chr(10) AS body
       |  FROM hosts),
       |lines AS (
       |  SELECT host, CAST(i - 1 AS BIGINT) ln,
       |         lower(trim(str_split(ls[i], ':')[1])) directive,
       |         trim(substr(ls[i], strpos(ls[i], ':') + 1)) v
       |  FROM (SELECT host, str_split(body, chr(10)) ls FROM bodies),
       |       unnest(generate_series(1, len(ls))) AS u(i)),
       |rules AS (
       |  SELECT host, ua, v AS rule, (directive = 'allow') AS allow
       |  FROM (SELECT *,
       |               last_value(CASE WHEN directive = 'user-agent' THEN v END IGNORE NULLS)
       |                 OVER (PARTITION BY host ORDER BY ln
       |                       ROWS UNBOUNDED PRECEDING) AS ua
       |        FROM lines)
       |  WHERE directive IN ('allow', 'disallow') AND v <> ''),
       |hasbot AS (SELECT DISTINCT host FROM rules WHERE ua = 'graftbot'),
       |applicable AS (
       |  SELECT r.host, r.rule, r.allow
       |  FROM rules r LEFT JOIN hasbot b ON r.host = b.host
       |  WHERE r.ua = CASE WHEN b.host IS NOT NULL THEN 'graftbot' ELSE '*' END),
       |matched AS (
       |  SELECT p.url, p.host, p.path, a.rule, a.allow
       |  FROM probes p JOIN applicable a ON p.host = a.host
       |  WHERE starts_with(p.path, a.rule))
       |SELECT url, host, allow AS allowed, rule_len
       |FROM (SELECT url, host, allow, CAST(length(rule) AS BIGINT) rule_len,
       |             row_number() OVER (PARTITION BY url, host, path
       |                                ORDER BY length(rule) DESC, allow DESC) rn
       |      FROM matched)
       |WHERE rn = 1 ORDER BY url""".stripMargin

  // ---- per-host crawl cadence (politeness audit) --------------------------

  /** Per-host crawl-cadence profile — the politeness audit a crawl scheduler
    * consumes: for every host, the number of inter-fetch gaps and their
    * min / max / exact median in integer seconds. Everything clusters on
    * `host`: the fetch-order lag window, the gap-rank window, the count
    * window, and the stats aggregate all ride ONE hashpartitioning(host)
    * exchange (the second window re-SORTS within partitions, it does not
    * re-shuffle). The median is rank-selected (lower median, deterministic
    * (gap, ts, url) tie-break) — exact integer order statistics, no
    * interpolation to drift between engines. At 100 TB this is one shuffle
    * of (host, ts) pairs — narrow rows — and hosts are plentiful, so the
    * key space is wide; a pathological single-host crawl would bound at
    * that host's fetch count, which is exactly the signal the audit exists
    * to surface.
    */
  def exCrawlRate(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val d = OracleCorpus.docs(spark)
      .withColumn("host", parse_url(col("url"), lit("HOST")))
      .select(col("host"), col("url"), col("warc_ts").cast("long").as("ts"))
    val wSeq = Window.partitionBy("host").orderBy(col("ts"), col("url"))
    val gaps = d
      .withColumn("gap_s", col("ts") - lag("ts", 1).over(wSeq))
      .filter(col("gap_s").isNotNull)
    val wGap = Window.partitionBy("host").orderBy(col("gap_s"), col("ts"), col("url"))
    val ranked = gaps
      .withColumn("rn", row_number().over(wGap).cast("long"))
      .withColumn("cnt", count(lit(1)).over(Window.partitionBy("host")))
    val med = ranked.filter(col("rn") === expr("(cnt + 1) div 2"))
      .select(col("host"), col("gap_s").as("median_gap_s"))
    gaps.groupBy("host")
      .agg(count(lit(1)).as("n_gaps"),
        min("gap_s").as("min_gap_s"), max("gap_s").as("max_gap_s"))
      .join(med, Seq("host"))
      .orderBy("host")
  }

  val exCrawlRateSql: String =
    s"""WITH d AS (
       |  SELECT regexp_extract(url, '^https?://([^/:]+)', 1) host, url,
       |         CAST(epoch(warc_ts) AS BIGINT) ts
       |  FROM $D),
       |g AS (
       |  SELECT host, url, ts,
       |         ts - lag(ts) OVER (PARTITION BY host ORDER BY ts, url) gap_s
       |  FROM d),
       |gg AS (SELECT * FROM g WHERE gap_s IS NOT NULL),
       |r AS (
       |  SELECT host, gap_s,
       |         row_number() OVER (PARTITION BY host ORDER BY gap_s, ts, url) rn,
       |         count(*) OVER (PARTITION BY host) cnt
       |  FROM gg),
       |med AS (SELECT host, gap_s AS median_gap_s FROM r WHERE rn = (cnt + 1) // 2),
       |agg AS (SELECT host, CAST(count(*) AS BIGINT) n_gaps,
       |               min(gap_s) min_gap_s, max(gap_s) max_gap_s FROM gg GROUP BY 1)
       |SELECT agg.host AS host, n_gaps, min_gap_s, max_gap_s, median_gap_s
       |FROM agg JOIN med ON agg.host = med.host ORDER BY host""".stripMargin

  // ---- crawl-frontier politeness scheduling --------------------------------

  private val CRAWL_DELAY_S = 5L
  private val N_WORKERS = 8L

  /** Frontier SCHEDULING — the planning op upstream of the fetch fleet (the
    * complement of `ex_crawlrate`'s after-the-fact cadence audit): per host,
    * urls get deterministic fetch slots spaced by the politeness delay
    * (crawl-delay semantics), and each host pins to ONE worker by hash so no
    * two workers ever hit a host concurrently — the invariant every polite
    * crawler ships. One window per host + a per-row hash; at 10^12 urls this
    * is the standard host-sharded frontier build, and a hot host's long slot
    * list is deliberate: the politeness delay, not the cluster, is the
    * bottleneck there.
    */
  def exSchedule(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val d = OracleCorpus.docs(spark)
      .withColumn("host", parse_url(col("url"), lit("HOST")))
      .select(col("host"), col("url"))
    val w = Window.partitionBy("host").orderBy(col("url"))
    d.withColumn("slot", (row_number().over(w) - 1).cast("long"))
      .withColumn("fetch_at_s", col("slot") * lit(CRAWL_DELAY_S))
      .withColumn("worker",
        expr(s"pmod(CAST(conv(substr(md5(host), 1, 8), 16, 10) AS BIGINT), $N_WORKERS)"))
      .orderBy("host", "slot")
  }

  val exScheduleSql: String =
    s"""WITH d AS (
       |  SELECT regexp_extract(url, '^https?://([^/:]+)', 1) host, url FROM $D),
       |s AS (
       |  SELECT host, url,
       |         CAST(row_number() OVER (PARTITION BY host ORDER BY url) - 1 AS BIGINT) slot
       |  FROM d)
       |SELECT host, url, slot, slot * $CRAWL_DELAY_S AS fetch_at_s,
       |       CAST(('0x' || substr(md5(host), 1, 8)) AS BIGINT) % $N_WORKERS AS worker
       |FROM s ORDER BY host, slot""".stripMargin

  // ---- salted two-phase aggregation (explicit skew handling) -------------

  /** Per-host stats via SALTED two-phase aggregation — the explicit
    * skew-handling pattern (B:14) as a first-class oracled operator: phase 1
    * groups by (host, salt) so a Zipf-hot host's rows spread over SALT
    * reducers; phase 2 folds the partials. Results are identical to the
    * direct groupBy (the oracle) — integer sums are associative — while the
    * hot key's shuffle fan-in drops from |host rows| to SALT rows.
    * (Spark's partial aggregation often hides this locally; the explicit
    * form is the insurance when partials are defeated — e.g. distinct-like
    * aggregates or high-cardinality accumulators.)
    */
  def exSalted(spark: SparkSession, sfDir: String): DataFrame = {
    val SALT = 16
    val d = OracleCorpus.docs(spark)
      .withColumn("host", parse_url(col("url"), lit("HOST")))
      .withColumn("salt", pmod(xxhash64(col("url")), lit(SALT)))
    d.groupBy("host", "salt")
      .agg(count(lit(1)).as("pn"), coalesce(sum(length(col("text"))), lit(0L)).as("pc"))
      .groupBy("host")
      .agg(sum(col("pn")).as("n_docs"), sum(col("pc")).as("chars"))
      .orderBy("host")
  }

  val exSaltedSql: String =
    s"""SELECT regexp_extract(url, '^https?://([^/:]+)', 1) host,
       |       count(*) n_docs,
       |       CAST(coalesce(sum(length(text)), 0) AS BIGINT) chars
       |FROM $D GROUP BY 1 ORDER BY host""".stripMargin

  // ---- salted skew JOIN (explicit skew handling on a join key) -----------

  /** Salt-folded JOIN — completes the B:14 "skew handled explicitly" story
    * for joins (r2 covered only aggregation): the fact side (docs, Zipf-hot
    * on host) folds `salt = pmod(xxhash64(url), SALT)` into the join key and
    * the small dim side is replicated SALT ways, so the hot host's probe
    * rows spread over SALT reducers instead of one. The `shuffle_hash` hint
    * keeps the demonstration honest — at 10^12 docs a derived per-host dim
    * can exceed broadcast reach, and a broadcast join would never skew in
    * the first place. Results are identical to the unsalted join (the
    * oracle): salting is pure partitioning, never semantics — plan pinned in
    * CatalystSurfaceSpec.
    */
  def exSkewJoin(spark: SparkSession, sfDir: String): DataFrame = {
    val SALT = 8L
    val docs = OracleCorpus.docs(spark)
      .withColumn("host", parse_url(col("url"), lit("HOST")))
      .withColumn("salt", pmod(xxhash64(col("url")), lit(SALT)))
    val dim = docs.groupBy("host").agg(count(lit(1)).as("host_docs"))
    val dimSalted = dim
      .withColumn("salt", explode(sequence(lit(0L), lit(SALT - 1L))))
    docs.join(dimSalted.hint("shuffle_hash"), Seq("host", "salt"))
      .select(col("url"), col("host"), col("host_docs"))
      .orderBy("url")
  }

  val exSkewJoinSql: String =
    s"""WITH d AS (
       |  SELECT url, regexp_extract(url, '^https?://([^/:]+)', 1) host FROM $D),
       |dim AS (SELECT host, count(*) host_docs FROM d GROUP BY 1)
       |SELECT url, d.host, host_docs
       |FROM d JOIN dim ON d.host = dim.host ORDER BY url""".stripMargin

  // ---- URL canonicalization ----------------------------------------------

  /** Web-URL canonicalizer over deterministically-dirtied corpus URLs: each
    * url gets one of five messes keyed by its trailing page number (tracking
    * params + fragment; interleaved tracking params; fragment only;
    * uppercased scheme+host with an explicit default :443 port; unchanged),
    * and the canonicalizer must undo all of them — lowercase scheme+host,
    * strip the default port, drop the fragment, remove `utm_*` params, and
    * sort the surviving query params. Pure per-row string/array work
    * (codegen'd, no shuffle until the presentation sort): the shape that
    * runs ahead of every URL-keyed dedup/join at 100 TB, where agreement on
    * the canonical key decides dedup recall. The mess constructor is shared
    * by both engines; the canonicalizer is the operator under test.
    */
  def exUrlNorm(spark: SparkSession, sfDir: String): DataFrame = {
    val selector =
      "CAST(coalesce(nullif(regexp_extract(url, '-([0-9]+)$', 1), ''), '0') AS BIGINT) % 5"
    OracleCorpus.docs(spark).select(col("url"))
      .withColumn("k", expr(selector))
      .withColumn("messy",
        when(col("k") === 0, concat(col("url"), lit("?utm_source=feed&b=2&a=1#frag")))
          .when(col("k") === 1, concat(col("url"), lit("?z=9&utm_campaign=x&y=8&utm_medium=rss")))
          .when(col("k") === 2, concat(col("url"), lit("#top")))
          .when(col("k") === 3, concat(
            upper(substring_index(col("url"), "/", 3)), lit(":443"),
            expr("substr(url, length(substring_index(url, '/', 3)) + 1)")))
          .otherwise(col("url")))
      .withColumn("pre", substring_index(col("messy"), "/", 3))
      .withColumn("pre2", regexp_replace(lower(col("pre")), ":443$", ""))
      .withColumn("nofrag",
        substring_index(expr("substr(messy, length(pre) + 1)"), "#", 1))
      .withColumn("path", substring_index(col("nofrag"), "?", 1))
      // after the FIRST '?' (not substring_index(.., -1), which takes the
      // last and diverges from the oracle if a param value embeds a '?')
      .withColumn("qs",
        when(col("nofrag").contains("?"),
          expr("substring(nofrag, instr(nofrag, '?') + 1)"))
          .otherwise(lit("")))
      .withColumn("params", array_join(
        array_sort(filter(split(col("qs"), "&"), p => !p.startsWith("utm_"))), "&"))
      .select(
        col("url"), col("k"), col("messy"),
        concat(col("pre2"), col("path"),
          when(col("params") =!= "", concat(lit("?"), col("params")))
            .otherwise(lit(""))).as("canon"))
      .orderBy("url")
  }

  val exUrlNormSql: String =
    s"""WITH d AS (
       |  SELECT url,
       |         CAST(coalesce(nullif(regexp_extract(url, '-([0-9]+)$$', 1), ''), '0')
       |              AS BIGINT) % 5 AS k
       |  FROM $D),
       |m AS (
       |  SELECT url, k,
       |    CASE k
       |      WHEN 0 THEN url || '?utm_source=feed&b=2&a=1#frag'
       |      WHEN 1 THEN url || '?z=9&utm_campaign=x&y=8&utm_medium=rss'
       |      WHEN 2 THEN url || '#top'
       |      WHEN 3 THEN upper(array_to_string(str_split(url, '/')[1:3], '/')) || ':443'
       |                  || substr(url, length(array_to_string(str_split(url, '/')[1:3], '/')) + 1)
       |      ELSE url END AS messy
       |  FROM d),
       |p1 AS (
       |  SELECT url, k, messy,
       |         array_to_string(str_split(messy, '/')[1:3], '/') AS pre
       |  FROM m),
       |p2 AS (
       |  SELECT url, k, messy,
       |         regexp_replace(lower(pre), ':443$$', '') AS pre2,
       |         str_split(substr(messy, length(pre) + 1), '#')[1] AS nofrag
       |  FROM p1),
       |p3 AS (
       |  SELECT url, k, messy, pre2,
       |         str_split(nofrag, '?')[1] AS path,
       |         CASE WHEN contains(nofrag, '?')
       |              THEN substr(nofrag, strpos(nofrag, '?') + 1)
       |              ELSE '' END AS qs
       |  FROM p2),
       |p4 AS (
       |  SELECT url, k, messy, pre2, path,
       |         array_to_string(list_sort(list_filter(str_split(qs, '&'),
       |                                   x -> NOT starts_with(x, 'utm_'))), '&') AS params
       |  FROM p3)
       |SELECT url, k, messy,
       |       pre2 || path ||
       |       CASE WHEN params <> '' THEN '?' || params ELSE '' END AS canon
       |FROM p4 ORDER BY url""".stripMargin

  // ---- link extraction (link-graph edges) ----------------------------------

  /** Outlink edge list — the link-graph construction stage: one row per
    * anchor with an href, in document order ([[Links.extract]], a reduced
    * single-pass scanner sharing the tokenizer's lexical rules). Runs over
    * the materialized DECODED markup ([[OracleCorpus.HTML]]) so the DuckDB
    * oracle can re-extract the same edges with an INDEPENDENT formulation
    * (regexp over the identical strings) — two implementations of anchor
    * extraction, sharing only the golden-pinned charset decode.
    *
    * Oracle-equivalence precondition (documented, corpus-guaranteed): every
    * synthetic anchor is `<a href="...">plain text</a>` — NON-EMPTY
    * double-quoted href (the scanner drops href="" anchors; the regex would
    * match them and shift every later seq), no nested markup, no entities
    * or '<' in anchor text, never inside comments/rawtext (where the regex
    * would see edges the scanner rightly skips). Real-web divergences are
    * covered by the scanner's unit tests, not the oracle.
    *
    * Scale shape: per-row flatMap, zero exchanges before the presentation
    * sort; at 100 TB the edge list feeds host-graph rollups/PageRank on a
    * url-hash partitioning.
    */
  def exLinks(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    OracleCorpus.htmlStrs(spark)
      .select(col("url"), col("html_str"))
      .as[(String, String)]
      .flatMap { case (url, html) =>
        Links.extract(html).map(l => (url, l.seq.toLong, l.href, l.anchor))
      }
      .toDF("url", "seq", "href", "anchor")
      .orderBy("url", "seq")
  }

  val exLinksSql: String = {
    val H = OracleCorpus.HTML_PQ
    """WITH m AS (
      |  SELECT url,
      |         regexp_extract_all(html_str, '<a href="([^"]*)">([^<]*)</a>', 1) hs,
      |         regexp_extract_all(html_str, '<a href="([^"]*)">([^<]*)</a>', 2) an
      |  FROM """.stripMargin + H + """),
      |e AS (
      |  SELECT url, CAST(i - 1 AS BIGINT) seq, hs[i] href, an[i] anchor
      |  FROM m, unnest(generate_series(1, len(hs))) AS u(i))
      |SELECT url, seq, href, anchor FROM e ORDER BY url, seq""".stripMargin
  }

  // ---- anchor-text index (per-target link rollup) ----------------------------

  /** Anchor-text index — the per-TARGET rollup of the edge list: for every
    * href, how many links point at it (n_refs), from how many distinct pages
    * (n_pages), with how many distinct anchor texts (n_texts), and which
    * anchor text is most common (ties broken lexicographically — exact and
    * deterministic). This is the web-search/WAT-style signal an extraction
    * pipeline keeps beside the text: inbound anchor text describes a page
    * better than its own boilerplate, and anchor diversity separates
    * navigation chrome ("terms", one text everywhere) from organic citations.
    *
    * Scale shape: one hash exchange on href — the (href, anchor) partial agg
    * combines map-side, the per-href window and the distinct counts ride the
    * SAME href key, and hot nav targets ("/terms" from every page) stay
    * partial-aggregated so no reducer sees raw edge volume.
    */
  def exAnchors(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val e = OracleCorpus.htmlStrs(spark)
      .select(col("url"), col("html_str"))
      .as[(String, String)]
      .flatMap { case (url, html) =>
        Links.extract(html).map(l => (url, l.href, l.anchor))
      }
      .toDF("url", "href", "anchor")
    val byText = e.groupBy("href", "anchor").agg(count(lit(1)).as("cnt"))
    val top = byText
      .withColumn("rn", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy("href")
          .orderBy(col("cnt").desc, col("anchor"))))
      .filter(col("rn") === 1)
      .select(col("href"), col("anchor").as("top_anchor"), col("cnt").as("top_cnt"))
    e.groupBy("href")
      .agg(
        count(lit(1)).as("n_refs"),
        countDistinct(col("url")).as("n_pages"),
        countDistinct(col("anchor")).as("n_texts"))
      .join(top, "href")
      .select("href", "n_refs", "n_pages", "n_texts", "top_anchor", "top_cnt")
      .orderBy("href")
  }

  val exAnchorsSql: String = {
    val H = OracleCorpus.HTML_PQ
    """WITH m AS (
      |  SELECT url,
      |         regexp_extract_all(html_str, '<a href="([^"]*)">([^<]*)</a>', 1) hs,
      |         regexp_extract_all(html_str, '<a href="([^"]*)">([^<]*)</a>', 2) an
      |  FROM """.stripMargin + H + """),
      |e AS (
      |  SELECT url, hs[i] href, an[i] anchor
      |  FROM m, unnest(generate_series(1, len(hs))) AS u(i)),
      |t AS (
      |  SELECT href, anchor, count(*) cnt FROM e GROUP BY 1, 2),
      |r AS (
      |  SELECT href, anchor, cnt,
      |         row_number() OVER (PARTITION BY href ORDER BY cnt DESC, anchor) rn
      |  FROM t),
      |a AS (
      |  SELECT href, count(*) n_refs, count(DISTINCT url) n_pages,
      |         count(DISTINCT anchor) n_texts
      |  FROM e GROUP BY 1)
      |SELECT a.href, n_refs, n_pages, n_texts, r.anchor top_anchor, r.cnt top_cnt
      |FROM a JOIN r USING (href) WHERE rn = 1 ORDER BY href""".stripMargin
  }

  // ---- page-metadata extraction (title / lang / declared charset) ----------

  /** Head-section metadata per page — the crawl-index fields beside the
    * extracted text: `<title>` (RCDATA the block tokenizer deliberately
    * skips), the `<html lang>` attribute, and the declared charset label.
    * Runs the [[Meta]] scanner over the materialized decode; the DuckDB
    * oracle re-extracts all three fields with INDEPENDENT regexps over the
    * identical strings.
    *
    * Oracle-equivalence preconditions (corpus-guaranteed, documented):
    * lowercase head markup, titles single-spaced without entities or '<',
    * metas never inside comments, and 'charset=' appears only in the meta
    * declaration. Real-web divergences (entities in titles, commented-out
    * metas, mixed case) are the scanner's unit-test territory.
    */
  def exMeta(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    OracleCorpus.htmlStrs(spark)
      .select(col("url"), col("html_str"))
      .as[(String, String)]
      .map { case (url, h) =>
        val m = Meta.extract(h)
        (url, m.title, m.langAttr, m.charsetLabel)
      }
      .toDF("url", "title", "lang_attr", "cs_label")
      .orderBy("url")
  }

  val exMetaSql: String = {
    val H = OracleCorpus.HTML_PQ
    s"""SELECT url,
       |       regexp_extract(html_str, '<title>([^<]*)</title>', 1) title,
       |       regexp_extract(html_str, '<html lang="([^"]*)"', 1) lang_attr,
       |       regexp_extract(html_str, 'charset="?([a-z0-9_.:-]+)', 1) cs_label
       |FROM $H ORDER BY url""".stripMargin
  }

  // ---- domain-suffix blocklist filter ---------------------------------------

  /** Blocked registrable-domain suffixes for [[exBlocklist]]: an exact host,
    * a suffix that must also catch planted subdomains, and a never-matching
    * entry. A production blocklist (millions of entries) swaps the literal
    * for a broadcast table — the suffix-chain equi-match (never a LIKE scan)
    * and the map-side plan shape are unchanged.
    */
  private val BLOCKLIST = Seq("host3.example.org", "host7.example.org", "ads.example.net")

  /** URL blocklist filtering by domain suffix — the crawl-hygiene gate that
    * runs before any fetch/extract spend: a host is blocked iff any suffix
    * of its label chain (with >= 2 labels) equals a blocklist entry, so
    * `cdn.host7.example.org` is caught by `host7.example.org` without
    * wildcard scans. Subdomain mess (`cdn.` / `a.b.` / `tracker.`) is
    * PLANTED deterministically from the url's trailing ordinal; the suffix
    * chain is a bounded per-row array (#labels - 1 entries) matched by exact
    * equality.
    *
    * Scale shape: zero exchanges — per-row label explode + equality match
    * against the (broadcastable) blocklist; at 100 TB this is a scan-speed
    * gate ahead of the expensive pipeline stages.
    */
  def exBlocklist(spark: SparkSession, sfDir: String): DataFrame = {
    val selector =
      "CAST(coalesce(nullif(regexp_extract(url, '-([0-9]+)$', 1), ''), '0') AS BIGINT) % 4"
    OracleCorpus.docs(spark).select(col("url"))
      .withColumn("k", expr(selector))
      .withColumn("host",
        concat(
          when(col("k") === 1, lit("cdn."))
            .when(col("k") === 2, lit("a.b."))
            .when(col("k") === 3, lit("tracker."))
            .otherwise(lit("")),
          regexp_extract(col("url"), "^https?://([^/:]+)", 1)))
      .withColumn("labels", split(col("host"), "\\."))
      // guard: a single-label (or regex-missed '') host has NO >=2-label
      // suffixes — sequence(0,-1) would otherwise run DESCENDING in Spark
      // and slice(.., 0, ..) throws; DuckDB's generate_series(0,-1) is empty
      .withColumn("sufs",
        when(size(col("labels")) >= 2,
          transform(sequence(lit(0), size(col("labels")) - 2),
            i => array_join(slice(col("labels"), i + 1, size(col("labels")) - i), ".")))
          .otherwise(array().cast("array<string>")))
      .withColumn("hit",
        // try_element_at: ANSI mode throws on the empty (no-match) array
        try_element_at(filter(col("sufs"), s => s.isin(BLOCKLIST: _*)), lit(1)))
      .select(
        col("url"), col("host"),
        when(col("hit").isNotNull, lit(1L)).otherwise(lit(0L)).as("blocked"),
        coalesce(col("hit"), lit("")).as("matched"))
      .orderBy("url")
  }

  val exBlocklistSql: String = {
    val bl = BLOCKLIST.map(b => s"'$b'").mkString(", ")
    s"""WITH d AS (
       |  SELECT url,
       |         CAST(coalesce(nullif(regexp_extract(url, '-([0-9]+)$$', 1), ''), '0')
       |              AS BIGINT) % 4 AS k
       |  FROM $D),
       |h AS (
       |  SELECT url,
       |         (CASE k WHEN 1 THEN 'cdn.' WHEN 2 THEN 'a.b.'
       |                 WHEN 3 THEN 'tracker.' ELSE '' END)
       |           || regexp_extract(url, '^https?://([^/:]+)', 1) AS host
       |  FROM d),
       |l AS (SELECT url, host, string_split(host, '.') labels FROM h),
       |sfx AS (
       |  SELECT url, host,
       |         [array_to_string(labels[i+1:], '.')
       |          for i in generate_series(0, len(labels) - 2)] sufs
       |  FROM l),
       |m AS (
       |  SELECT url, host,
       |         list_filter(sufs, s -> s IN ($bl))[1] hit
       |  FROM sfx)
       |SELECT url, host,
       |       CAST(CASE WHEN hit IS NOT NULL THEN 1 ELSE 0 END AS BIGINT) blocked,
       |       coalesce(hit, '') matched
       |FROM m ORDER BY url""".stripMargin
  }

  // ---- document outline (section-path assignment) --------------------------

  /** Section-path assignment over the shared blocks artifact: every kept
    * content block gets the headings that govern it — the last `h1` at or
    * before it in document order, and the last `h2` AFTER that `h1` (an h1
    * opens a new section, so an earlier sibling's h2 must not leak across
    * it). This is the structure pass that turns flat extracted blocks into
    * the sectioned records a training pipeline chunks on (heading-scoped
    * chunking beats blind windows for long documents).
    *
    * Boilerplate-flagged blocks are excluded on BOTH roles — a sidebar `h3`
    * never becomes a section, and nav blocks get no path.
    *
    * Scale shape: one (url) exchange for the per-document window — the same
    * key the extraction pipeline already shuffles on; ignore-nulls
    * `last_value` folds the heading forward in one frame scan, no
    * self-joins.
    */
  def exOutline(spark: SparkSession, sfDir: String): DataFrame =
    outlineOver(OracleCorpus.blocks(spark).toDF())

  /** The window core of [[exOutline]], over any blocks-shaped frame
    * (url, seq, tag, text, kind, flags) — separated so the h1-reset rule is
    * testable on crafted rows.
    */
  private[graft] def outlineOver(blocks: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("url").orderBy("seq")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    blocks
      .filter(col("kind") === "html" &&
        col("flags").bitwiseAND(1) === 0 && col("flags").bitwiseAND(2) === 0)
      .withColumn("h1", last(when(col("tag") === "h1", col("text")), ignoreNulls = true).over(w))
      .withColumn("h1seq", max(when(col("tag") === "h1", col("seq"))).over(w))
      .withColumn("h2c", last(when(col("tag") === "h2", col("text")), ignoreNulls = true).over(w))
      .withColumn("h2seq", max(when(col("tag") === "h2", col("seq"))).over(w))
      .filter(!col("tag").isin("h1", "h2"))
      .select(
        col("url"),
        col("seq").cast("long").as("seq"),
        col("tag"),
        coalesce(col("h1"), lit("")).as("h1"),
        coalesce(
          when(col("h2seq") > coalesce(col("h1seq"), lit(-1)), col("h2c")),
          lit("")
        ).as("h2")
      )
      .orderBy("url", "seq")
  }

  val exOutlineSql: String =
    s"""WITH b AS (
       |  SELECT url, seq, tag, text FROM $B
       |  WHERE kind = 'html' AND (flags & 1) = 0 AND (flags & 2) = 0),
       |wf AS (
       |  SELECT url, seq, tag,
       |         last_value(CASE WHEN tag = 'h1' THEN text END IGNORE NULLS)
       |           OVER w h1,
       |         max(CASE WHEN tag = 'h1' THEN seq END) OVER w h1seq,
       |         last_value(CASE WHEN tag = 'h2' THEN text END IGNORE NULLS)
       |           OVER w h2c,
       |         max(CASE WHEN tag = 'h2' THEN seq END) OVER w h2seq
       |  FROM b
       |  WINDOW w AS (PARTITION BY url ORDER BY seq
       |               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
       |SELECT url, CAST(seq AS BIGINT) seq, tag,
       |       coalesce(h1, '') h1,
       |       coalesce(CASE WHEN h2seq > coalesce(h1seq, -1) THEN h2c END, '') h2
       |FROM wf WHERE tag NOT IN ('h1', 'h2')
       |ORDER BY url, seq""".stripMargin

  // ---- DOM-template families (wrapper induction, structure level) ---------

  /** DOM-template clustering (`ex_domtpl`): pages sharing an IDENTICAL
    * structure signature — md5 over the seq-ordered (tag:depth) sequence of
    * every tokenizer block, text ignored — group into per-host template
    * families; families with ≥ 2 pages are the site templates a wrapper-
    * induction / selective-extraction pass targets (same CMS page type =
    * same signature, different articles). The structural complement of
    * ex_hostlines (which clusters by repeated TEXT): a template family with
    * wildly different texts is invisible to the line rule and vice versa.
    *
    * Scale shape: one url-keyed aggregation builds signatures (blocks
    * pre-combine map-side under the extraction pipeline's own url
    * partitioning), one (host, sig) rollup — both corpus-linear; the
    * signature is a constant-width hash so the rollup never carries block
    * volume.
    */
  def exDomtpl(spark: SparkSession, sfDir: String): DataFrame = {
    val bl = OracleCorpus.blocks(spark).toDF
      .filter(col("kind") === "html" &&
        col("flags").bitwiseAND(lit(graft.Model.FLAG_SENTINEL)) === 0)
    val sigs = bl.groupBy("url")
      .agg(md5(concat_ws(",", transform(
        array_sort(collect_list(struct(col("seq"),
          concat_ws(":", col("tag"), col("depth")).as("td")))),
        s => s.getField("td"))).cast("binary")).as("sig"),
        count(lit(1)).as("n_blocks"))
      .withColumn("host", parse_url(col("url"), lit("HOST")))
    sigs.groupBy("host", "sig")
      .agg(count(lit(1)).as("n_pages"), min(col("url")).as("exemplar"),
        min(col("n_blocks")).as("n_blocks"))
      .filter(col("n_pages") >= 2)
      .orderBy("host", "sig")
  }

  val exDomtplSql: String =
    s"""WITH b AS (
       |  SELECT url, seq, tag || ':' || depth td
       |  FROM $B WHERE kind = 'html' AND (flags & 2) = 0),
       |sigs AS (
       |  SELECT url,
       |         md5(string_agg(td, ',' ORDER BY seq)) sig,
       |         count(*) n_blocks
       |  FROM b GROUP BY url),
       |h AS (
       |  SELECT regexp_extract(url, '^https?://([^/:]+)', 1) host, sig, url,
       |         n_blocks
       |  FROM sigs)
       |SELECT host, sig, count(*) n_pages, min(url) exemplar,
       |       CAST(min(n_blocks) AS BIGINT) n_blocks
       |FROM h GROUP BY host, sig
       |HAVING count(*) >= 2
       |ORDER BY host, sig""".stripMargin

  // ---- contract surface --------------------------------------------------

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "ex_urldedup" -> (exUrlDedup _),
    "ex_robots" -> (exRobots _),
    "ex_crawlrate" -> (exCrawlRate _),
    "ex_schedule" -> (exSchedule _),
    "ex_blocklist" -> (exBlocklist _),
    "ex_meta" -> (exMeta _),
    "ex_outline" -> (exOutline _),
    "ex_links" -> (exLinks _),
    "ex_anchors" -> (exAnchors _),
    "ex_urlnorm" -> (exUrlNorm _),
    "ex_classify" -> (exClassify _),
    "ex_lines" -> (exLines _),
    "ex_docs" -> (exDocs _),
    "ex_stats" -> (exStats _),
    "ex_langid" -> (exLangid _),
    "ex_hostjoin" -> (exHostJoin _),
    "ex_salted" -> (exSalted _),
    "ex_skewjoin" -> (exSkewJoin _),
    "ex_domtpl" -> (exDomtpl _)
  )

  def oracles: Map[String, String] = Map(
    "ex_urldedup" -> exUrlDedupSql,
    "ex_robots" -> exRobotsSql,
    "ex_crawlrate" -> exCrawlRateSql,
    "ex_schedule" -> exScheduleSql,
    "ex_blocklist" -> exBlocklistSql,
    "ex_meta" -> exMetaSql,
    "ex_outline" -> exOutlineSql,
    "ex_links" -> exLinksSql,
    "ex_anchors" -> exAnchorsSql,
    "ex_urlnorm" -> exUrlNormSql,
    "ex_classify" -> exClassifySql,
    "ex_lines" -> exLinesSql,
    "ex_docs" -> exDocsSql,
    "ex_stats" -> exStatsSql,
    "ex_langid" -> exLangidSql,
    "ex_hostjoin" -> exHostJoinSql,
    "ex_salted" -> exSaltedSql,
    "ex_skewjoin" -> exSkewJoinSql,
    "ex_domtpl" -> exDomtplSql
  )
}
