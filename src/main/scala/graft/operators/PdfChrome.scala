package graft.operators

import graft.functions.Rng
import graft.sources.{Corpus, OracleCorpus}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Running-header/footer detection on the PDF branch (`ex_pdfchrome`) — the
  * layout heuristic the north star's PDF path calls for beyond per-block
  * features: page chrome (running titles, "page N" footers, DRAFT stamps)
  * repeats at a CONSTANT vertical position across pages while body text
  * never does. Rule (both engines, exact integers): assemble each page's
  * lines (runs x-ordered within a y), digit-normalize (`page 3`/`page 4` →
  * `page #`), band y by 4pt (real extractors wobble a point or two), and a
  * (y-band, template) is chrome iff it hits ≥ max(2, ⌈2·n_pages/3⌉) of the
  * document's pages.
  *
  * Staged corpus (production `Corpus.pdfBytes` container, real
  * `PdfRuns.parse` decode, flate on even docs): 3–5-page documents with a
  * constant title at y=760, a TWO-RUN `page N` footer at y=40 (line
  * assembly must merge runs in x order before normalizing), a `draft copy`
  * stamp on exactly ⌈2n/3⌉ pages (the boundary — must be KEPT by ≥), an
  * `internal only` stamp on one page (must drop), and per-page-unique body
  * lines that REUSE the same y ladder across pages (same band + different
  * text ≠ chrome — the rule keys on both).
  *
  * Scale shape: the parse is the production per-row procedural step; the
  * rule is two hash aggregations (line assembly keyed (url, page, y) —
  * partial-aggs map-side; chrome count keyed (url, band, tpl)) plus a
  * broadcast-sized per-doc page count. All url-local, so every exchange is
  * keyed on url.
  */
object PdfChrome {

  val N_DOCS = 80L
  val RUNS = s"${OracleCorpus.DIR}/pdfchrome-runs"
  val RUNS_PQ = s"read_parquet('$RUNS/*.parquet')"

  private val WORDS = Vector("ledger", "quarry", "violet", "summit", "drift",
    "copper", "anchor", "beacon", "mantle", "prairie", "signal", "tundra")

  private def w(i: Long, k: Int): String =
    WORDS(Rng.nextInt(31L, 40L + k, i, WORDS.length))

  /** One doc past the regular range is the all-chrome witness: every line
    * on every page is chrome (title + footer only), so `ex_pdfclean` must
    * emit NULL `text_clean` for it on BOTH engines (Spark's empty
    * collect_list is nullif'd to match DuckDB's all-NULL string_agg).
    */
  val WITNESS: Long = N_DOCS

  /** Multi-page PDF bytes with planted chrome for doc `i`. */
  def chromePdf(i: Long): Array[Byte] = {
    if (i == WITNESS) {
      val title = s"${w(i, 0)} ${w(i, 1)} report"
      val contents = (0 until 3).map { p =>
        val sb = new StringBuilder("BT /F1 12 Tf\n")
        sb.append(s"1 0 0 1 72 760 Tm ($title) Tj\n")
        sb.append(s"1 0 0 1 280 40 Tm (page) Tj\n")
        sb.append(s"1 0 0 1 340 40 Tm (${p + 1}) Tj\n")
        sb.append("ET\n")
        sb.toString
      }
      return Corpus.pdfBytes(contents, flate = false, badFilter = false)
    }
    val nPages = 3 + (i % 3).toInt
    val boundary = math.max(2, (2 * nPages + 2) / 3)
    val title = s"${w(i, 0)} ${w(i, 1)} report"
    val contents = (0 until nPages).map { p =>
      val sb = new StringBuilder("BT /F1 12 Tf\n")
      sb.append(s"1 0 0 1 72 760 Tm ($title) Tj\n")
      if (p < boundary) sb.append(s"1 0 0 1 72 720 Tm (draft copy) Tj\n")
      if (p == 0) sb.append(s"1 0 0 1 72 712 Tm (internal only) Tj\n")
      val nBody = 4 + Rng.nextInt(31L, 50L + p, i, 4)
      var y = 700
      var li = 0
      while (li < nBody) {
        // page/line tags are LETTERS: digits would fold under the '#'
        // normalization and make two pages' same-ladder-step body lines
        // collide into an accidental template (observed before this fix)
        val tag = s"p${('a' + p).toChar} l${('a' + li).toChar}"
        sb.append(s"1 0 0 1 72 $y Tm (${w(i, 100 + p * 37 + li)} body ${w(i, 200 + p * 37 + li)} $tag) Tj\n")
        y -= 14
        li += 1
      }
      // two-run footer: x-ordered line assembly must produce "page N"
      sb.append(s"1 0 0 1 280 40 Tm (page) Tj\n")
      sb.append(s"1 0 0 1 340 40 Tm (${p + 1}) Tj\n")
      sb.append("ET\n")
      sb.toString
    }
    Corpus.pdfBytes(contents, flate = i % 2 == 0, badFilter = false)
  }

  @volatile private var done = false

  /** Production-parse the staged chrome PDFs once; both engines compute the
    * relational chrome rule from the materialized runs (the ExtractOracle
    * device — the procedural decode is not SQL-expressible).
    */
  private def ensure(spark: SparkSession): Unit = synchronized {
    if (done) return
    val marker = new java.io.File(s"${OracleCorpus.DIR}/_PDFCHROME_READY")
    val stamp = s"chrome:$N_DOCS+w:${OracleCorpus.codeStamp()}"
    if (!OracleCorpus.markerFresh(marker, stamp)) {
      import spark.implicits._
      spark.range(N_DOCS + 1).flatMap { i =>
        val url = s"https://pdf.example.org/r/$i"
        PdfRuns.parse(chromePdf(i)).get.map(b => (url, b.depth, b.x, b.y, b.text))
      }.toDF("url", "page", "x", "y", "text")
        .write.mode("overwrite").parquet(RUNS)
      OracleCorpus.writeMarker(marker, stamp)
    }
    done = true
  }

  def exPdfchrome(spark: SparkSession, sfDir: String): DataFrame = {
    ensure(spark)
    val runs = spark.read.parquet(RUNS)
    val lines = runs.groupBy(col("url"), col("page"), col("y"))
      .agg(array_join(transform(
        array_sort(collect_list(struct(col("x"), col("text")))),
        s => s.getField("text")), " ").as("line"))
    val counts = lines
      .withColumn("tpl", regexp_replace(col("line"), "[0-9]+", "#"))
      .withColumn("yb", expr("y div 4").cast("int"))
      .groupBy("url", "yb", "tpl")
      .agg(count_distinct(col("page")).as("n_hit"))
    val meta = runs.groupBy("url")
      .agg((max(col("page")) + 1).cast("long").as("n_pages"))
    counts.join(broadcast(meta), Seq("url"))
      .filter(col("n_hit") >= greatest(lit(2L),
        expr("(2 * n_pages + 2) div 3")))
      .select("url", "yb", "tpl", "n_hit", "n_pages")
      .orderBy("url", "yb", "tpl")
  }

  val exPdfchromeSql: String =
    s"""WITH lines AS (
       |  SELECT url, page, y, string_agg(text, ' ' ORDER BY x) line
       |  FROM $RUNS_PQ GROUP BY url, page, y),
       |t AS (SELECT url, page, y // 4 yb,
       |             regexp_replace(line, '[0-9]+', '#', 'g') tpl FROM lines),
       |c AS (SELECT url, yb, tpl, CAST(count(DISTINCT page) AS BIGINT) n_hit
       |      FROM t GROUP BY 1, 2, 3),
       |m AS (SELECT url, CAST(max(page) + 1 AS BIGINT) n_pages
       |      FROM $RUNS_PQ GROUP BY url)
       |SELECT c.url, CAST(yb AS INT) yb, tpl, n_hit, n_pages
       |FROM c JOIN m USING (url)
       |WHERE n_hit >= greatest(2, (2 * n_pages + 2) // 3)
       |ORDER BY url, yb, tpl""".stripMargin

  /** The product side (`ex_pdfclean`, the ex_hostclean of the PDF branch):
    * every page's text reassembled top-to-bottom WITHOUT its detected
    * chrome — what the extraction pipeline would hand to the quality gate.
    * The drop decision joins back on the (url, y-band, template) key the
    * detection produced; kept lines re-join in reading order (y descending
    * — PDF user space puts the top of the page at large y). Counts
    * reconcile: n_lines − n_kept = dropped chrome lines for that page.
    */
  def exPdfclean(spark: SparkSession, sfDir: String): DataFrame = {
    ensure(spark)
    val runs = spark.read.parquet(RUNS)
    val lines = runs.groupBy(col("url"), col("page"), col("y"))
      .agg(array_join(transform(
        array_sort(collect_list(struct(col("x"), col("text")))),
        s => s.getField("text")), " ").as("line"))
      .withColumn("tpl", regexp_replace(col("line"), "[0-9]+", "#"))
      .withColumn("yb", expr("y div 4").cast("int"))
    val chrome = exPdfchrome(spark, sfDir).select("url", "yb", "tpl")
      .withColumn("is_chrome", lit(true))
    lines.join(chrome, Seq("url", "yb", "tpl"), "left")
      .groupBy("url", "page")
      .agg(
        count(lit(1)).as("n_lines"),
        count(when(col("is_chrome").isNull, 1)).as("n_kept"),
        // nullif: a page whose every line is chrome must yield NULL, like
        // DuckDB's string_agg over all-NULL CASE values (witness doc 80)
        nullif(array_join(transform(
          array_sort(collect_list(when(col("is_chrome").isNull,
            struct((-col("y")).as("ny"), col("line"))))),
          s => s.getField("line")), "\n"), lit("")).as("text_clean"))
      .orderBy("url", "page")
  }

  val exPdfcleanSql: String =
    s"""WITH lines AS (
       |  SELECT url, page, y, string_agg(text, ' ' ORDER BY x) line
       |  FROM $RUNS_PQ GROUP BY url, page, y),
       |t AS (SELECT url, page, y, y // 4 yb,
       |             regexp_replace(line, '[0-9]+', '#', 'g') tpl, line FROM lines),
       |m AS (SELECT url, CAST(max(page) + 1 AS BIGINT) n_pages
       |      FROM $RUNS_PQ GROUP BY url),
       |chrome AS (
       |  SELECT t.url, yb, tpl FROM t JOIN m USING (url)
       |  GROUP BY t.url, yb, tpl, m.n_pages
       |  HAVING count(DISTINCT page) >= greatest(2, (2 * n_pages + 2) // 3)),
       |j AS (
       |  SELECT t.url, t.page, t.y, t.line,
       |         (c.tpl IS NOT NULL) is_chrome
       |  FROM t LEFT JOIN chrome c
       |    ON c.url = t.url AND c.yb = t.yb AND c.tpl = t.tpl)
       |SELECT url, page,
       |       count(*) n_lines,
       |       CAST(count(CASE WHEN NOT is_chrome THEN 1 END) AS BIGINT) n_kept,
       |       string_agg(CASE WHEN NOT is_chrome THEN line END, chr(10)
       |                  ORDER BY y DESC) text_clean
       |FROM j GROUP BY url, page ORDER BY url, page""".stripMargin

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "ex_pdfchrome" -> (exPdfchrome _),
    "ex_pdfclean" -> (exPdfclean _))

  def oracles: Map[String, String] = Map(
    "ex_pdfchrome" -> exPdfchromeSql,
    "ex_pdfclean" -> exPdfcleanSql)
}
