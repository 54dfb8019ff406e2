package graft.operators

import graft._
import graft.functions.Charset
import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Extraction over Spark (SURVEY.md §3.2), in two formulations of the
  * semantics stated once in [[graft.operators.Classify]].
  *
  * Production ([[extract]]) is one typed map of [[ScalarExtract.extract]]:
  * each page is scanned once, decoded and tokenized once, then classified,
  * line-merged and assembled in the same task — no Exchange and no join
  * (pinned by the plan test). Output is independent of the partitioning by
  * construction. BASELINE.md records the measured trade against B:6's
  * "UDF-free column expressions where possible".
  *
  * The rest of this object is the relational twin: the tokenizer as a
  * flatMap of block rows ([[toRows]]), then Catalyst column expressions,
  * window functions and ordered aggregations for classification (J1/W4/W5,
  * [[classifiedBlocks]]), line merge (W2/W3/A1, [[lines]]) and document
  * assembly (A2, [[assembled]]). It backs the `ex_classify`/`ex_lines`/
  * `ex_docs` DuckDB oracles, and GoldenSpec asserts it byte-identical per
  * url to the production map, so each formulation checks the other.
  * An optional pages-level salted repartition (`saltedPages`) balances
  * tokenizer work when the input file layout is host-skewed (B:14).
  */
object Extract {

  /** The relational twin's per-page step: sniff, decode, tokenize/parse.
    * Emits the candidate block rows plus exactly one sentinel row per page
    * carrying document metadata (nBlocks, and the text of text pages).
    */
  def toRows(p: Page): Iterator[BlockRow] = {
    val kind = Charset.sniffKind(p.html)
    def sentinel(k: String, nBlocks: Int, fullText: String) = BlockRow(
      url = p.url, warc_ts = p.warc_ts, lang = p.lang, kind = k,
      seq = -1, tag = "", depth = 0, text = "", textLen = 0, linkChars = 0,
      wordCount = 0, parentSeq = 0, flags = Model.FLAG_SENTINEL,
      x = 0, y = 0, w = 0, h = 0, nBlocks = nBlocks, fullText = fullText)
    def blockRow(k: String, b: RawBlock) = BlockRow(
      url = p.url, warc_ts = p.warc_ts, lang = p.lang, kind = k,
      seq = b.seq, tag = b.tag, depth = b.depth, text = b.text,
      textLen = b.textLen, linkChars = b.linkChars, wordCount = b.wordCount,
      parentSeq = b.parentSeq, flags = b.flags, x = b.x, y = b.y, w = b.w,
      h = b.h, nBlocks = 0, fullText = "")

    kind match {
      case Charset.KIND_HTML =>
        val blocks = HtmlBlocks.blocks(Charset.decode(p.html))
        blocks.iterator.map(blockRow(kind, _)) ++
          Iterator.single(sentinel(kind, blocks.length, ""))
      case Charset.KIND_PDF =>
        PdfRuns.parse(p.html) match {
          case Some(runs) =>
            runs.iterator.map(blockRow(kind, _)) ++
              Iterator.single(sentinel(kind, runs.length, ""))
          case None => Iterator.single(sentinel("pdf_unsupported", 0, ""))
        }
      case Charset.KIND_TEXT =>
        val t = Charset.normalizeWs(Charset.decode(p.html))
        Iterator.single(sentinel(kind, if (t.isEmpty) 0 else 1, t))
      case other => Iterator.single(sentinel(other, 0, ""))
    }
  }

  /** F3: the processable-page predicate — non-null payload, and optionally a
    * language allow-list. Expression-only (no UDF) so the null/isin parts
    * push down to the parquet scan (`PushedFilters`) and row groups of
    * filtered-out pages are never read; `length(html) > 0` evaluates
    * post-scan but pre-decode. Applied by the user-facing drivers
    * (Main extract-dir) ahead of [[extract]].
    */
  def processable(langs: Seq[String] = Nil): org.apache.spark.sql.Column = {
    val base = col("html").isNotNull && length(col("html")) > 0
    if (langs.isEmpty) base else base && col("lang").isin(langs: _*)
  }

  /** Optional pages-level balancing shuffle: url-hash plus a salt term folded
    * into the key (B:14 "salting for skewed hosts"). Changes no output —
    * property-tested.
    */
  def saltedPages(pages: Dataset[Page], numPartitions: Int, salt: Long): Dataset[Page] =
    pages.repartition(numPartitions, pmod(xxhash64(col("url"), lit(salt)), lit(numPartitions)))

  /** The unified reading-order keys (HTML: document order; PDF: page, -y, x,
    * seq), materialized as columns so every downstream window shares one
    * sort: [[classifyCandidates]] adds them and every [[lines]] window
    * orders by them, so the two can never drift on row order.
    */
  private def withOrdKeys(df: DataFrame): DataFrame = {
    val isPdf = col("kind") === Charset.KIND_PDF
    df.withColumn("ord0", when(isPdf, col("depth")).otherwise(lit(0)))
      .withColumn("ord1", when(isPdf, -col("y")).otherwise(col("seq")))
      .withColumn("ord2", when(isPdf, col("x")).otherwise(lit(0)))
      .withColumn("ord3", when(isPdf, col("seq")).otherwise(lit(0)))
  }

  /** Blocks DataFrame with all classification columns (the SQL-expressible
    * middle of the relational twin — also materialized for the DuckDB oracle).
    */
  def classifiedBlocks(rows: Dataset[BlockRow]): DataFrame =
    classifiedFrom(rows.toDF.repartition(col("url")))

  /** Classification over a blocks frame with sentinel/boiler rows still
    * present.
    */
  private[graft] def classifiedFrom(parted: DataFrame): DataFrame = {
    val sentinelFlag = (col("flags").bitwiseAND(lit(Model.FLAG_SENTINEL))) =!= 0
    val boiler = (col("flags").bitwiseAND(lit(Model.FLAG_BOILER))) =!= 0
    classifyCandidates(parted.filter(!sentinelFlag && !boiler))
  }

  /** Classification over candidate rows only. */
  private[graft] def classifyCandidates(cand: DataFrame): DataFrame = {
    val isHtml = col("kind") === Charset.KIND_HTML
    val isPdf = col("kind") === Charset.KIND_PDF

    val heading = col("tag").isin("h1", "h2", "h3", "h4", "h5", "h6")

    val wParent = Window.partitionBy("url", "parentSeq")
    val wUrl = Window.partitionBy("url")
    // The neighborhood-smoothing window orders by the SAME unified reading-
    // order keys as the downstream [[lines]] windows (HTML: (0,seq,0,0) ≡
    // seq — identical smoothing; PDF: `kept` is constant true, so its
    // lag/lead operand is value-irrelevant). The keys are MATERIALIZED as
    // columns (`ord0..ord3`, added below) rather than inlined expressions:
    // WindowExec projects non-attribute order-by expressions into fresh
    // `_w` columns per Window node, which defeats ordering reuse — with
    // attribute keys, every reading-order window downstream (smoothing
    // here, line-break + lineId in [[lines]]) is satisfied by ONE sort.
    // Plan effect: classification runs 2 full-width sorts (parentSeq
    // scoring + reading order) instead of 5.
    val wSeq = Window.partitionBy("url")
      .orderBy(col("ord0").asc, col("ord1").asc, col("ord2").asc, col("ord3").asc)

    cand
      .withColumn("ld", ((lit(100) * col("linkChars")) / col("textLen")).cast("int"))
      .withColumn(
        "dense",
        isHtml && (
          (col("textLen") >= Classify.DENSE_MIN_LEN && col("ld") < Classify.LINK_DENSITY_MAX) ||
            (heading && col("textLen") >= Classify.HEADING_MIN_LEN && col("linkChars") === 0)
        )
      )
      .withColumn(
        "contrib",
        when(col("dense"), col("textLen").cast("long") - lit(2L) * col("linkChars"))
      )
      .withColumn("pscore", sum(col("contrib")).over(wParent))
      .withColumn(
        "best",
        max(when(col("dense"), struct(col("pscore"), (-col("parentSeq")).as("negParent"))))
          .over(wUrl)
      )
      .withColumn(
        "boost",
        !col("dense") && col("best").isNotNull &&
          col("parentSeq") === -col("best.negParent") &&
          col("ld") < Classify.LINK_DENSITY_MAX &&
          col("textLen") >= Classify.BOOST_MIN_LEN && isHtml
      )
      .withColumn("base", col("dense") || col("boost"))
      // materialized reading-order keys — added AFTER the scoring stage so
      // they don't widen the (url, parentSeq) sort's buffer rows
      .transform(withOrdKeys)
      .withColumn(
        "kept",
        isPdf || col("base") || (
          coalesce(lag(col("base"), 1).over(wSeq), lit(false)) &&
            coalesce(lead(col("base"), 1).over(wSeq), lit(false)) &&
            col("ld") < Classify.LINK_DENSITY_MAX
        )
      )
  }

  /** Kept blocks → per-line rows: unified ordering (HTML: seq; PDF: page,
    * -y, x, seq — `depth` carries the page ordinal on the PDF branch, see
    * PdfRuns), line breaks (HTML: every block; PDF: page boundary or vertical
    * gap > PDF_LINE_GAP), within-line merge ordered by (x, seq) joined by
    * single space (A1).
    */
  def lines(classified: DataFrame): DataFrame = {
    val isPdf = col("kind") === Charset.KIND_PDF
    // the reading-order keys [[classifyCandidates]] materialized: every
    // window here rides the ordering its sort already produced
    val wOrd = Window.partitionBy("url")
      .orderBy(col("ord0").asc, col("ord1").asc, col("ord2").asc, col("ord3").asc)
    val wRun = wOrd.rowsBetween(Window.unboundedPreceding, Window.currentRow)

    classified
      .filter(col("kept"))
      .withColumn("prevY", lag(col("y"), 1).over(wOrd))
      .withColumn("prevPage", lag(col("ord0"), 1).over(wOrd))
      .withColumn(
        "newLine",
        when(!isPdf, lit(1))
          .when(col("prevY").isNull, lit(1))
          .when(col("prevPage") =!= col("ord0"), lit(1))
          .when(col("prevY") - col("y") > Classify.PDF_LINE_GAP, lit(1))
          .otherwise(lit(0))
      )
      .withColumn("lineId", sum(col("newLine")).over(wRun).cast("int"))
      .groupBy(col("url"), col("lineId"))
      .agg(
        array_join(
          transform(
            array_sort(collect_list(struct(col("x"), col("seq"), col("text")))),
            e => e.getField("text")
          ),
          " "
        ).as("lineText"),
        min(col("seq")).as("sourceSeq"),
        count(lit(1)).as("nRows")
      )
  }

  /** Lines → one assembled row per url: lines joined by \n in lineId order,
    * spans with running UTF-16 offsets computed by an ordered fold (A2).
    */
  def assembled(lineDf: DataFrame): DataFrame = {
    lineDf
      .groupBy(col("url"))
      .agg(
        array_sort(
          collect_list(struct(col("lineId"), col("lineText"), col("sourceSeq")))
        ).as("ls"),
        sum(col("nRows")).as("keptRows")
      )
      .withColumn(
        "atext",
        array_join(transform(col("ls"), l => l.getField("lineText")), "\n")
      )
      .withColumn(
        "aspans",
        aggregate(
          col("ls"),
          struct(
            lit(0).as("off"),
            array().cast("array<struct<lineId:int,start:int,end:int,sourceSeq:int>>").as("sp")
          ),
          (acc, l) => {
            val len = length(l.getField("lineText"))
            val start = acc.getField("off")
            struct(
              (start + len + 1).as("off"),
              concat(
                acc.getField("sp"),
                array(
                  struct(
                    l.getField("lineId").as("lineId"),
                    start.as("start"),
                    (start + len).as("end"),
                    l.getField("sourceSeq").as("sourceSeq")
                  )
                )
              ).as("sp")
            )
          },
          acc => acc.getField("sp")
        )
      )
      .select("url", "atext", "aspans", "keptRows")
  }

  /** Production extraction: Dataset[Page] → Dataset[ExtractedDoc], one
    * typed map of [[ScalarExtract.extract]] (see the object header).
    */
  def extract(pages: Dataset[Page]): Dataset[ExtractedDoc] = {
    import pages.sparkSession.implicits._
    pages.map(ScalarExtract.extract)
  }
}
