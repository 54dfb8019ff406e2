package graft

import org.apache.spark.sql.types._

/** Core typed records of the extraction engine (SURVEY.md §1.3).
  *
  * The input table shape is fixed by BASELINE.json `input_hint`:
  * pages(url STRING, warc_ts TIMESTAMP, html BINARY, text STRING, lang STRING).
  * Schema is fixed, schema-on-write — never inferred (determinism, B:14).
  */
case class Page(
    url: String,
    warc_ts: java.sql.Timestamp,
    html: Array[Byte],
    text: String,
    lang: String
)

/** One candidate text block produced by the tokenizer / DOM builder (HTML
  * branch) or the PDF text-run parser (PDF branch). Flattened tree: `seq` is
  * document order, `parentSeq` the nodeId of the nearest enclosing container
  * element. All scores/features are integers — no floats feed the
  * byte-identical output (determinism, B:14).
  *
  * `flags` bitmask: bit0 = boilerplate ancestry (nav/aside/footer/header/form
  * or stop-listed class/id); bit1 = per-document sentinel row (carries doc
  * metadata through the relational pipeline so empty docs survive).
  */
case class BlockRow(
    url: String,
    warc_ts: java.sql.Timestamp,
    lang: String,
    kind: String, // html | pdf | pdf_unsupported | text | empty
    seq: Int,
    tag: String,
    depth: Int,
    text: String,
    textLen: Int,
    linkChars: Int,
    wordCount: Int,
    parentSeq: Int,
    flags: Int,
    x: Int, // PDF branch only (layout position); 0 for HTML
    y: Int,
    w: Int,
    h: Int,
    nBlocks: Int, // sentinel rows: total candidate blocks in the doc
    fullText: String // sentinel rows of kind=text: normalized payload text
)

/** A contiguous region of the final assembled text attributable to one
  * source block (HTML) or one merged line (PDF). Offsets are Unicode
  * codepoint counts into `ExtractedDoc.text` (what both ScalarExtract and
  * Spark's `length()` count) — NOT UTF-16 code units.
  */
case class Span(lineId: Int, start: Int, end: Int, sourceSeq: Int)

/** Final output record. `text` is the byte-identical invariant (B:14): the
  * production map and its relational twin (operators.Extract) must produce
  * exactly the same bytes per url, under any partitioning / AQE replan.
  */
case class ExtractedDoc(
    url: String,
    warc_ts: java.sql.Timestamp,
    lang: String,
    text: String,
    spans: Seq[Span],
    nBlocks: Int,
    nDropped: Int,
    contentKind: String
)

object Model {
  val FLAG_BOILER = 1
  val FLAG_SENTINEL = 2

  /** Fixed pages schema (BASELINE.json input_hint). */
  val PAGES: StructType = StructType(
    Seq(
      StructField("url", StringType, nullable = false),
      StructField("warc_ts", TimestampType, nullable = true),
      StructField("html", BinaryType, nullable = true),
      StructField("text", StringType, nullable = true),
      StructField("lang", StringType, nullable = true)
    )
  )

  val CONTENT_KINDS = Seq("html", "pdf", "pdf_unsupported", "text", "empty")
}
