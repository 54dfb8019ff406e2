package graft.operators

import graft.{ExtractedDoc, Page, Span}
import graft.functions.Charset

/** Per-document extraction as one pure function — sniff, decode,
  * tokenize/parse, classify, order lines, assemble — under the rules stated
  * in [[Classify]]. This is the production path: [[Extract.extract]] maps it
  * over the pages, once per page inside the scan task. Its independent
  * checks are the relational twin in [[Extract]] (byte-identical per url,
  * GoldenSpec) and the committed golden files (BASELINE.json:14).
  */
object ScalarExtract {

  def extract(p: Page): ExtractedDoc = {
    val kind = Charset.sniffKind(p.html)
    kind match {
      case Charset.KIND_EMPTY =>
        ExtractedDoc(p.url, p.warc_ts, p.lang, "", Vector.empty, 0, 0, kind)
      case Charset.KIND_TEXT =>
        val t = Charset.normalizeWs(Charset.decode(p.html))
        val spans =
          if (t.isEmpty) Vector.empty[Span]
          else Vector(Span(1, 0, t.codePointCount(0, t.length), 0))
        val nb = if (t.isEmpty) 0 else 1
        ExtractedDoc(p.url, p.warc_ts, p.lang, t, spans, nb, 0, kind)
      case Charset.KIND_HTML =>
        val blocks = HtmlBlocks.blocks(Charset.decode(p.html))
        val kept = Classify.classifyHtml(blocks)
        val (text, spans) = Classify.assemble(Classify.linesFromHtml(kept))
        ExtractedDoc(
          p.url, p.warc_ts, p.lang, text, spans,
          blocks.length, blocks.length - kept.length, kind)
      case Charset.KIND_PDF =>
        PdfRuns.parse(p.html) match {
          case Some(runs) =>
            val (text, spans) =
              Classify.assemble(Classify.linesFromPdfRuns(runs))
            ExtractedDoc(
              p.url, p.warc_ts, p.lang, text, spans,
              runs.length, runs.count(_.textLen == 0), Charset.KIND_PDF)
          case None =>
            ExtractedDoc(
              p.url, p.warc_ts, p.lang, "", Vector.empty, 0, 0,
              "pdf_unsupported")
        }
      case other =>
        ExtractedDoc(p.url, p.warc_ts, p.lang, "", Vector.empty, 0, 0, other)
    }
  }
}
