package graft

import graft.operators.{Classify, PdfRuns}
import graft.sources.Corpus
import org.scalatest.funsuite.AnyFunSuite

class PdfRunsSpec extends AnyFunSuite {

  private def pdf(content: String, flate: Boolean = true, bad: Boolean = false) =
    Corpus.pdfBytes(content, flate, bad)

  test("flate and raw streams both parse; text ordered by y desc then x") {
    val content =
      """BT /F1 12 Tf
        |1 0 0 1 300 700 Tm (right top) Tj
        |1 0 0 1 72 700 Tm (left top) Tj
        |1 0 0 1 72 650 Tm (second line) Tj
        |ET""".stripMargin
    for (flate <- Seq(true, false)) {
      val runs = PdfRuns.parse(pdf(content, flate)).get
      assert(runs.size == 3)
      val lines = Classify.linesFromPdfRuns(runs)
      assert(lines.map(_.text) == Vector("left top right top", "second line"))
    }
  }

  test("Td/TD/T* relative positioning and quote operator") {
    val content =
      """BT /F1 10 Tf 14 TL 72 700 Td (a) Tj
        |0 -14 Td (b) Tj
        |T* (c) Tj
        |(d) '
        |ET""".stripMargin
    val runs = PdfRuns.parse(pdf(content)).get
    assert(runs.map(_.text) == Vector("a", "b", "c", "d"))
    assert(runs.map(_.y) == Vector(700, 686, 672, 658))
    val (text, _) = Classify.assemble(Classify.linesFromPdfRuns(runs))
    assert(text == "a\nb\nc\nd")
  }

  test("TJ arrays concatenate strings, kerning numbers ignored") {
    val content = "BT 72 700 Td [(he) -20 (llo) 5 ( wor) (ld)] TJ ET"
    val runs = PdfRuns.parse(pdf(content)).get
    assert(runs.map(_.text) == Vector("hello world"))
  }

  test("escapes: parens, backslash, octal; hex strings") {
    val content = """BT 72 700 Td (a\(b\)c \\ d \101) Tj 72 650 Td <68657821> Tj ET"""
    val runs = PdfRuns.parse(pdf(content)).get
    assert(runs.map(_.text) == Vector("a(b)c \\ d A", "hex!"))
  }

  test("unsupported filter -> None (pdf_unsupported)") {
    assert(PdfRuns.parse(pdf("BT (x) Tj ET", bad = true)).isEmpty)
  }

  test("no streams / truncated / garbage -> None, never throws") {
    assert(PdfRuns.parse("%PDF-1.4\nnothing here".getBytes).isEmpty)
    val full = pdf("BT 72 700 Td (x) Tj ET")
    for (cut <- Seq(10, 60, full.length / 2)) {
      PdfRuns.parse(java.util.Arrays.copyOf(full, cut)) // must not throw
    }
    PdfRuns.parse("%PDF-stream\nstreamendstream".getBytes)
  }

  test("multi-page PDFs: pages never interleave, page boundary breaks lines") {
    // page 2 restarts at y=700 — same y as page 1's top line: without the
    // page key the two top lines would merge; and page 1's bottom (y=100) to
    // page 2's top (y=700) has negative gap, so only the page-boundary rule
    // separates those lines
    val p0 = "BT /F1 12 Tf 1 0 0 1 72 700 Tm (page one top) Tj " +
      "1 0 0 1 72 100 Tm (page one bottom) Tj ET"
    val p1 = "BT /F1 12 Tf 1 0 0 1 72 700 Tm (page two top) Tj ET"
    for (flate <- Seq(true, false)) {
      val runs =
        PdfRuns.parse(Corpus.pdfBytes(Seq(p0, p1), flate, badFilter = false)).get
      assert(runs.map(_.depth) == Vector(0, 0, 1), "page ordinals")
      val (text, _) = Classify.assemble(Classify.linesFromPdfRuns(runs))
      assert(text == "page one top\npage one bottom\npage two top")
    }
  }

  test("page order follows the Kids array, not file order") {
    // page objects appear in file order 5 (content 6) then 3 (content 4),
    // but Kids lists [3 0 R 5 0 R]: reading order must be (alpha, beta)
    val c0 = "BT 72 700 Td (alpha) Tj ET" // page obj 3 -> content obj 4
    val c1 = "BT 72 700 Td (beta) Tj ET" //  page obj 5 -> content obj 6
    val bos = new java.io.ByteArrayOutputStream()
    def w(s: String): Unit = bos.write(s.getBytes("ISO-8859-1"))
    w("%PDF-1.4\n")
    w("1 0 obj << /Type /Catalog /Pages 2 0 R >> endobj\n")
    w("2 0 obj << /Type /Pages /Kids [3 0 R 5 0 R] /Count 2 >> endobj\n")
    w("5 0 obj << /Type /Page /Parent 2 0 R /Contents 6 0 R >> endobj\n")
    w(s"6 0 obj << /Length ${c1.length} >>\nstream\n$c1\nendstream\nendobj\n")
    w("3 0 obj << /Type /Page /Parent 2 0 R /Contents 4 0 R >> endobj\n")
    w(s"4 0 obj << /Length ${c0.length} >>\nstream\n$c0\nendstream\nendobj\n")
    w("trailer << /Root 1 0 R >>\n%%EOF\n")
    val runs = PdfRuns.parse(bos.toByteArray).get
    assert(runs.map(r => (r.text, r.depth)) == Vector(("beta", 1), ("alpha", 0)))
    val lines = Classify.linesFromPdfRuns(runs)
    assert(lines.map(_.text) == Vector("alpha", "beta"))
  }

  test("no parseable page tree: page ordinal falls back to stream order") {
    val bos = new java.io.ByteArrayOutputStream()
    def w(s: String): Unit = bos.write(s.getBytes("ISO-8859-1"))
    w("%PDF-1.4\n")
    w("<< /Length 22 >>\nstream\nBT 72 700 Td (a) Tj ET\nendstream\n")
    w("<< /Length 22 >>\nstream\nBT 72 700 Td (b) Tj ET\nendstream\n")
    val runs = PdfRuns.parse(bos.toByteArray).get
    assert(runs.map(r => (r.text, r.depth)) == Vector(("a", 0), ("b", 1)))
  }

  test("indirect /Contents array object: both streams map to the same page") {
    // page's /Contents points at object 5, which is itself [6 0 R 7 0 R];
    // the two streams carry halves of ONE line at the same y — they must
    // share a page ordinal and merge, not split into pseudo-pages
    val c0 = "BT 72 700 Td (left) Tj ET"
    val c1 = "BT 300 700 Td (right) Tj ET"
    val bos = new java.io.ByteArrayOutputStream()
    def w(s: String): Unit = bos.write(s.getBytes("ISO-8859-1"))
    w("%PDF-1.4\n")
    w("1 0 obj << /Type /Catalog /Pages 2 0 R >> endobj\n")
    w("2 0 obj << /Type /Pages /Kids [3 0 R] /Count 1 >> endobj\n")
    w("3 0 obj << /Type /Page /Parent 2 0 R /Contents 5 0 R >> endobj\n")
    w("5 0 obj [6 0 R 7 0 R] endobj\n")
    w(s"6 0 obj << /Length ${c0.length} >>\nstream\n$c0\nendstream\nendobj\n")
    w(s"7 0 obj << /Length ${c1.length} >>\nstream\n$c1\nendstream\nendobj\n")
    w("trailer << /Root 1 0 R >>\n%%EOF\n")
    val runs = PdfRuns.parse(bos.toByteArray).get
    assert(runs.map(_.depth).distinct == Vector(0), s"ordinals: ${runs.map(_.depth)}")
    val lines = Classify.linesFromPdfRuns(runs)
    assert(lines.map(_.text) == Vector("left right"))
  }

  test("fake object headers inside stream payloads cannot corrupt the page map") {
    // the raw (uncompressed) stream payload contains ASCII that LOOKS like
    // a page object; the masked metadata scan must ignore it
    val trap = "BT 72 700 Td (real) Tj ET\n" +
      "99 0 obj << /Type /Page /Contents 4 0 R >> endobj"
    val c1 = "BT 72 700 Td (second page) Tj ET"
    val bos = new java.io.ByteArrayOutputStream()
    def w(s: String): Unit = bos.write(s.getBytes("ISO-8859-1"))
    w("%PDF-1.4\n")
    w("1 0 obj << /Type /Catalog /Pages 2 0 R >> endobj\n")
    w("2 0 obj << /Type /Pages /Kids [3 0 R 5 0 R] /Count 2 >> endobj\n")
    w("3 0 obj << /Type /Page /Parent 2 0 R /Contents 4 0 R >> endobj\n")
    w(s"4 0 obj << /Length ${trap.length} >>\nstream\n$trap\nendstream\nendobj\n")
    w("5 0 obj << /Type /Page /Parent 2 0 R /Contents 6 0 R >> endobj\n")
    w(s"6 0 obj << /Length ${c1.length} >>\nstream\n$c1\nendstream\nendobj\n")
    w("trailer << /Root 1 0 R >>\n%%EOF\n")
    val runs = PdfRuns.parse(bos.toByteArray).get
    // the trap text IS content of page 0 (it sits inside page 0's stream);
    // the real second page keeps ordinal 1
    assert(runs.filter(_.text.contains("real")).map(_.depth) == Vector(0))
    assert(runs.filter(_.text.contains("second page")).map(_.depth) == Vector(1))
  }

  test("corpus multi-page PDFs round-trip with per-page ordinals") {
    val contents = (0 until 3).map(p => Corpus.pdfContent(42L, 7L, "en", p))
    assert(contents.distinct.size == 3, "pages must differ")
    val runs =
      PdfRuns.parse(Corpus.pdfBytes(contents, flate = true, badFilter = false)).get
    assert(runs.map(_.depth).distinct == Vector(0, 1, 2))
    // per-page text equals the single-page parse of that page's content
    (0 until 3).foreach { p =>
      val single = PdfRuns.parse(pdf(contents(p))).get
      val mine = runs.filter(_.depth == p)
      assert(mine.map(_.text) == single.map(_.text), s"page $p")
      assert(mine.map(r => (r.x, r.y)) == single.map(r => (r.x, r.y)), s"page $p xy")
    }
  }

  test("a long digit run in a multi-stream PDF parses within a multiple of a letter run") {
    // an object-header scan that retries a run from every digit in it takes
    // a minute at 80,000 digits and about 25 at 384 KB
    val size = 384 * 1024
    val letters = Hostile.pdfPadded(size, 'x')
    val digits = Hostile.pdfPadded(size, '7')
    val benignMs = Hostile.bestMs(5)(PdfRuns.parse(letters))
    val boundMs = Hostile.MULTIPLE * math.max(benignMs, 1.0)
    assert(Hostile.finishesWithin(boundMs)(PdfRuns.parse(digits)),
      f"${digits.length} bytes: over $boundMs%.0f ms (${Hostile.MULTIPLE}× the letter run's $benignMs%.1f ms)")
    assert(PdfRuns.parse(digits) == PdfRuns.parse(letters))
  }

  test("corpus PDFs round-trip through the parser deterministically") {
    val c = Corpus.pdfContent(42L, 7L, "en")
    val a = PdfRuns.parse(pdf(c)).get
    val b = PdfRuns.parse(pdf(c)).get
    assert(a == b)
    assert(a.nonEmpty)
    val (text, spans) = Classify.assemble(Classify.linesFromPdfRuns(a))
    assert(text.nonEmpty && spans.nonEmpty)
    assert(spans.head.start == 0)
    // offsets contiguous
    spans.sliding(2).foreach {
      case Seq(x, y) => assert(y.start == x.end + 1)
      case _         => ()
    }
  }
}
