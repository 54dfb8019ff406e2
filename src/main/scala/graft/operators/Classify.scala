package graft.operators

import graft.Model
import scala.collection.mutable.ArrayBuffer

/** THE extraction semantics, stated once as pure sequential functions.
  *
  * This object is the normative spec. Production runs it directly
  * ([[graft.operators.ScalarExtract]], mapped per page by
  * [[graft.operators.Extract.extract]]); the relational twin in
  * [[graft.operators.Extract]] re-expresses every rule below as Catalyst
  * column expressions / window functions / aggregations, and the golden tests
  * assert byte-identical agreement between the two on every url
  * (BASELINE.json:14 "byte-identical extracted text per url").
  *
  * Classification (Boilerpipe text/link-density + Readability container
  * scoring + jusText-style neighborhood smoothing; SURVEY.md §2 F4/J1/W4/W5):
  *
  *   candidate(b) := flags&BOILER == 0                       (textLen>0 always)
  *   ld(b)        := 100*linkChars / textLen                 (integer division)
  *   dense(b)     := (textLen >= 25 && ld < 33)
  *                || (tag in h1..h6 && textLen >= 8 && linkChars == 0)
  *   contrib(b)   := textLen - 2*linkChars                   (dense blocks only)
  *   score(p)     := sum of contrib over dense blocks with parentSeq = p
  *   best         := argmax_p score(p), ties -> smaller p    (undef if no dense)
  *   boost(b)     := !dense && parentSeq == best && ld < 33 && textLen >= 10
  *   base(b)      := dense || boost
  *   kept(b)      := base || (ld < 33
  *                            && base(prev candidate) && base(next candidate))
  *
  * Line formation:
  *   HTML: each kept block is one line, in seq order.
  *   PDF:  runs sorted by (page, -y, x, seq) — page = RawBlock.depth; a new
  *         line starts at every page boundary and when prevRunY - y > 3;
  *         runs within a line joined by a single space, in (x, seq) order.
  *
  * Assembly: lines joined by "\n" (Unix); span i covers line i with
  *   start_i = sum_{j<i} (len_j + 1), end_i = start_i + len_i, where len is
  *   the line length in Unicode codepoints (= Spark `length()` semantics).
  */
object Classify {

  val HEADING_TAGS: Set[String] = Set("h1", "h2", "h3", "h4", "h5", "h6")
  val DENSE_MIN_LEN = 25
  val LINK_DENSITY_MAX = 33
  val HEADING_MIN_LEN = 8
  val BOOST_MIN_LEN = 10
  val PDF_LINE_GAP = 3

  def linkDensityPct(textLen: Int, linkChars: Int): Int =
    if (textLen <= 0) 100 else (100 * linkChars) / textLen

  def isCandidate(b: RawBlock): Boolean = (b.flags & Model.FLAG_BOILER) == 0

  def isDense(b: RawBlock): Boolean = {
    val ld = linkDensityPct(b.textLen, b.linkChars)
    (b.textLen >= DENSE_MIN_LEN && ld < LINK_DENSITY_MAX) ||
    (HEADING_TAGS.contains(b.tag) && b.textLen >= HEADING_MIN_LEN && b.linkChars == 0)
  }

  /** Kept candidate blocks of one HTML document, in seq order. */
  def classifyHtml(blocks: Vector[RawBlock]): Vector[RawBlock] = {
    val cand = blocks.filter(isCandidate)
    if (cand.isEmpty) return Vector.empty
    val dense = cand.map(isDense)
    // Readability container score
    val score = scala.collection.mutable.Map.empty[Int, Long]
    cand.indices.foreach { i =>
      if (dense(i)) {
        val b = cand(i)
        score(b.parentSeq) =
          score.getOrElse(b.parentSeq, 0L) + (b.textLen - 2L * b.linkChars)
      }
    }
    val best: Option[Int] =
      if (score.isEmpty) None
      else Some(score.toSeq.maxBy { case (p, s) => (s, -p.toLong) }._1)
    val base = cand.indices.map { i =>
      val b = cand(i)
      dense(i) || (best.contains(b.parentSeq) &&
        linkDensityPct(b.textLen, b.linkChars) < LINK_DENSITY_MAX &&
        b.textLen >= BOOST_MIN_LEN)
    }
    val kept = cand.indices.map { i =>
      base(i) || {
        val b = cand(i)
        i > 0 && i < cand.length - 1 && base(i - 1) && base(i + 1) &&
        linkDensityPct(b.textLen, b.linkChars) < LINK_DENSITY_MAX
      }
    }
    cand.indices.collect { case i if kept(i) => cand(i) }.toVector
  }

  /** One assembled output line: text plus the source block/run id. */
  case class Line(text: String, sourceSeq: Int)

  def linesFromHtml(kept: Vector[RawBlock]): Vector[Line] =
    kept.map(b => Line(b.text, b.seq))

  /** PDF y/x sort-and-merge (the graft's namesake, SURVEY.md W2/W3/A1).
    *
    * Runs sort `(page, -y, x, seq)` — `RawBlock.depth` carries the page
    * ordinal on the PDF branch (PdfRuns header) so multi-page documents never
    * interleave lines across pages. A new line starts at every page boundary
    * and whenever the vertical gap to the PREVIOUS RUN exceeds PDF_LINE_GAP
    * (previous run, not line start: exactly the relational twin's
    * `lag(y)` semantics — the two formulations only agree under that choice
    * when y drifts monotonically within a line).
    */
  def linesFromPdfRuns(runs: Vector[RawBlock]): Vector[Line] = {
    val nonEmpty = runs.filter(_.textLen > 0)
    if (nonEmpty.isEmpty) return Vector.empty
    val sorted = nonEmpty.sortBy(r => (r.depth, -r.y, r.x, r.seq))
    val out = ArrayBuffer.empty[Line]
    var lineRuns = ArrayBuffer[RawBlock](sorted.head)
    var prevY = sorted.head.y
    var prevPage = sorted.head.depth
    def flush(): Unit = {
      val ordered = lineRuns.sortBy(r => (r.x, r.seq))
      out += Line(ordered.map(_.text).mkString(" "), ordered.map(_.seq).min)
      lineRuns = ArrayBuffer.empty
    }
    sorted.tail.foreach { r =>
      if (r.depth != prevPage || prevY - r.y > PDF_LINE_GAP) flush()
      prevY = r.y
      prevPage = r.depth
      lineRuns += r
    }
    flush()
    out.toVector
  }

  /** Join lines; compute spans (1-based lineId, codepoint offsets). */
  def assemble(lines: Vector[Line]): (String, Vector[graft.Span]) = {
    if (lines.isEmpty) return ("", Vector.empty)
    val sb = new java.lang.StringBuilder
    val spans = ArrayBuffer.empty[graft.Span]
    var off = 0
    lines.zipWithIndex.foreach { case (l, i) =>
      if (i > 0) { sb.append('\n'); off += 1 }
      val len = l.text.codePointCount(0, l.text.length)
      spans += graft.Span(i + 1, off, off + len, l.sourceSeq)
      sb.append(l.text)
      off += len
    }
    (sb.toString, spans.toVector)
  }
}
