package graft.operators

import graft.functions.Entities
import HtmlLex.{findClose, isNameStart, nameEnd, parseAttrs}
import scala.collection.mutable.ArrayBuffer
import java.util.Locale

/** Anchor/link extraction — the link-graph construction stage of a web
  * pipeline (outlink edges feed frontier scheduling, host graphs, PageRank).
  * A reduced single-pass scanner over the DECODED page markup, honoring the
  * same lexical rules as the block tokenizer ([[HtmlBlocks.blocks]]):
  * comments / CDATA / doctype / PI skipped, rawtext elements (script, style,
  * …) skipped wholesale, entities decoded in anchor text. Tag names and
  * attributes are read by the shared lexer ([[HtmlLex.parseAttrs]]: quoted
  * or bare values, names lowercased). It deliberately does NOT segment
  * blocks or track boilerplate — nav/footer/ad links are exactly the edges
  * a crawler wants.
  *
  * Semantics: one Link per `<a>` start tag carrying a non-empty `href` (the
  * last `href` when the tag repeats it);
  * anchor text = entity-decoded, whitespace-collapsed, trimmed text up to
  * the matching `</a>` (a new `<a>` implies closing the previous one, per
  * WHATWG; EOF flushes). `href` is the raw attribute value. `seq` numbers
  * emitted links in document order.
  *
  * Scale shape: per-row procedural scan (flatMap) — embarrassingly parallel,
  * zero exchanges before the caller's own aggregation/sort.
  */
object Links {

  final case class Link(seq: Int, href: String, anchor: String)


  def extract(html: String): Vector[Link] = {
    val s = html
    val n = s.length
    val out = ArrayBuffer.empty[Link]

    var inAnchor = false
    var href = ""
    val sb = new java.lang.StringBuilder
    var pendingSpace = false
    var seq = 0

    def appendChar(c: Char): Unit =
      if (inAnchor) {
        if (Character.isWhitespace(c) || c == '\u00a0') {
          if (sb.length > 0) pendingSpace = true
        } else {
          if (pendingSpace) { sb.append(' '); pendingSpace = false }
          sb.append(c)
        }
      }

    def flush(): Unit = {
      if (inAnchor) {
        out += Link(seq, href, sb.toString)
        seq += 1
      }
      inAnchor = false
      href = ""
      sb.setLength(0)
      pendingSpace = false
    }

    var i = 0
    while (i < n) {
      val c = s.charAt(i)
      if (c == '<' && i + 1 < n) {
        val c1 = s.charAt(i + 1)
        if (c1 == '!') {
          if (s.startsWith("<!--", i)) {
            val e = s.indexOf("-->", i + 4)
            i = if (e < 0) n else e + 3
          } else if (s.regionMatches(true, i, "<![CDATA[", 0, 9)) {
            val e = s.indexOf("]]>", i + 9)
            i = if (e < 0) n else e + 3
          } else {
            val e = s.indexOf('>', i + 2)
            i = if (e < 0) n else e + 1
          }
        } else if (c1 == '?') {
          val e = s.indexOf('>', i + 2)
          i = if (e < 0) n else e + 1
        } else if (c1 == '/') {
          var j = nameEnd(s, i + 2)
          if (j == i + 2) { appendChar(c); i += 1 }
          else {
            val tag = s.substring(i + 2, j).toLowerCase(Locale.ROOT)
            while (j < n && s.charAt(j) != '>') j += 1
            i = if (j < n) j + 1 else n
            if (tag == "a") flush()
          }
        } else if (isNameStart(c1)) {
          val ne = nameEnd(s, i + 1)
          val tag = s.substring(i + 1, ne).toLowerCase(Locale.ROOT)
          val (attrs, j) = parseAttrs(s, ne)
          i = j
          if (tag == "a") {
            flush() // implied close of a previous open anchor
            // the last href wins
            val h = attrs.foldLeft("") { case (h, (k, v)) => if (k == "href") v else h }
            if (h.nonEmpty) { inAnchor = true; href = h }
          } else if (HtmlBlocks.RAWTEXT.contains(tag)) i = findClose(s, i, tag)._2
        } else {
          appendChar(c)
          i += 1
        }
      } else if (c == '&') {
        val (d, ni) = Entities.decodeAt(s, i)
        var k = 0
        while (k < d.length) { appendChar(d.charAt(k)); k += 1 }
        i = ni
      } else {
        appendChar(c)
        i += 1
      }
    }
    flush()
    out.toVector
  }
}
