package graft.operators

import graft.functions.Entities
import scala.collection.mutable.ArrayBuffer
import java.util.Locale

/** Anchor/link extraction — the link-graph construction stage of a web
  * pipeline (outlink edges feed frontier scheduling, host graphs, PageRank).
  * A reduced single-pass scanner over the DECODED page markup, honoring the
  * same lexical rules as the block tokenizer ([[HtmlBlocks.blocks]]):
  * comments / CDATA / doctype / PI skipped, rawtext elements (script, style,
  * …) skipped wholesale, entities decoded in anchor text, attribute values
  * quoted or bare. It deliberately does NOT segment blocks or track
  * boilerplate — nav/footer/ad links are exactly the edges a crawler wants.
  *
  * Semantics: one Link per `<a>` start tag carrying a non-empty `href`;
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
          var j = i + 2
          val start = j
          while (j < n && isNameChar(s.charAt(j))) j += 1
          if (j == start) { appendChar(c); i += 1 }
          else {
            val tag = s.substring(start, j).toLowerCase(Locale.ROOT)
            while (j < n && s.charAt(j) != '>') j += 1
            i = if (j < n) j + 1 else n
            if (tag == "a") flush()
          }
        } else if (isNameStart(c1)) {
          var j = i + 1
          val start = j
          while (j < n && isNameChar(s.charAt(j))) j += 1
          val tag = s.substring(start, j).toLowerCase(Locale.ROOT)
          var hrefAttr = ""
          var done = false
          while (!done && j < n) {
            while (j < n && Character.isWhitespace(s.charAt(j))) j += 1
            if (j >= n) done = true
            else {
              val ch = s.charAt(j)
              if (ch == '>') { j += 1; done = true }
              else if (ch == '/') j += 1
              else {
                val as = j
                while (
                  j < n && {
                    val a = s.charAt(j)
                    a != '=' && a != '>' && a != '/' && !Character.isWhitespace(a)
                  }
                ) j += 1
                val aname = s.substring(as, j).toLowerCase(Locale.ROOT)
                while (j < n && Character.isWhitespace(s.charAt(j))) j += 1
                var avalue = ""
                if (j < n && s.charAt(j) == '=') {
                  j += 1
                  while (j < n && Character.isWhitespace(s.charAt(j))) j += 1
                  if (j < n && (s.charAt(j) == '"' || s.charAt(j) == '\'')) {
                    val q = s.charAt(j)
                    val vs = j + 1
                    var k = vs
                    while (k < n && s.charAt(k) != q) k += 1
                    avalue = s.substring(vs, math.min(k, n))
                    j = if (k < n) k + 1 else n
                  } else {
                    val vs = j
                    while (
                      j < n && {
                        val a = s.charAt(j)
                        a != '>' && !Character.isWhitespace(a)
                      }
                    ) j += 1
                    avalue = s.substring(vs, j)
                  }
                }
                if (aname == "href") hrefAttr = avalue
              }
            }
          }
          i = j
          if (tag == "a") {
            flush() // implied close of a previous open anchor
            if (hrefAttr.nonEmpty) { inAnchor = true; href = hrefAttr }
          } else if (HtmlBlocks.RAWTEXT.contains(tag)) {
            val closeAt = HtmlBlocks.indexOfIgnoreCase(s, "</" + tag, i)
            if (closeAt < 0) i = n
            else {
              var k = closeAt + 2 + tag.length
              while (k < n && s.charAt(k) != '>') k += 1
              i = if (k < n) k + 1 else n
            }
          }
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

  private def isNameStart(c: Char): Boolean =
    (c >= 'a' && c <= 'z') || (c >= 'A' && c <= 'Z')
  private def isNameChar(c: Char): Boolean =
    isNameStart(c) || (c >= '0' && c <= '9') || c == '-' || c == '_' || c == ':'
}
