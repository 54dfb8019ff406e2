package graft.operators

import graft.functions.{Charset, Entities}
import java.util.Locale

/** Page-metadata extraction — the head-section fields every crawl index
  * keeps alongside the extracted text: `<title>` content (RCDATA: entities
  * decode, tags don't — the block tokenizer deliberately SKIPS title as
  * rawtext, so this is the only place it surfaces), the `<html lang>`
  * attribute, and the declared charset label (`<meta charset>` or the
  * legacy `http-equiv content-type; charset=`).
  *
  * First occurrence wins for each field (mirrors the regexp oracle's
  * first-match semantics). Attribute parsing reuses the tokenizer's rules
  * (quoted or bare values); whitespace in the title collapses.
  *
  * Scale shape: per-row scan bounded by the head (title/meta sit in the
  * first KB of real pages); zero exchanges.
  */
object Meta {

  final case class PageMeta(title: String, langAttr: String, charsetLabel: String)

  def extract(html: String): PageMeta = {
    val s = html
    val n = s.length
    var title = ""
    var titleDone = false
    var lang = ""
    var langDone = false
    var cs = ""
    var csDone = false

    var i = 0
    while (i < n && !(titleDone && langDone && csDone)) {
      val c = s.charAt(i)
      if (c == '<' && i + 1 < n) {
        val c1 = s.charAt(i + 1)
        if (c1 == '!') {
          if (s.startsWith("<!--", i)) {
            val e = s.indexOf("-->", i + 4); i = if (e < 0) n else e + 3
          } else {
            val e = s.indexOf('>', i + 2); i = if (e < 0) n else e + 1
          }
        } else if (c1 == '/' || c1 == '?') {
          val e = s.indexOf('>', i + 2); i = if (e < 0) n else e + 1
        } else if (isNameStart(c1)) {
          var j = i + 1
          val start = j
          while (j < n && isNameChar(s.charAt(j))) j += 1
          val tag = s.substring(start, j).toLowerCase(Locale.ROOT)
          // parse attributes into a small list
          var attrs = List.empty[(String, String)]
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
                attrs = (aname, avalue) :: attrs
              }
            }
          }
          i = j
          tag match {
            case "html" if !langDone =>
              attrs.reverse.find(_._1 == "lang").foreach { case (_, v) =>
                lang = v; langDone = true
              }
            case "meta" if !csDone =>
              val m = attrs.reverse.toMap
              m.get("charset") match {
                case Some(v) if v.nonEmpty => cs = v.toLowerCase(Locale.ROOT); csDone = true
                case _ =>
                  if (m.get("http-equiv").exists(_.equalsIgnoreCase("content-type"))) {
                    val content = m.getOrElse("content", "").toLowerCase(Locale.ROOT)
                    val at = content.indexOf("charset=")
                    if (at >= 0) {
                      var k = at + 8
                      val vs = k
                      while (
                        k < content.length && {
                          val a = content.charAt(k)
                          (a >= 'a' && a <= 'z') || (a >= '0' && a <= '9') ||
                            a == '-' || a == '_' || a == '.' || a == ':'
                        }
                      ) k += 1
                      if (k > vs) { cs = content.substring(vs, k); csDone = true }
                    }
                  }
              }
            case "title" if !titleDone =>
              // RCDATA: capture raw text to the matching close tag, decode
              // entities, collapse whitespace; no close tag -> no title
              val closeAt = HtmlBlocks.indexOfIgnoreCase(s, "</title", i)
              if (closeAt >= 0) {
                val raw = s.substring(i, closeAt)
                title = Charset.normalizeWs(Entities.decodeAll(raw))
                titleDone = true
                var k = closeAt + 7
                while (k < n && s.charAt(k) != '>') k += 1
                i = if (k < n) k + 1 else n
              }
            case _ => ()
          }
        } else i += 1
      } else i += 1
    }
    PageMeta(title, lang, cs)
  }

  private def isNameStart(c: Char): Boolean =
    (c >= 'a' && c <= 'z') || (c >= 'A' && c <= 'Z')
  private def isNameChar(c: Char): Boolean =
    isNameStart(c) || (c >= '0' && c <= '9') || c == '-' || c == '_' || c == ':'
}
