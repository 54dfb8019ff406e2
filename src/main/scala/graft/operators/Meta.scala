package graft.operators

import graft.functions.{Charset, Entities}
import HtmlLex.{findClose, isNameStart, nameEnd, parseAttrs}
import java.util.Locale

/** Page-metadata extraction — the head-section fields every crawl index
  * keeps alongside the extracted text: `<title>` content (RCDATA: entities
  * decode, tags don't — the block tokenizer deliberately SKIPS title as
  * rawtext, so this is the only place it surfaces), the `<html lang>`
  * attribute, and the declared charset label (`<meta charset>` or the
  * legacy `http-equiv content-type; charset=`).
  *
  * First occurrence wins for each field (mirrors the regexp oracle's
  * first-match semantics); within one tag the first `lang` wins, and on a
  * `<meta>` the last duplicate of an attribute wins. Tag names and
  * attributes are read by the shared lexer ([[HtmlLex.parseAttrs]]: quoted
  * or bare values, names lowercased); comments, doctype, end tags and
  * processing instructions are skipped; whitespace in the title collapses.
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
          val ne = nameEnd(s, i + 1)
          val tag = s.substring(i + 1, ne).toLowerCase(Locale.ROOT)
          val (attrs, j) = parseAttrs(s, ne)
          i = j
          tag match {
            case "html" if !langDone =>
              attrs.find(_._1 == "lang").foreach { case (_, v) =>
                lang = v; langDone = true
              }
            case "meta" if !csDone =>
              val m = attrs.toMap
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
              val (closeAt, past) = findClose(s, i, "title")
              if (closeAt < n) {
                title = Charset.normalizeWs(Entities.decodeAll(s.substring(i, closeAt)))
                titleDone = true
                i = past
              }
            case _ => ()
          }
        } else i += 1
      } else i += 1
    }
    PageMeta(title, lang, cs)
  }
}
