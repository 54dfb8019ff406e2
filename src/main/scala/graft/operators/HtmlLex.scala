package graft.operators

import graft.functions.{Charset, Entities}
import java.util.Locale
import java.util.regex.Pattern

/** The one HTML lexer of the page scanners ([[Meta]], [[Links]],
  * [[Structured]]); the block tokenizer [[HtmlBlocks]] keeps its own
  * char-array scan. Rules:
  *
  *   - a tag name is an ASCII letter followed by letters, digits, `-`, `_`
  *     or `:`, compared lowercased;
  *   - attribute values are quoted or bare, names are lowercased, and a
  *     self-closing slash is ignored;
  *   - `<!-- -->` comments are skipped, and the bodies of rawtext elements
  *     ([[HtmlBlocks.RAWTEXT]]) are never scanned.
  *
  * Scanners that keep their own top-level loop (Meta, Links) use
  * [[isNameStart]], [[nameEnd]], [[parseAttrs]] and [[findClose]];
  * Structured runs every scan through [[walk]].
  */
object HtmlLex {

  def isNameStart(c: Char): Boolean =
    (c >= 'a' && c <= 'z') || (c >= 'A' && c <= 'Z')
  private def isNameChar(c: Char): Boolean =
    isNameStart(c) || (c >= '0' && c <= '9') || c == '-' || c == '_' || c == ':'

  /** Index just past the tag name that starts at `from`. */
  def nameEnd(s: String, from: Int): Int = {
    var j = from
    while (j < s.length && isNameChar(s.charAt(j))) j += 1
    j
  }

  /** Attributes starting at `j0` (just past the tag name) as (name, value)
    * pairs in document order, and the index just past the tag's `>` (the
    * string's end when the tag is unterminated). Attributes with an empty
    * name (`<a =x>`) are dropped.
    */
  def parseAttrs(s: String, j0: Int): (List[(String, String)], Int) = {
    val n = s.length
    var j = j0
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
              avalue = s.substring(vs, k)
              j = math.min(k + 1, n)
            } else {
              val vs = j
              while (j < n && !Character.isWhitespace(s.charAt(j)) && s.charAt(j) != '>') j += 1
              avalue = s.substring(vs, j)
            }
          }
          if (aname.nonEmpty) attrs = (aname -> avalue) :: attrs
        }
      }
    }
    (attrs.reverse, j)
  }

  /** (start of, index just past) the first case-insensitive close tag
    * `</name ...>` at or after `from`; (n, n) when there is none.
    */
  def findClose(s: String, from: Int, name: String): (Int, Int) = {
    val n = s.length
    var i = from
    while (i < n) {
      i = s.indexOf("</", i)
      if (i < 0) return (n, n)
      val j = i + 2
      if (j + name.length <= n && s.regionMatches(true, j, name, 0, name.length)) {
        var k = j + name.length
        while (k < n && s.charAt(k) != '>') k += 1
        return (i, math.min(k + 1, n))
      }
      i = j
    }
    (n, n)
  }

  private val MARKUP = Pattern.compile("<[^>]*>")

  /** Element text: markup replaced by spaces, entities decoded, whitespace
    * collapsed and trimmed.
    */
  def text(raw: String): String =
    Charset.normalizeWs(Entities.decodeAll(MARKUP.matcher(raw).replaceAll(" ")))

  /** One tag met by [[walk]]: `name` is lowercased and carries a leading
    * `/` for an end tag; `end` is the index just past the tag.
    */
  final class Tag(s: String, val name: String, attrs: List[(String, String)], val end: Int) {
    /** First value of attribute `a`, "" when absent. */
    def attr(a: String): String = attrs.collectFirst { case (`a`, v) => v }.getOrElse("")
    /** Start of the element's close tag and the index just past it; both
      * the string's end when the element is unclosed.
      */
    lazy val (bodyEnd, past) = findClose(s, end, name)
    def body: String = s.substring(end, bodyEnd)
  }

  /** Returned by a [[walk]] visitor to end the walk. */
  val STOP: Int = Int.MaxValue

  /** Visit every start and end tag of `s` in document order. The visitor
    * returns where the walk goes on: `t.end` enters the element, `t.past`
    * skips it, [[STOP]] ends the walk; tags it does not handle are entered.
    * Comments are skipped, and the walk never scans a rawtext element's
    * body, whatever the visitor returns.
    */
  def walk(s: String)(visit: PartialFunction[Tag, Int]): Unit = {
    val n = s.length
    val enter = (t: Tag) => t.end
    var i = 0
    while (i < n) {
      val lt = s.indexOf('<', i)
      if (lt < 0) i = n
      else if (s.startsWith("<!--", lt)) {
        val e = s.indexOf("-->", lt + 4); i = if (e < 0) n else e + 3
      } else {
        val isEnd = lt + 1 < n && s.charAt(lt + 1) == '/'
        val ns = if (isEnd) lt + 2 else lt + 1
        if (ns < n && isNameStart(s.charAt(ns))) {
          val ne = nameEnd(s, ns)
          val name = s.substring(ns, ne).toLowerCase(Locale.ROOT)
          if (isEnd) {
            val e = s.indexOf('>', ne)
            i = visit.applyOrElse(new Tag(s, "/" + name, Nil, if (e < 0) n else e + 1), enter)
          } else {
            val (attrs, end) = parseAttrs(s, ne)
            val t = new Tag(s, name, attrs, end)
            val next = visit.applyOrElse(t, enter)
            i = if (HtmlBlocks.RAWTEXT(name)) math.max(next, t.past) else next
          }
        } else i = lt + 1
      }
    }
  }
}
