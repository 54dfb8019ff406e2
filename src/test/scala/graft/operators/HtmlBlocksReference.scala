package graft.operators

import graft.functions.{Charset, Entities}
import scala.collection.mutable.ArrayBuffer

/** Test-only reference: the string-walking HTML tokenizer that
  * [[HtmlBlocks.blocks]] replaced, kept verbatim (only the object name
  * differs) so the differential specs can hold the char-array kernel to
  * the same output. Note its locale-sensitive `toLowerCase`: compare under
  * the root or an English default locale.
  */
object HtmlBlocksReference {

  private val VOID = Set(
    "area", "base", "br", "col", "embed", "hr", "img", "input", "link",
    "meta", "param", "source", "track", "wbr"
  )
  private[operators] val RAWTEXT = Set("script", "style", "textarea", "title")
  // content inside these contributes no text at all
  private val DROP = Set(
    "script", "style", "noscript", "template", "head", "title", "textarea",
    "svg", "math", "iframe", "select", "datalist", "option", "optgroup",
    "button", "object", "embed", "canvas"
  )
  // structural boilerplate: blocks under these are emitted but flagged
  private val BOILER = Set("nav", "aside", "footer", "header", "form")
  // Readability-style scoring containers (parentSeq targets)
  private val CONTAINER = Set(
    "body", "div", "article", "section", "main", "table", "td", "ul", "ol",
    "blockquote", "figure"
  )
  // block-level boundaries: start/end emits the current block
  private val BLOCK = Set(
    "address", "article", "aside", "blockquote", "body", "br", "caption",
    "dd", "details", "div", "dl", "dt", "fieldset", "figcaption", "figure",
    "footer", "form", "h1", "h2", "h3", "h4", "h5", "h6", "header", "hr",
    "html", "legend", "li", "main", "nav", "ol", "p", "pre", "section",
    "summary", "table", "tbody", "td", "tfoot", "th", "thead", "tr", "ul"
  )
  // class/id token stop-list (token equals)
  private val STOP_EQ = Set("ad", "ads")

  // hoisted: String.split(regex) compiles a Pattern per call, and this runs
  // once per classed tag (~millions/sec in the tokenizer hot loop)
  private val WS_RE = java.util.regex.Pattern.compile("\\s+")
  // class/id token stop-list (token contains)
  private val STOP_SUB = Array(
    "comment", "sidebar", "foot", "nav", "menu", "banner", "advert",
    "social", "share", "breadcrumb", "widget", "cookie", "popup", "promo",
    "related"
  )

  def isStopToken(t: String): Boolean =
    STOP_EQ.contains(t) || STOP_SUB.exists(t.contains(_))

  private case class Open(
      tag: String,
      nodeId: Int,
      drop: Boolean,
      boiler: Boolean,
      link: Boolean,
      container: Boolean
  )

  /** Tokenize decoded HTML into candidate blocks, in document order. */
  def blocks(html: String): Vector[RawBlock] = {
    val out = ArrayBuffer.empty[RawBlock]
    val s = html
    val n = s.length

    // Current block's text, normalized ONLINE (single pass, no per-run
    // String allocations): whitespace collapses as chars arrive. This is
    // equivalent to the earlier run-buffer formulation because every
    // dropDepth/linkDepth change happens at a tag boundary, where the old
    // code flushed its pending run — so each char sees the same depth state
    // either way (goldens pin the equivalence).
    val sbBlock = new java.lang.StringBuilder
    var linkChars = 0
    var pendingSpace = false

    val stack = ArrayBuffer.empty[Open]
    var dropDepth = 0
    var boilerDepth = 0
    var linkDepth = 0
    val containerIds = ArrayBuffer.empty[Int]
    var nodeCounter = 0
    var blockCounter = 0

    def appendChar(c: Char): Unit = {
      if (dropDepth == 0) {
        // ' ' (nbsp, from &nbsp;) collapses like whitespace — Java's
        // isWhitespace does NOT cover it
        if (Character.isWhitespace(c) || c == '\u00a0') {
          if (sbBlock.length > 0) pendingSpace = true
        } else {
          val isLink = linkDepth > 0
          if (pendingSpace) {
            sbBlock.append(' ')
            if (isLink) linkChars += 1
            pendingSpace = false
          }
          sbBlock.append(c)
          if (isLink) linkChars += 1
        }
      }
    }

    def appendStr(d: String): Unit = {
      var i = 0
      while (i < d.length) { appendChar(d.charAt(i)); i += 1 }
    }

    def currentBlockTag(): String = {
      var i = stack.length - 1
      while (i >= 0) {
        val t = stack(i).tag
        if (BLOCK.contains(t)) return t
        i -= 1
      }
      "body"
    }

    def emitBlock(): Unit = {
      if (sbBlock.length == 0) {
        linkChars = 0
        pendingSpace = false
        return
      }
      val text = sbBlock.toString
      val blockLinkChars = linkChars
      sbBlock.setLength(0)
      linkChars = 0
      pendingSpace = false
      var words = 1
      var i = 0
      while (i < text.length) { if (text.charAt(i) == ' ') words += 1; i += 1 }
      out += RawBlock(
        seq = blockCounter,
        tag = currentBlockTag(),
        depth = stack.length,
        text = text,
        textLen = text.length,
        linkChars = blockLinkChars,
        wordCount = words,
        parentSeq = if (containerIds.nonEmpty) containerIds.last else 0,
        flags = if (boilerDepth > 0) graft.Model.FLAG_BOILER else 0
      )
      blockCounter += 1
    }

    def pop(): Unit = {
      if (stack.isEmpty) return
      val e = stack.remove(stack.length - 1)
      if (e.drop) dropDepth -= 1
      if (e.boiler) boilerDepth -= 1
      if (e.link) linkDepth -= 1
      if (e.container && containerIds.nonEmpty)
        containerIds.remove(containerIds.length - 1)
    }

    /** Pop until tag found (inclusive); no-op if absent. */
    def popTo(tag: String): Unit = {
      var i = stack.length - 1
      while (i >= 0 && stack(i).tag != tag) i -= 1
      if (i < 0) return
      while (stack.length > i) pop()
    }

    /** Implied end tags before opening `tag`. */
    def impliedEnds(tag: String): Unit = {
      def topIs(ts: Set[String]): Boolean =
        stack.nonEmpty && ts.contains(stack.last.tag)
      if (BLOCK.contains(tag)) {
        while (topIs(Set("p"))) pop()
      }
      tag match {
        case "li" =>
          // close an open li above the nearest list boundary
          var i = stack.length - 1
          while (i >= 0 && stack(i).tag != "ul" && stack(i).tag != "ol") {
            if (stack(i).tag == "li") { while (stack.length > i) pop(); i = -1 }
            else i -= 1
          }
        case "td" | "th" =>
          var i = stack.length - 1
          while (i >= 0 && stack(i).tag != "tr" && stack(i).tag != "table") {
            if (stack(i).tag == "td" || stack(i).tag == "th") {
              while (stack.length > i) pop(); i = -1
            } else i -= 1
          }
        case "tr" =>
          var i = stack.length - 1
          while (i >= 0 && stack(i).tag != "table") {
            if (stack(i).tag == "tr") { while (stack.length > i) pop(); i = -1 }
            else i -= 1
          }
        case "dd" | "dt" =>
          var i = stack.length - 1
          while (i >= 0 && stack(i).tag != "dl") {
            if (stack(i).tag == "dd" || stack(i).tag == "dt") {
              while (stack.length > i) pop(); i = -1
            } else i -= 1
          }
        case _ => ()
      }
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
          } else { // doctype / bogus markup decl
            val e = s.indexOf('>', i + 2)
            i = if (e < 0) n else e + 1
          }
        } else if (c1 == '?') {
          val e = s.indexOf('>', i + 2)
          i = if (e < 0) n else e + 1
        } else if (c1 == '/') {
          // end tag
          var j = i + 2
          val start = j
          while (j < n && isNameChar(s.charAt(j))) j += 1
          if (j == start) {
            // "</" not followed by name: literal text
            appendChar(c); i += 1
          } else {
            val tag = s.substring(start, j).toLowerCase
            // skip to '>'
            while (j < n && s.charAt(j) != '>') j += 1
            i = if (j < n) j + 1 else n
            if (BLOCK.contains(tag)) emitBlock()
            popTo(tag)
          }
        } else if (isNameStart(c1)) {
          // start tag
          var j = i + 1
          val start = j
          while (j < n && isNameChar(s.charAt(j))) j += 1
          val tag = s.substring(start, j).toLowerCase
          // parse attributes
          var classAttr = ""
          var idAttr = ""
          var selfClosing = false
          var done = false
          while (!done && j < n) {
            // skip ws
            while (j < n && Character.isWhitespace(s.charAt(j))) j += 1
            if (j >= n) done = true
            else {
              val ch = s.charAt(j)
              if (ch == '>') { j += 1; done = true }
              else if (ch == '/') {
                if (j + 1 < n && s.charAt(j + 1) == '>') {
                  selfClosing = true; j += 2; done = true
                } else j += 1
              } else {
                // attr name
                val as = j
                while (
                  j < n && {
                    val a = s.charAt(j)
                    a != '=' && a != '>' && a != '/' && !Character.isWhitespace(a)
                  }
                ) j += 1
                val aname = s.substring(as, j).toLowerCase
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
                if (aname == "class") classAttr = avalue.toLowerCase
                else if (aname == "id") idAttr = avalue.toLowerCase
              }
            }
          }
          i = j
          if (BLOCK.contains(tag)) emitBlock()
          val isVoid = VOID.contains(tag) || selfClosing
          if (!isVoid) {
            impliedEnds(tag)
            nodeCounter += 1
            val stopClassed = {
              var hit = false
              if (idAttr.nonEmpty && isStopToken(idAttr)) hit = true
              if (!hit && classAttr.nonEmpty) {
                val toks = WS_RE.split(classAttr)
                var t = 0
                while (!hit && t < toks.length) {
                  if (toks(t).nonEmpty && isStopToken(toks(t))) hit = true
                  t += 1
                }
              }
              hit
            }
            val e = Open(
              tag = tag,
              nodeId = nodeCounter,
              drop = DROP.contains(tag),
              boiler = BOILER.contains(tag) || stopClassed,
              link = tag == "a",
              container = CONTAINER.contains(tag)
            )
            stack += e
            if (e.drop) dropDepth += 1
            if (e.boiler) boilerDepth += 1
            if (e.link) linkDepth += 1
            if (e.container) containerIds += e.nodeId
            if (RAWTEXT.contains(tag)) {
              // skip to matching close tag, content dropped entirely
              val closeAt = indexOfIgnoreCase(s, "</" + tag, i)
              if (closeAt < 0) { i = n }
              else {
                var k = closeAt + 2 + tag.length
                while (k < n && s.charAt(k) != '>') k += 1
                i = if (k < n) k + 1 else n
              }
              pop()
            }
          }
        } else {
          // '<' followed by junk: literal
          appendChar(c)
          i += 1
        }
      } else if (c == '&') {
        val (d, ni) = Entities.decodeAt(s, i)
        appendStr(d)
        i = ni
      } else {
        appendChar(c)
        i += 1
      }
    }
    emitBlock()
    out.toVector
  }

  private def isNameStart(c: Char): Boolean =
    (c >= 'a' && c <= 'z') || (c >= 'A' && c <= 'Z')
  private def isNameChar(c: Char): Boolean =
    isNameStart(c) || (c >= '0' && c <= '9') || c == '-' || c == '_' || c == ':'

  private[operators] def indexOfIgnoreCase(s: String, sub: String, from: Int): Int = {
    val n = s.length
    val m = sub.length
    var i = math.max(from, 0)
    while (i + m <= n) {
      if (s.regionMatches(true, i, sub, 0, m)) return i
      i += 1
    }
    -1
  }
}
