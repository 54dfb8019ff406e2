package graft.operators

import graft.functions.{Charset, Entities}

/** A candidate block before doc-level classification: the shared output of
  * the HTML tokenizer (this file) and the PDF run parser. Pure, per-document,
  * deterministic — used identically by the production extraction
  * (ScalarExtract) and the relational twin's flatMap stage (Extract.toRows),
  * so the two can only differ in the relational stages (which is exactly
  * what the golden tests pin down).
  */
case class RawBlock(
    seq: Int,
    tag: String,
    depth: Int,
    text: String,
    textLen: Int,
    linkChars: Int,
    wordCount: Int,
    parentSeq: Int,
    flags: Int,
    x: Int = 0,
    y: Int = 0,
    w: Int = 0,
    h: Int = 0
)

/** Single-pass WHATWG-subset HTML tokenizer + flattened DOM block builder
  * (SURVEY.md §2.3 D1–D4). Design notes:
  *
  *   - Tags, attributes (quoted/unquoted), entities, comments, doctype,
  *     processing instructions, CDATA sections, raw-text elements
  *     (script/style/textarea/title), void elements, self-closing syntax,
  *     and tolerant recovery for bad nesting (stray end tags ignored,
  *     implied end tags for p/li/td/th/tr/dd/dt).
  *   - No tree is materialized: blocks are emitted flat with `seq` (document
  *     order), `depth` (open-element count), `parentSeq` (nodeId of nearest
  *     container element) — downstream stages stay columnar.
  *   - Per-block shallow features (Boilerpipe, Kohlschütter WSDM'10):
  *     textLen, wordCount, linkChars (normalized chars inside <a>).
  *   - flags bit0 set when any ancestor is nav/aside/footer/header/form or
  *     carries a stop-listed class/id token.
  *   - Never throws on arbitrary input (property-tested).
  *
  * The scan runs over the page's char array. A tag name is ASCII-folded
  * and looked up once in a table that gives its canonical name and its
  * flag bits (void, raw text, dropped, boilerplate, container, block, link)
  * — tag names are ASCII by construction, so the result never depends on
  * the JVM default locale. Attribute names are compared in place, ASCII
  * case-insensitively; only `class` and `id` values are materialized, and
  * they fold with `Locale.ROOT`. Text between markup is appended as whole
  * runs into one char buffer: whitespace and NBSP collapse to one space as
  * they arrive, and the word count is kept as the spaces are written.
  */
object HtmlBlocks {

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
  // class/id token stop-list (token contains)
  private val STOP_SUB = Array(
    "comment", "sidebar", "foot", "nav", "menu", "banner", "advert",
    "social", "share", "breadcrumb", "widget", "cookie", "popup", "promo",
    "related"
  )

  def isStopToken(t: String): Boolean =
    STOP_EQ.contains(t) || STOP_SUB.exists(t.contains(_))

  // flag bits of the tag table
  private final val F_VOID = 1
  private final val F_RAWTEXT = 2
  private final val F_DROP = 4
  private final val F_BOILER = 8
  private final val F_CONTAINER = 16
  private final val F_BLOCK = 32
  private final val F_LINK = 64

  /** Open-addressed table over every tag name that carries a flag: the
    * canonical lowercase name and its flag bits, found by the ASCII-folded
    * hash of the name's chars.
    */
  private final val TAB_MASK = 255
  private val TAB_NAME = new Array[String](TAB_MASK + 1)
  private val TAB_FLAGS = new Array[Int](TAB_MASK + 1)
  locally {
    (VOID ++ RAWTEXT ++ DROP ++ BOILER ++ CONTAINER ++ BLOCK + "a").foreach { t =>
      val f =
        (if (VOID(t)) F_VOID else 0) | (if (RAWTEXT(t)) F_RAWTEXT else 0) |
          (if (DROP(t)) F_DROP else 0) | (if (BOILER(t)) F_BOILER else 0) |
          (if (CONTAINER(t)) F_CONTAINER else 0) | (if (BLOCK(t)) F_BLOCK else 0) |
          (if (t == "a") F_LINK else 0)
      var h = foldedHash(t.toCharArray, 0, t.length) & TAB_MASK
      while (TAB_NAME(h) != null) h = (h + 1) & TAB_MASK
      TAB_NAME(h) = t
      TAB_FLAGS(h) = f
    }
  }

  private def lower(c: Char): Char = if (c >= 'A' && c <= 'Z') (c + 32).toChar else c

  private def foldedHash(a: Array[Char], from: Int, to: Int): Int = {
    var h = 0
    var k = from
    while (k < to) { h = 31 * h + lower(a(k)); k += 1 }
    h ^ (h >>> 7)
  }

  /** Table slot of the tag name `a[from, to)` under ASCII folding; -1 when
    * the name carries no flag.
    */
  private def slotOf(a: Array[Char], from: Int, to: Int): Int = {
    var h = foldedHash(a, from, to) & TAB_MASK
    while (TAB_NAME(h) != null) {
      if (eqFolded(a, from, to - from, TAB_NAME(h))) return h
      h = (h + 1) & TAB_MASK
    }
    -1
  }

  private def slotOf(name: String): Int = slotOf(name.toCharArray, 0, name.length)

  // the slots of the names the implied-end rules look up
  private val S_LI = slotOf("li")
  private val S_UL = slotOf("ul")
  private val S_OL = slotOf("ol")
  private val S_TD = slotOf("td")
  private val S_TH = slotOf("th")
  private val S_TR = slotOf("tr")
  private val S_TABLE = slotOf("table")
  private val S_DD = slotOf("dd")
  private val S_DT = slotOf("dt")
  private val S_DL = slotOf("dl")

  /** `a[from, from + len)` equals lowercase ASCII `lit` under ASCII folding. */
  private def eqFolded(a: Array[Char], from: Int, len: Int, lit: String): Boolean =
    len == lit.length && {
      var k = 0
      while (k < len && lower(a(from + k)) == lit.charAt(k)) k += 1
      k == len
    }

  /** Tokenize decoded HTML into candidate blocks, in document order. */
  def blocks(html: String): Vector[RawBlock] = new Tokenizer(html).run()

  /** `Character.isWhitespace`, with the ASCII range answered inline. */
  private def isWs(c: Char): Boolean =
    if (c <= ' ') c == ' ' || (c >= '\t' && c <= '\r') || c >= '\u001c'
    else c >= '\u0080' && Character.isWhitespace(c)

  /** The text separators: whitespace plus NBSP (from `&nbsp;`), which
    * `Character.isWhitespace` does not cover.
    */
  private def isSep(c: Char): Boolean = isWs(c) || c == '\u00a0'

  /** `\s` of `java.util.regex`: the separators of class tokens. */
  private def isClassSep(c: Char): Boolean =
    c == ' ' || (c >= '\t' && c <= '\r')

  /** Does any whitespace-separated token of `cls` hit the stop-list? */
  private def stopClassed(cls: String): Boolean = {
    val n = cls.length
    var k = 0
    while (k < n) {
      while (k < n && isClassSep(cls.charAt(k))) k += 1
      val ts = k
      while (k < n && !isClassSep(cls.charAt(k))) k += 1
      if (k > ts && isStopToken(if (ts == 0 && k == n) cls else cls.substring(ts, k)))
        return true
    }
    false
  }

  /** One page's tokenizer state. The open-element stack is parallel
    * arrays; `cIds` holds the nodeIds of the open containers. Each stack
    * entry also links to the next open element of its name below it and to
    * the nearest open block element at or below it, and the topmost open
    * element of each name is kept by its slot. So an end tag, an implied end
    * and a block's tag cost O(1) plus the pops they make, whatever the
    * depth of the stack: a page of unmatched end tags, or of blocks under
    * thousands of open inline elements, tokenizes in linear time.
    */
  private final class Tokenizer(s: String) {
    private val a = s.toCharArray
    private val n = a.length
    private val out = Vector.newBuilder[RawBlock]

    // the current block's normalized text
    private var buf = new Array[Char](64)
    private var blen = 0
    private var words = 1
    private var linkChars = 0
    private var pendingSpace = false

    private var stTag = new Array[String](16)
    private var stFlags = new Array[Int](16)
    // slot of the entry's name (see `slotFor`)
    private var stSlot = new Array[Int](16)
    // 1 + index of the next open element of the same name below, 0 if none
    private var stSame = new Array[Int](16)
    // index of the nearest open block element at or below, -1 if none
    private var stBlock = new Array[Int](16)
    private var sp = 0
    // 1 + index of the topmost open element of each name, 0 if none, by slot
    private var topBySlot = new Array[Int](TAB_MASK + 1)
    // the page-local slots of the names outside the table
    private var localSlots: java.util.HashMap[String, Integer] = null
    private var cIds = new Array[Int](16)
    private var cp = 0
    private var dropDepth = 0
    private var boilerDepth = 0
    private var linkDepth = 0
    private var nodeCounter = 0
    private var blockCounter = 0

    /** Append `src[from, to)`, text with no markup in it, to the current
      * block: each run between separators is copied whole.
      */
    private def appendRun(src: Array[Char], from: Int, to: Int): Unit =
      if (dropDepth == 0) {
        var k = from
        while (k < to) {
          if (isSep(src(k))) {
            if (blen > 0) pendingSpace = true
            k += 1
          } else {
            var e = k + 1
            while (e < to && !isSep(src(e))) e += 1
            if (blen + e - k + 1 > buf.length)
              buf = java.util.Arrays.copyOf(buf, math.max(buf.length * 2, blen + e - k + 1))
            if (pendingSpace) {
              buf(blen) = ' '
              blen += 1
              words += 1
              if (linkDepth > 0) linkChars += 1
              pendingSpace = false
            }
            System.arraycopy(src, k, buf, blen, e - k)
            blen += e - k
            if (linkDepth > 0) linkChars += e - k
            k = e
          }
        }
      }

    private def currentBlockTag(): String =
      if (sp > 0 && stBlock(sp - 1) >= 0) stTag(stBlock(sp - 1)) else "body"

    /** The slot of the name `tag`: its table slot `slot` when it has one,
      * else a page-local slot after the table's, given on first sight.
      */
    private def slotFor(tag: String, slot: Int): Int =
      if (slot >= 0) slot
      else {
        if (localSlots == null) localSlots = new java.util.HashMap[String, Integer]
        val known = localSlots.get(tag)
        if (known != null) known
        else {
          val fresh = TAB_MASK + 1 + localSlots.size
          localSlots.put(tag, fresh)
          if (fresh == topBySlot.length) topBySlot = java.util.Arrays.copyOf(topBySlot, fresh * 2)
          fresh
        }
      }

    private def emitBlock(): Unit = {
      if (blen > 0) {
        out += RawBlock(
          seq = blockCounter,
          tag = currentBlockTag(),
          depth = sp,
          text = new String(buf, 0, blen),
          textLen = blen,
          linkChars = linkChars,
          wordCount = words,
          parentSeq = if (cp > 0) cIds(cp - 1) else 0,
          flags = if (boilerDepth > 0) graft.Model.FLAG_BOILER else 0
        )
        blockCounter += 1
        blen = 0
        words = 1
      }
      linkChars = 0
      pendingSpace = false
    }

    private def push(tag: String, slot: Int, flags: Int): Unit = {
      if (sp == stTag.length) {
        stTag = java.util.Arrays.copyOf(stTag, sp * 2)
        stFlags = java.util.Arrays.copyOf(stFlags, sp * 2)
        stSlot = java.util.Arrays.copyOf(stSlot, sp * 2)
        stSame = java.util.Arrays.copyOf(stSame, sp * 2)
        stBlock = java.util.Arrays.copyOf(stBlock, sp * 2)
      }
      nodeCounter += 1
      stTag(sp) = tag
      stFlags(sp) = flags
      stSlot(sp) = slot
      stSame(sp) = topBySlot(slot)
      stBlock(sp) = if ((flags & F_BLOCK) != 0) sp else if (sp > 0) stBlock(sp - 1) else -1
      topBySlot(slot) = sp + 1
      sp += 1
      if ((flags & F_DROP) != 0) dropDepth += 1
      if ((flags & F_BOILER) != 0) boilerDepth += 1
      if ((flags & F_LINK) != 0) linkDepth += 1
      if ((flags & F_CONTAINER) != 0) {
        if (cp == cIds.length) cIds = java.util.Arrays.copyOf(cIds, cp * 2)
        cIds(cp) = nodeCounter
        cp += 1
      }
    }

    private def pop(): Unit =
      if (sp > 0) {
        sp -= 1
        val f = stFlags(sp)
        topBySlot(stSlot(sp)) = stSame(sp)
        stTag(sp) = null
        if ((f & F_DROP) != 0) dropDepth -= 1
        if ((f & F_BOILER) != 0) boilerDepth -= 1
        if ((f & F_LINK) != 0) linkDepth -= 1
        if ((f & F_CONTAINER) != 0 && cp > 0) cp -= 1
      }

    /** Pop until the name of slot `slot` is found (inclusive); no-op if absent. */
    private def popTo(slot: Int): Unit = {
      val i = topBySlot(slot) - 1
      if (i >= 0) while (sp > i) pop()
    }

    /** Pop down to the nearest open `t1`/`t2` above the nearest `stop1`/`stop2`
      * (all four are table slots).
      */
    private def closeAbove(t1: Int, t2: Int, stop1: Int, stop2: Int): Unit = {
      val top = math.max(topBySlot(t1), topBySlot(t2))
      if (top > math.max(topBySlot(stop1), topBySlot(stop2))) while (sp >= top) pop()
    }

    /** Implied end tags before opening `tag`. */
    private def impliedEnds(tag: String, flags: Int): Unit = {
      if ((flags & F_BLOCK) != 0) while (sp > 0 && stTag(sp - 1) == "p") pop()
      tag match {
        // close an open li above the nearest list boundary
        case "li" => closeAbove(S_LI, S_LI, S_UL, S_OL)
        case "td" | "th" => closeAbove(S_TD, S_TH, S_TR, S_TABLE)
        case "tr" => closeAbove(S_TR, S_TR, S_TABLE, S_TABLE)
        case "dd" | "dt" => closeAbove(S_DD, S_DT, S_DL, S_DL)
        case _ => ()
      }
    }

    /** The tag name `a[from, to)`: its canonical name from the table, or
      * its lowercase copy (name chars are ASCII, so `Locale.ROOT` folds
      * ASCII-only); the flags are `TAB_FLAGS` of `slot`.
      */
    private def tagName(from: Int, to: Int, slot: Int): String =
      if (slot >= 0) TAB_NAME(slot)
      else new String(a, from, to - from).toLowerCase(java.util.Locale.ROOT)

    /** Index of the first `</tag` at or after `from`, the tag compared as
      * `String.regionMatches` ignoring case does; -1 if none.
      */
    private def closeTagAt(tag: String, from: Int): Int = {
      var k = from
      while (k + 1 < n) {
        if (a(k) == '<' && a(k + 1) == '/' && s.regionMatches(true, k + 2, tag, 0, tag.length))
          return k
        k += 1
      }
      -1
    }

    def run(): Vector[RawBlock] = {
      var i = 0
      while (i < n) {
        val c = a(i)
        if (c == '<' && i + 1 < n) {
          val c1 = a(i + 1)
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
            while (j < n && isNameChar(a(j))) j += 1
            if (j == start) {
              // "</" not followed by name: literal text
              appendRun(a, i, i + 1); i += 1
            } else {
              val slot = slotOf(a, start, j)
              val tag = tagName(start, j, slot)
              // skip to '>'
              while (j < n && a(j) != '>') j += 1
              i = if (j < n) j + 1 else n
              if (slot >= 0 && (TAB_FLAGS(slot) & F_BLOCK) != 0) emitBlock()
              popTo(slotFor(tag, slot))
            }
          } else if (isNameStart(c1)) {
            i = startTag(i)
          } else {
            // '<' followed by junk: literal
            appendRun(a, i, i + 1)
            i += 1
          }
        } else if (c == '&') {
          val (d, ni) = Entities.decodeAt(s, i)
          appendRun(d.toCharArray, 0, d.length)
          i = ni
        } else {
          var e = i + 1
          while (e < n && a(e) != '<' && a(e) != '&') e += 1
          appendRun(a, i, e)
          i = e
        }
      }
      emitBlock()
      out.result()
    }

    /** A start tag at `i` (`<` then a name start): returns the index after it. */
    private def startTag(i: Int): Int = {
      var j = i + 1
      val start = j
      while (j < n && isNameChar(a(j))) j += 1
      val slot = slotOf(a, start, j)
      val tag = tagName(start, j, slot)
      val tagFlags = if (slot >= 0) TAB_FLAGS(slot) else 0
      // parse attributes
      var classAttr = ""
      var idAttr = ""
      var selfClosing = false
      var done = false
      while (!done && j < n) {
        // skip ws
        while (j < n && isWs(a(j))) j += 1
        if (j >= n) done = true
        else {
          val ch = a(j)
          if (ch == '>') { j += 1; done = true }
          else if (ch == '/') {
            if (j + 1 < n && a(j + 1) == '>') {
              selfClosing = true; j += 2; done = true
            } else j += 1
          } else {
            // attr name: 1 = class, 2 = id, 0 = any other
            val as = j
            while (j < n && { val x = a(j); x != '=' && x != '>' && x != '/' && !isWs(x) }) j += 1
            val which =
              if (eqFolded(a, as, j - as, "class")) 1 else if (eqFolded(a, as, j - as, "id")) 2 else 0
            while (j < n && isWs(a(j))) j += 1
            var vs = j
            var ve = j
            if (j < n && a(j) == '=') {
              j += 1
              while (j < n && isWs(a(j))) j += 1
              if (j < n && (a(j) == '"' || a(j) == '\'')) {
                val q = a(j)
                vs = j + 1
                var k = vs
                while (k < n && a(k) != q) k += 1
                ve = k
                j = if (k < n) k + 1 else n
              } else {
                vs = j
                while (j < n && { val x = a(j); x != '>' && !isWs(x) }) j += 1
                ve = j
              }
            }
            if (which != 0) {
              val v = new String(a, vs, ve - vs).toLowerCase(java.util.Locale.ROOT)
              if (which == 1) classAttr = v else idAttr = v
            }
          }
        }
      }
      var next = j
      if ((tagFlags & F_BLOCK) != 0) emitBlock()
      if ((tagFlags & F_VOID) == 0 && !selfClosing) {
        impliedEnds(tag, tagFlags)
        val stop =
          (idAttr.nonEmpty && isStopToken(idAttr)) || (classAttr.nonEmpty && stopClassed(classAttr))
        push(tag, slotFor(tag, slot), if (stop) tagFlags | F_BOILER else tagFlags)
        if ((tagFlags & F_RAWTEXT) != 0) {
          // skip to matching close tag, content dropped entirely
          val closeAt = closeTagAt(tag, next)
          if (closeAt < 0) next = n
          else {
            var k = closeAt + 2 + tag.length
            while (k < n && a(k) != '>') k += 1
            next = if (k < n) k + 1 else n
          }
          pop()
        }
      }
      next
    }
  }

  private def isNameStart(c: Char): Boolean =
    (c >= 'a' && c <= 'z') || (c >= 'A' && c <= 'Z')
  private def isNameChar(c: Char): Boolean =
    isNameStart(c) || (c >= '0' && c <= '9') || c == '-' || c == '_' || c == ':'
}
