package graft.operators

import graft.functions.Charset
import scala.collection.mutable.ArrayBuffer
import scala.util.control.NonFatal

/** Minimal PDF text extractor (SURVEY.md §2.3 D5): positioned text runs from
  * content streams. Deliberately bounded scope (deterministic everywhere):
  *
  *   - Streams: raw (no /Filter) or /FlateDecode (java.util.zip.Inflater).
  *     Any other filter is skipped; a PDF with no decodable content stream is
  *     `pdf_unsupported` (None).
  *   - Text operators: BT/ET, Tf (font size), TL, Td, TD, Tm, T*, Tj, TJ,
  *     ' and ". Literal strings with \-escapes (incl. octal) and <hex>
  *     strings. Bytes decode as windows-1252 (ASCII superset) — no embedded
  *     CMaps/ToUnicode in scope.
  *   - Coordinates: the text-line origin (x, y) at each show-text operator,
  *     rounded to integer PDF units. No width advance between shows — the
  *     y/x sort-and-merge downstream (Classify.linesFromPdfRuns) restores
  *     reading order.
  *   - Pages: the page tree (`/Type /Pages` + `/Kids`, nested trees, direct
  *     or one-level-indirect `/Contents` refs) is parsed over a
  *     stream-payload-masked ASCII view so every emitted run carries its
  *     PAGE ORDINAL in `RawBlock.depth` (an otherwise-unused field on the
  *     PDF branch). Downstream reading order sorts `(page, -y, x, seq)` —
  *     without the page key, page 2's y=700 line would interleave with page
  *     1's y=700 line. Fallbacks: a single-stream file is page 0 with no
  *     metadata scan at all; with a parsed tree, streams the walk cannot
  *     attribute (fonts, xobjects) share one trailing pseudo-page so their
  *     runs still y-merge with each other; with no parseable tree (e.g.
  *     page dicts inside object streams) each content stream becomes its
  *     own page — multi-page documents stay non-interleaved at the cost of
  *     not merging a single page that a writer split across streams.
  *
  * Never throws: any structural surprise -> None (pdf_unsupported).
  */
object PdfRuns {

  def parse(bytes: Array[Byte]): Option[Vector[RawBlock]] = {
    try {
      val streams = contentStreams(bytes)
      if (streams.isEmpty) return None
      // single stream: its runs are page 0 whatever the page tree says —
      // skip the whole-file metadata scan (the common case and the hot path)
      val pageOf =
        if (streams.length == 1) Map.empty[Int, Int]
        else pageContentsMap(bytes) // content-stream objNum -> page ordinal
      val nPages = if (pageOf.isEmpty) 0 else pageOf.values.max + 1
      val runs = ArrayBuffer.empty[RawBlock]
      var seq = 0
      streams.zipWithIndex.foreach { case ((objNum, data), ordinal) =>
        val page =
          if (streams.length == 1) 0
          else if (pageOf.isEmpty) ordinal // no page tree: stream order IS page order
          else
            // unmapped streams (fonts, xobjects, or content the tree walk
            // could not attribute) all share ONE trailing pseudo-page: their
            // runs keep merging with each other exactly as the pre-page-tree
            // code merged everything, instead of splitting per stream
            pageOf.getOrElse(objNum, nPages)
        val s = new String(data, java.nio.charset.Charset.forName("windows-1252"))
        seq = interpret(s, runs, seq, page)
      }
      Some(runs.toVector)
    } catch { case NonFatal(_) => None }
  }

  /** `(objectNumber, decodedBytes)` of every decodable stream object in the
    * file, in file order. Object number is -1 when the `N 0 obj` header is
    * not visible in the 512-byte window before the stream keyword.
    */
  private def contentStreams(bytes: Array[Byte]): Vector[(Int, Array[Byte])] = {
    val out = ArrayBuffer.empty[(Int, Array[Byte])]
    val n = bytes.length
    var i = 0
    val kw = "stream".getBytes("US-ASCII")
    val endKw = "endstream".getBytes("US-ASCII")
    while (i < n) {
      val p = indexOf(bytes, kw, i)
      if (p < 0) { i = n }
      else if (p >= 3 && bytes(p - 3) == 'e' && bytes(p - 2) == 'n' && bytes(p - 1) == 'd') {
        i = p + kw.length // this was "endstream"
      } else {
        // stream data starts after CRLF or LF
        var ds = p + kw.length
        if (ds < n && bytes(ds) == '\r') ds += 1
        if (ds < n && bytes(ds) == '\n') ds += 1
        val de = indexOf(bytes, endKw, ds)
        if (de < 0) { i = n }
        else {
          // trailing EOL before endstream belongs to the marker, not the data
          var realEnd = de
          if (realEnd > ds && bytes(realEnd - 1) == '\n') realEnd -= 1
          if (realEnd > ds && bytes(realEnd - 1) == '\r') realEnd -= 1
          val window = asciiWindowBefore(bytes, p)
          val dict = dictOf(window)
          val objNum = objNumOf(window)
          val data = java.util.Arrays.copyOfRange(bytes, ds, realEnd)
          if (!dict.contains("/Filter")) out += ((objNum, data))
          else if (dict.contains("/FlateDecode"))
            inflate(data).foreach(d => out += ((objNum, d)))
          // other filters: skipped
          i = de + endKw.length
        }
      }
    }
    out.toVector
  }

  /** ASCII view of up to 512 bytes before the `stream` keyword — enough to
    * see the `N 0 obj` header and the stream dictionary's /Filter entry in
    * any sane PDF.
    */
  private def asciiWindowBefore(bytes: Array[Byte], p: Int): String = {
    val from = math.max(0, p - 512)
    asciiView(bytes, from, p)
  }

  /** ASCII projection of the whole file with stream PAYLOAD spans blanked,
    * in ONE pass and ONE allocation: compressed bytes which happen to form
    * printable ASCII cannot fabricate object headers or page dictionaries
    * during the metadata scan, and the hot path pays no extra copies.
    */
  private def maskedAsciiView(bytes: Array[Byte]): String = {
    val n = bytes.length
    val kw = "stream".getBytes("US-ASCII")
    val endKw = "endstream".getBytes("US-ASCII")
    val sb = new java.lang.StringBuilder(n)
    var i = 0
    while (i < n) {
      val p = indexOf(bytes, kw, i)
      val isEnd = p >= 3 && bytes(p - 3) == 'e' && bytes(p - 2) == 'n' && bytes(p - 1) == 'd'
      if (p < 0) { appendAscii(sb, bytes, i, n); i = n }
      else if (isEnd) { appendAscii(sb, bytes, i, p + kw.length); i = p + kw.length }
      else {
        val de = indexOf(bytes, endKw, p + kw.length)
        val end = if (de < 0) n else de
        appendAscii(sb, bytes, i, p + kw.length) // keep the keyword itself
        var k = p + kw.length
        while (k < end) { sb.append(' '); k += 1 } // blank the payload
        i = end
      }
    }
    sb.toString
  }

  private def appendAscii(sb: java.lang.StringBuilder, b: Array[Byte], from: Int, to: Int): Unit = {
    var i = from
    while (i < to) {
      val c = b(i) & 0xff
      sb.append(if (c >= 0x20 && c <= 0x7e) c.toChar else ' ')
      i += 1
    }
  }

  /** Printable-ASCII projection (non-printables become spaces) — safe to
    * regex: binary stream payloads degrade to space runs.
    */
  private def asciiView(bytes: Array[Byte], from: Int, to: Int): String = {
    val sb = new java.lang.StringBuilder(to - from)
    var i = from
    while (i < to) {
      val c = bytes(i) & 0xff
      sb.append(if (c >= 0x20 && c <= 0x7e) c.toChar else ' ')
      i += 1
    }
    sb.toString
  }

  /** The stream's dictionary text (from its last `obj` keyword on). */
  private def dictOf(window: String): String = {
    val objAt = window.lastIndexOf(" obj")
    if (objAt >= 0) window.substring(objAt) else window
  }

  /** The object number of the last `N G obj` header in the window, or -1. */
  private def objNumOf(window: String): Int = {
    val objAt = window.lastIndexOf(" obj")
    if (objAt < 0) return -1
    // walk back over "<gen>" then "<num>"
    var i = objAt - 1
    def skipWs(): Unit = { while (i >= 0 && window.charAt(i) == ' ') i -= 1 }
    def readNum(): Int = {
      val end = i
      while (i >= 0 && window.charAt(i) >= '0' && window.charAt(i) <= '9') i -= 1
      if (end == i) -1
      else
        try window.substring(i + 1, end + 1).toInt
        catch { case _: NumberFormatException => -1 }
    }
    skipWs()
    if (readNum() < 0) return -1 // generation number
    skipWs()
    readNum()
  }

  private val PagesDictRe = "/Type\\s*/Pages".r
  private val PageDictRe = "/Type\\s*/Page(?![a-zA-Z])".r
  private val KidsRe = "/Kids\\s*\\[([^\\]]*)\\]".r
  // a reference or an object header starts only where a digit run starts:
  // a match from inside a run sees the run's own suffix, so it fails exactly
  // when the match from the run's start does, and a long run of digits is
  // scanned once, not once per digit
  private val RefRe = "(?<![0-9])(\\d+)\\s+\\d+\\s+R".r
  private val ContentsArrRe = "/Contents\\s*\\[([^\\]]*)\\]".r
  private val ContentsRefRe = "/Contents\\s+(\\d+)\\s+\\d+\\s+R".r
  private val ObjHeaderRe = "(?<![0-9])(\\d+)\\s+\\d+\\s+obj".r

  /** Map of content-stream object number -> 0-based page ordinal, by walking
    * the page tree (`/Kids` DFS, page order = Kids order). Empty map when no
    * page tree is parseable (caller falls back to stream file order).
    */
  private[operators] def pageContentsMap(bytes: Array[Byte]): Map[Int, Int] = {
    try {
      // ASCII view with stream PAYLOADS blanked: compressed bytes can
      // accidentally spell "N 0 obj" / "/Type /Page" and fabricate metadata
      val view = maskedAsciiView(bytes)
      // every object's dictionary text, keyed by object number (first wins)
      val headers = ObjHeaderRe.findAllMatchIn(view).toVector
      val dicts = scala.collection.mutable.Map.empty[Int, String]
      headers.indices.foreach { h =>
        val m = headers(h)
        val objNum = m.group(1).toInt
        if (!dicts.contains(objNum)) {
          val end =
            if (h + 1 < headers.length) headers(h + 1).start else view.length
          val text = view.substring(m.end, end)
          val cut = text.indexOf("endobj")
          dicts(objNum) = if (cut >= 0) text.substring(0, cut) else text
        }
      }
      val pagesNodes = dicts.collect {
        case (n, d) if PagesDictRe.findFirstIn(d).isDefined => n
      }.toSet
      if (pagesNodes.isEmpty) return Map.empty
      val kidsOf: Map[Int, Vector[Int]] = pagesNodes.map { n =>
        n -> KidsRe
          .findFirstMatchIn(dicts(n))
          .map(k => RefRe.findAllMatchIn(k.group(1)).map(_.group(1).toInt).toVector)
          .getOrElse(Vector.empty)
      }.toMap
      // root(s): Pages nodes not referenced as a kid of another Pages node
      val allKids = kidsOf.values.flatten.toSet
      val roots = pagesNodes.toVector.filterNot(allKids.contains).sorted
      val contentsOf = scala.collection.mutable.Map.empty[Int, Int] // obj -> page
      var page = 0
      val visited = scala.collection.mutable.Set.empty[Int]
      def visit(node: Int, depth: Int): Unit = {
        if (depth > 64 || !visited.add(node)) return
        if (pagesNodes.contains(node)) {
          kidsOf.getOrElse(node, Vector.empty).foreach(visit(_, depth + 1))
        } else {
          dicts.get(node).foreach { d =>
            if (PageDictRe.findFirstIn(d).isDefined) {
              val direct = ContentsArrRe
                .findFirstMatchIn(d)
                .map(m => RefRe.findAllMatchIn(m.group(1)).map(_.group(1).toInt).toVector)
                .orElse(ContentsRefRe.findFirstMatchIn(d).map(m => Vector(m.group(1).toInt)))
                .getOrElse(Vector.empty)
              // one level of indirection: `/Contents 5 0 R` where object 5
              // is itself a bare ARRAY of stream refs `[6 0 R 7 0 R]`
              val refs = direct.flatMap { r =>
                dicts.get(r) match {
                  case Some(body) if body.trim.startsWith("[") =>
                    RefRe.findAllMatchIn(body).map(_.group(1).toInt).toVector
                  case _ => Vector(r)
                }
              }
              refs.foreach(r => if (!contentsOf.contains(r)) contentsOf(r) = page)
              page += 1
            }
          }
        }
      }
      roots.foreach(visit(_, 0))
      contentsOf.toMap
    } catch { case NonFatal(_) => Map.empty }
  }

  private def inflate(data: Array[Byte]): Option[Array[Byte]] = {
    try {
      val inf = new java.util.zip.Inflater()
      inf.setInput(data)
      val out = new java.io.ByteArrayOutputStream(data.length * 4)
      val buf = new Array[Byte](8192)
      val maxIters = 1 << 16
      var guard = 0
      while (!inf.finished() && guard < maxIters) {
        val k = inf.inflate(buf)
        if (k == 0 && inf.needsInput()) guard = maxIters // truncated
        else out.write(buf, 0, k)
        guard += 1
      }
      inf.end()
      Some(out.toByteArray)
    } catch { case NonFatal(_) => None }
  }

  private def indexOf(hay: Array[Byte], needle: Array[Byte], from: Int): Int = {
    val n = hay.length
    val m = needle.length
    var i = math.max(from, 0)
    while (i + m <= n) {
      var j = 0
      while (j < m && hay(i + j) == needle(j)) j += 1
      if (j == m) return i
      i += 1
    }
    -1
  }

  // ---- content-stream interpreter ----

  private def interpret(s: String, out: ArrayBuffer[RawBlock], seq0: Int, page: Int): Int = {
    var seq = seq0
    val n = s.length
    var i = 0
    var x = 0.0
    var y = 0.0
    var lineX = 0.0 // text-line origin (Td/TD/Tm/T* move this)
    var lineY = 0.0
    var leading = 0.0
    var fontSize = 12.0
    var inText = false
    // operand stack: numbers and strings since the last operator
    val nums = ArrayBuffer.empty[Double]
    val strs = ArrayBuffer.empty[String]

    def emit(text: String): Unit = {
      val norm = Charset.normalizeWs(text)
      if (norm.nonEmpty && inText) {
        var words = 1
        var k = 0
        while (k < norm.length) { if (norm.charAt(k) == ' ') words += 1; k += 1 }
        out += RawBlock(
          seq = seq,
          tag = "pdf",
          depth = page, // PDF branch: depth carries the page ordinal (see header)
          text = norm,
          textLen = norm.length,
          linkChars = 0,
          wordCount = words,
          parentSeq = 0,
          flags = 0,
          x = math.round(x).toInt,
          y = math.round(y).toInt,
          w = math.round(fontSize * norm.length / 2).toInt,
          h = math.round(fontSize).toInt
        )
        seq += 1
      }
    }

    def op(name: String): Unit = {
      name match {
        case "BT" =>
          inText = true; x = 0; y = 0; lineX = 0; lineY = 0
        case "ET" => inText = false
        case "Tf" => if (nums.nonEmpty) fontSize = nums.last
        case "TL" => if (nums.nonEmpty) leading = nums.last
        case "Td" =>
          if (nums.length >= 2) {
            lineX += nums(nums.length - 2); lineY += nums.last
            x = lineX; y = lineY
          }
        case "TD" =>
          if (nums.length >= 2) {
            leading = -nums.last
            lineX += nums(nums.length - 2); lineY += nums.last
            x = lineX; y = lineY
          }
        case "Tm" =>
          if (nums.length >= 6) {
            lineX = nums(nums.length - 2); lineY = nums.last
            x = lineX; y = lineY
          }
        case "T*" =>
          lineY -= leading; x = lineX; y = lineY
        case "Tj" => if (strs.nonEmpty) emit(strs.last)
        case "TJ" => if (strs.nonEmpty) emit(strs.mkString)
        case "'" =>
          lineY -= leading; x = lineX; y = lineY
          if (strs.nonEmpty) emit(strs.last)
        case "\"" =>
          lineY -= leading; x = lineX; y = lineY
          if (strs.nonEmpty) emit(strs.last)
        case _ => () // drawing/state operators: ignored
      }
      nums.clear(); strs.clear()
    }

    while (i < n) {
      val c = s.charAt(i)
      if (c == '%') { // comment to EOL
        while (i < n && s.charAt(i) != '\n') i += 1
      } else if (c == '(') {
        val (str, ni) = literalString(s, i)
        strs += str; i = ni
      } else if (c == '<' && i + 1 < n && s.charAt(i + 1) != '<') {
        val (str, ni) = hexString(s, i)
        strs += str; i = ni
      } else if (c == '<' || c == '>') { // dict delimiters inside BT? skip
        i += 1
      } else if (c == '[' || c == ']') {
        i += 1 // TJ arrays: strings collected, numbers (kerning) ignored via nums
      } else if (c == '/') {
        i += 1
        while (i < n && !isDelim(s.charAt(i))) i += 1 // name: ignored
      } else if (c == '-' || c == '+' || c == '.' || (c >= '0' && c <= '9')) {
        val st = i
        i += 1
        while (i < n && (s.charAt(i) == '.' || (s.charAt(i) >= '0' && s.charAt(i) <= '9'))) i += 1
        try nums += java.lang.Double.parseDouble(s.substring(st, i))
        catch { case _: NumberFormatException => () }
      } else if (Character.isWhitespace(c)) {
        i += 1
      } else {
        // operator token
        val st = i
        while (i < n && !isDelim(s.charAt(i)) && !Character.isWhitespace(s.charAt(i))) i += 1
        if (i > st) op(s.substring(st, i)) else i += 1
      }
    }
    seq
  }

  private def isDelim(c: Char): Boolean =
    c == '(' || c == ')' || c == '<' || c == '>' || c == '[' || c == ']' ||
      c == '{' || c == '}' || c == '/' || c == '%' || Character.isWhitespace(c)

  /** PDF literal string starting at '(': handles \-escapes, octal, nesting. */
  private def literalString(s: String, start: Int): (String, Int) = {
    val sb = new java.lang.StringBuilder
    var i = start + 1
    var depth = 1
    val n = s.length
    while (i < n && depth > 0) {
      val c = s.charAt(i)
      if (c == '\\' && i + 1 < n) {
        val e = s.charAt(i + 1)
        e match {
          case 'n' => sb.append('\n'); i += 2
          case 'r' => sb.append('\r'); i += 2
          case 't' => sb.append('\t'); i += 2
          case 'b' => sb.append('\b'); i += 2
          case 'f' => sb.append('\f'); i += 2
          case '(' => sb.append('('); i += 2
          case ')' => sb.append(')'); i += 2
          case '\\' => sb.append('\\'); i += 2
          case '\n' => i += 2 // line continuation
          case d if d >= '0' && d <= '7' =>
            var code = 0
            var k = i + 1
            while (k < n && k < i + 4 && s.charAt(k) >= '0' && s.charAt(k) <= '7') {
              code = code * 8 + (s.charAt(k) - '0')
              k += 1
            }
            sb.append((code & 0xff).toChar)
            i = k
          case other => sb.append(other); i += 2
        }
      } else if (c == '(') { depth += 1; sb.append(c); i += 1 }
      else if (c == ')') {
        depth -= 1
        if (depth > 0) sb.append(c)
        i += 1
      } else { sb.append(c); i += 1 }
    }
    (sb.toString, i)
  }

  /** PDF hex string starting at '<'. */
  private def hexString(s: String, start: Int): (String, Int) = {
    val sb = new java.lang.StringBuilder
    var i = start + 1
    val n = s.length
    var hi = -1
    while (i < n && s.charAt(i) != '>') {
      val c = s.charAt(i)
      val v =
        if (c >= '0' && c <= '9') c - '0'
        else if (c >= 'a' && c <= 'f') c - 'a' + 10
        else if (c >= 'A' && c <= 'F') c - 'A' + 10
        else -1
      if (v >= 0) {
        if (hi < 0) hi = v
        else { sb.append(((hi << 4) | v).toChar); hi = -1 }
      }
      i += 1
    }
    if (hi >= 0) sb.append((hi << 4).toChar) // odd count: pad with 0
    (sb.toString, if (i < n) i + 1 else n)
  }
}
