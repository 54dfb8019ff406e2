package graft.functions

import java.nio.charset.{Charset => JCharset, StandardCharsets}
import java.util.Locale

/** Payload sniffing (F1) and deterministic charset decoding (F2).
  *
  * Decode policy (fixed; feeds the byte-identical output, BASELINE.json:14):
  *   0. UTF-16 BOM (FF FE / FE FF) -> UTF-16LE/BE, BOM stripped (the kind
  *      sniff also decodes the head as UTF-16 first — NUL-interleaved
  *      `<html` would otherwise mis-classify the page as text).
  *   1. UTF-8 BOM (EF BB BF)  -> UTF-8, BOM stripped.
  *   2. `charset=NAME` found in the first 1024 bytes (ASCII, case-insensitive,
  *      e.g. `<meta charset="...">` or http-equiv content) -> the charset the
  *      WHATWG Encoding label maps to, over the fixed allow-list in [[LABELS]]
  *      (the major web encodings the JDK ships: the windows-125x family, CJK
  *      double-byte sets, KOI8, ISO-8859-x). Per the Encoding standard,
  *      latin-1 labels mean windows-1252 and gb2312 means GBK.
  *   3. Otherwise UTF-8.
  * Malformed sequences decode to U+FFFD (REPLACE) — deterministic. The list
  * is FIXED (not `JCharset.isSupported`-driven) so output never depends on
  * the JRE's installed charset providers.
  *
  * Both sniffs read the payload bytes in place: the HTML markers and
  * `charset=` are matched against the first 1024 bytes with ASCII case
  * folding (a non-ASCII byte matches no marker byte), and only the short
  * label is materialized. The decode is `new String(bytes, off, len, cs)`
  * over a charset resolved once per label; the JDK specifies that this
  * constructor replaces malformed and unmappable input with the charset's
  * default replacement, which is the REPLACE/REPLACE decoder policy above.
  */
object Charset {

  /** WHATWG encoding label -> JVM charset name (subset; unknown -> utf-8). */
  private val LABELS: Map[String, String] = Map(
    "utf-8" -> "UTF-8", "utf8" -> "UTF-8",
    "us-ascii" -> "UTF-8", "ascii" -> "UTF-8",
    "iso-8859-1" -> "windows-1252", "latin-1" -> "windows-1252",
    "latin1" -> "windows-1252", "l1" -> "windows-1252",
    "windows-1252" -> "windows-1252", "cp1252" -> "windows-1252",
    "iso-8859-2" -> "ISO-8859-2", "latin2" -> "ISO-8859-2",
    "iso-8859-5" -> "ISO-8859-5",
    "iso-8859-7" -> "ISO-8859-7",
    "iso-8859-9" -> "windows-1254", "windows-1254" -> "windows-1254",
    "iso-8859-15" -> "ISO-8859-15",
    "windows-1250" -> "windows-1250", "cp1250" -> "windows-1250",
    "windows-1251" -> "windows-1251", "cp1251" -> "windows-1251",
    "windows-1256" -> "windows-1256",
    "koi8-r" -> "KOI8-R", "koi8" -> "KOI8-R",
    "gbk" -> "GBK", "gb2312" -> "GBK", "gb-2312" -> "GBK",
    "gb18030" -> "GB18030",
    "big5" -> "Big5", "big5-hkscs" -> "Big5-HKSCS",
    "shift_jis" -> "Shift_JIS", "shift-jis" -> "Shift_JIS",
    "sjis" -> "Shift_JIS", "ms_kanji" -> "Shift_JIS",
    "euc-jp" -> "EUC-JP",
    "euc-kr" -> "EUC-KR", "ks_c_5601-1987" -> "EUC-KR"
  )
  /** The charsets of [[LABELS]], each resolved once. */
  private val LABEL_CS: Map[String, JCharset] =
    LABELS.map { case (label, name) => label -> JCharset.forName(name) }

  val KIND_HTML = "html"
  val KIND_PDF = "pdf"
  val KIND_TEXT = "text"
  val KIND_EMPTY = "empty"

  private val PDF_MAGIC = "%PDF-".getBytes("US-ASCII")
  /** Bytes of the head that are sniffed for markers and `charset=`. */
  private final val HEAD = 1024
  private val HTML_MARKERS =
    Array("<!doctype", "<html", "<head", "<body").map(_.getBytes("US-ASCII"))
  private val CHARSET_EQ = "charset=".getBytes("US-ASCII")

  /** UTF-16 BOM detection: 2 = LE (FF FE), 1 = BE (FE FF), 0 = none. */
  private def utf16Bom(bytes: Array[Byte]): Int =
    if (bytes.length >= 2 && (bytes(0) & 0xff) == 0xff && (bytes(1) & 0xff) == 0xfe) 2
    else if (bytes.length >= 2 && (bytes(0) & 0xff) == 0xfe && (bytes(1) & 0xff) == 0xff) 1
    else 0

  private def utf8Bom(bytes: Array[Byte]): Boolean =
    bytes.length >= 3 && (bytes(0) & 0xff) == 0xef && (bytes(1) & 0xff) == 0xbb && (bytes(2) & 0xff) == 0xbf

  /** Classify raw payload bytes: empty | pdf | html | text. A UTF-16 BOM
    * switches the head sniff to UTF-16 decoding — otherwise `<html` is
    * NUL-interleaved and an HTML page would mis-classify as text.
    */
  def sniffKind(bytes: Array[Byte]): String = {
    if (bytes == null || bytes.isEmpty) return KIND_EMPTY
    if (startsWith(bytes, PDF_MAGIC)) return KIND_PDF
    val html =
      if (utf16Bom(bytes) != 0) {
        val cs = if (utf16Bom(bytes) == 2) "UTF-16LE" else "UTF-16BE"
        val n = math.min(bytes.length, 2048)
        val head = new String(bytes, 2, n - 2, cs).toLowerCase(Locale.ROOT)
        head.contains("<!doctype") || head.contains("<html") || head.contains("<head") || head.contains("<body")
      } else {
        val m = math.min(bytes.length, HEAD)
        var found = false
        var i = 0
        while (!found && i < m) {
          if (bytes(i) == '<') {
            var k = 0
            while (!found && k < HTML_MARKERS.length) {
              found = matchesFolded(bytes, m, i, HTML_MARKERS(k))
              k += 1
            }
          }
          i += 1
        }
        found
      }
    if (html) KIND_HTML else KIND_TEXT
  }

  /** Sniff the charset name per the policy above. */
  def sniffCharset(bytes: Array[Byte]): String =
    if (utf8Bom(bytes)) "utf-8" else LABELS.getOrElse(headLabel(bytes), "UTF-8")

  /** Decode bytes to a String under the fixed policy (UTF-16 BOMs beat the
    * meta label exactly like the UTF-8 BOM does).
    */
  def decode(bytes: Array[Byte]): String = {
    if (bytes == null || bytes.isEmpty) return ""
    val u16 = utf16Bom(bytes)
    if (u16 == 2) new String(bytes, 2, bytes.length - 2, StandardCharsets.UTF_16LE)
    else if (u16 == 1) new String(bytes, 2, bytes.length - 2, StandardCharsets.UTF_16BE)
    else if (utf8Bom(bytes)) new String(bytes, 3, bytes.length - 3, StandardCharsets.UTF_8)
    else new String(bytes, LABEL_CS.getOrElse(headLabel(bytes), StandardCharsets.UTF_8))
  }

  private def startsWith(b: Array[Byte], prefix: Array[Byte]): Boolean = {
    if (b.length < prefix.length) return false
    var i = 0
    while (i < prefix.length) { if (b(i) != prefix(i)) return false; i += 1 }
    true
  }

  /** ASCII lowercase of one byte; a non-ASCII byte stays >= 0x80, so it
    * matches no byte of an ASCII pattern.
    */
  private def fold(b: Byte): Int = {
    val c = b & 0xff
    if (c >= 'A' && c <= 'Z') c + 32 else c
  }

  /** Does lowercase ASCII `pat` occur at `at`, wholly inside the first `m`
    * bytes of `b`, under ASCII case folding?
    */
  private def matchesFolded(b: Array[Byte], m: Int, at: Int, pat: Array[Byte]): Boolean = {
    if (at + pat.length > m) return false
    var k = 0
    while (k < pat.length && fold(b(at + k)) == pat(k)) k += 1
    k == pat.length
  }

  /** The label after the first `charset=` in the head, ASCII-lowercased:
    * an optional quote, then the run of `[a-z0-9_-]` (case-folded) that
    * ends inside the head; "" when the head has no `charset=`.
    */
  private def headLabel(b: Array[Byte]): String = {
    val m = math.min(b.length, HEAD)
    var i = 0
    while (i < m && !(fold(b(i)) == 'c' && matchesFolded(b, m, i, CHARSET_EQ))) i += 1
    if (i >= m) return ""
    var j = i + CHARSET_EQ.length
    if (j < m && (b(j) == '"' || b(j) == '\'')) j += 1
    val start = j
    while (
      j < m && {
        val c = fold(b(j))
        (c >= 'a' && c <= 'z') || (c >= '0' && c <= '9') || c == '-' || c == '_'
      }
    ) j += 1
    val label = new Array[Char](j - start)
    var k = 0
    while (k < label.length) { label(k) = fold(b(start + k)).toChar; k += 1 }
    new String(label)
  }

  /** Canonical whitespace normalization shared by every text-producing path:
    * all Unicode whitespace (Character.isWhitespace) plus NBSP collapses to a
    * single ASCII space; leading/trailing stripped. This is THE whitespace
    * policy of the byte-identical output.
    */
  def normalizeWs(s: String): String = {
    val n = s.length
    val sb = new java.lang.StringBuilder(n)
    var i = 0
    var pendingSpace = false
    while (i < n) {
      val c = s.charAt(i)
      if (Character.isWhitespace(c) || c == '\u00a0') {
        if (sb.length > 0) pendingSpace = true
      } else {
        if (pendingSpace) { sb.append(' '); pendingSpace = false }
        sb.append(c)
      }
      i += 1
    }
    sb.toString
  }
}
