package graft.functions

import java.nio.charset.{Charset => JCharset, CodingErrorAction}
import java.nio.ByteBuffer

/** Test-only reference: the sniff and decode that [[Charset]] replaced,
  * kept verbatim (the head viewed as a lowercase ASCII `String`, a
  * `CharsetDecoder` with REPLACE/REPLACE per page) so the differential
  * specs can hold the byte-level versions to the same output.
  */
object CharsetReference {

  /** WHATWG encoding label -> JVM charset name (subset; unknown -> utf-8). */
  val LABELS: Map[String, String] = Map(
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
  val KIND_HTML = "html"
  val KIND_PDF = "pdf"
  val KIND_TEXT = "text"
  val KIND_EMPTY = "empty"

  private val PDF_MAGIC = "%PDF-".getBytes("US-ASCII")

  /** UTF-16 BOM detection: 2 = LE (FF FE), 1 = BE (FE FF), 0 = none. */
  private def utf16Bom(bytes: Array[Byte]): Int =
    if (bytes.length >= 2 && (bytes(0) & 0xff) == 0xff && (bytes(1) & 0xff) == 0xfe) 2
    else if (bytes.length >= 2 && (bytes(0) & 0xff) == 0xfe && (bytes(1) & 0xff) == 0xff) 1
    else 0

  /** Classify raw payload bytes: empty | pdf | html | text. A UTF-16 BOM
    * switches the head sniff to UTF-16 decoding — otherwise `<html` is
    * NUL-interleaved and an HTML page would mis-classify as text.
    */
  def sniffKind(bytes: Array[Byte]): String = {
    if (bytes == null || bytes.isEmpty) return KIND_EMPTY
    if (startsWith(bytes, PDF_MAGIC)) return KIND_PDF
    val head =
      if (utf16Bom(bytes) != 0) {
        val cs = if (utf16Bom(bytes) == 2) "UTF-16LE" else "UTF-16BE"
        val n = math.min(bytes.length, 2048)
        new String(bytes, 2, n - 2, cs).toLowerCase
      } else asciiLowerHead(bytes, 1024)
    if (head.contains("<!doctype") || head.contains("<html") || head.contains("<head") || head.contains("<body"))
      KIND_HTML
    else KIND_TEXT
  }

  /** Sniff the charset name per the policy above. */
  def sniffCharset(bytes: Array[Byte]): String = {
    if (bytes.length >= 3 && (bytes(0) & 0xff) == 0xef && (bytes(1) & 0xff) == 0xbb && (bytes(2) & 0xff) == 0xbf)
      return "utf-8"
    val head = asciiLowerHead(bytes, 1024)
    val i = head.indexOf("charset=")
    if (i >= 0) {
      var j = i + 8
      // optional quote
      if (j < head.length && (head.charAt(j) == '"' || head.charAt(j) == '\'')) j += 1
      val start = j
      while (
        j < head.length && {
          val c = head.charAt(j)
          (c >= 'a' && c <= 'z') || (c >= '0' && c <= '9') || c == '-' || c == '_'
        }
      ) j += 1
      LABELS.getOrElse(head.substring(start, j), "UTF-8")
    } else "UTF-8"
  }

  /** Decode bytes to a String under the fixed policy (UTF-16 BOMs beat the
    * meta label exactly like the UTF-8 BOM does).
    */
  def decode(bytes: Array[Byte]): String = {
    if (bytes == null || bytes.isEmpty) return ""
    val u16 = utf16Bom(bytes)
    val hasBom8 =
      bytes.length >= 3 && (bytes(0) & 0xff) == 0xef && (bytes(1) & 0xff) == 0xbb && (bytes(2) & 0xff) == 0xbf
    val (name, off) =
      if (u16 == 2) ("UTF-16LE", 2)
      else if (u16 == 1) ("UTF-16BE", 2)
      else if (hasBom8) ("UTF-8", 3)
      else (sniffCharset(bytes), 0)
    val dec = JCharset.forName(name)
      .newDecoder()
      .onMalformedInput(CodingErrorAction.REPLACE)
      .onUnmappableCharacter(CodingErrorAction.REPLACE)
    dec.decode(ByteBuffer.wrap(bytes, off, bytes.length - off)).toString
  }

  private def startsWith(b: Array[Byte], prefix: Array[Byte]): Boolean = {
    if (b.length < prefix.length) return false
    var i = 0
    while (i < prefix.length) { if (b(i) != prefix(i)) return false; i += 1 }
    true
  }

  /** First `n` bytes viewed as lowercase ASCII (non-ASCII -> '?'). */
  private def asciiLowerHead(b: Array[Byte], n: Int): String = {
    val m = math.min(b.length, n)
    val sb = new java.lang.StringBuilder(m)
    var i = 0
    while (i < m) {
      val c = b(i) & 0xff
      if (c < 0x80) {
        val ch = c.toChar
        sb.append(if (ch >= 'A' && ch <= 'Z') (ch + 32).toChar else ch)
      } else sb.append('?')
      i += 1
    }
    sb.toString
  }
}
