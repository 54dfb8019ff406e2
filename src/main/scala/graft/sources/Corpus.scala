package graft.sources

import graft.Page
import graft.functions.Rng
import java.sql.Timestamp
import java.util.Locale

/** Deterministic synthetic Common-Crawl-style corpus (SURVEY.md §2.1 S2,
  * FIXTURES.md §1). Every page is a pure function of (seed, index) — no
  * mutable RNG, so generation distributes over `spark.range(n)` with
  * byte-identical results at any parallelism (the determinism property the
  * whole engine is tested against).
  *
  * Dimensions (FIXTURES.md): 10 HTML templates (article, link-farm,
  * comments-heavy, table-layout, pre, empty-body, malformed, script-heavy,
  * cdata-trap, entity-dense) x charsets (utf-8, BOM, latin-1/meta, none) x
  * langs (en, de, es, fr, zh) x payload kinds (html, flate PDF, raw PDF,
  * unsupported-filter PDF, plain text, garbage, empty) x Zipf-skewed hosts.
  */
object Corpus {

  val DEFAULT_SEED = 20260816L

  private val hosts: Array[String] =
    (0 until 50).map(i => s"host$i.example.org").toArray

  private val langs = Array("en", "de", "es", "fr", "zh")

  private val words: Map[String, Array[String]] = Map(
    "en" -> Array("the", "quick", "brown", "fox", "jumps", "over", "lazy",
      "river", "mountain", "story", "report", "market", "signal", "window",
      "garden", "stone", "light", "water", "paper", "answer", "question",
      "evening", "morning", "people", "city", "road", "winter", "summer",
      "letter", "music"),
    "de" -> Array("der", "schnelle", "braune", "fuchs", "springt", "über",
      "faulen", "fluss", "berg", "geschichte", "bericht", "markt", "signal",
      "fenster", "garten", "stein", "licht", "wasser", "papier", "antwort",
      "frage", "abend", "morgen", "leute", "stadt", "straße", "winter",
      "sommer", "brief", "musik"),
    "es" -> Array("el", "rápido", "zorro", "marrón", "salta", "sobre",
      "perezoso", "río", "montaña", "historia", "informe", "mercado",
      "señal", "ventana", "jardín", "piedra", "luz", "agua", "papel",
      "respuesta", "pregunta", "tarde", "mañana", "gente", "ciudad",
      "camino", "invierno", "verano", "carta", "música"),
    "fr" -> Array("le", "rapide", "renard", "brun", "saute", "par", "dessus",
      "rivière", "montagne", "histoire", "rapport", "marché", "signal",
      "fenêtre", "jardin", "pierre", "lumière", "eau", "papier", "réponse",
      "question", "soir", "matin", "gens", "ville", "route", "hiver",
      "été", "lettre", "musique"),
    "zh" -> Array("山", "河", "故事", "报告", "市场", "信号", "窗口", "花园",
      "石头", "灯光", "水", "纸", "答案", "问题", "晚上", "早晨", "人们",
      "城市", "道路", "冬天", "夏天", "信", "音乐", "快", "狐狸", "跳",
      "懒", "树", "云", "风")
  )

  // ---- deterministic text building ----

  private def word(seed: Long, i: Long, lang: String, k: Int): String = {
    val ws = words(lang)
    ws(Rng.nextInt(seed, 100L + k, i, ws.length))
  }

  def sentence(seed: Long, i: Long, lang: String, sIdx: Int): String = {
    val n = 5 + Rng.nextInt(seed, 200L + sIdx, i, 10)
    val sb = new StringBuilder
    var k = 0
    while (k < n) {
      if (k > 0) sb.append(' ')
      sb.append(word(seed, i, lang, sIdx * 31 + k))
      k += 1
    }
    if (lang == "zh") sb.append('。') else sb.append('.')
    val s = sb.toString
    if (lang == "zh") s else s.substring(0, 1).toUpperCase(Locale.ROOT) + s.substring(1)
  }

  def paragraph(seed: Long, i: Long, lang: String, pIdx: Int): String = {
    val n = 2 + Rng.nextInt(seed, 300L + pIdx, i, 5)
    (0 until n).map(s => sentence(seed, i, lang, pIdx * 101 + s)).mkString(" ")
  }

  def title(seed: Long, i: Long, lang: String): String =
    (0 until (3 + Rng.nextInt(seed, 400L, i, 4)))
      .map(k => word(seed, i, lang, 4000 + k))
      .mkString(" ")

  private def navLinks(seed: Long, i: Long, lang: String, m: Int): String =
    (0 until m)
      .map(k =>
        s"""<li><a href="/cat${k}">${word(seed, i, lang, 5000 + k)} ${word(seed, i, lang, 5100 + k)}</a></li>"""
      )
      .mkString("")

  // ---- HTML templates ----

  private def articleBody(seed: Long, i: Long, lang: String): String = {
    val nPara = 3 + Rng.nextInt(seed, 500L, i, 8)
    val sb = new StringBuilder
    sb.append(s"<h1>${title(seed, i, lang)}</h1>")
    var p = 0
    while (p < nPara) {
      if (p == 2 && Rng.nextInt(seed, 501L, i, 2) == 0)
        sb.append(s"<h2>${title(seed, i, lang)}</h2>")
      sb.append(s"<p>${paragraph(seed, i, lang, p)}</p>")
      p += 1
    }
    sb.toString
  }

  private def chrome(seed: Long, i: Long, lang: String, inner: String): String = {
    s"""<header><div class="logo">Site ${Rng.nextInt(seed, 600L, i, 99)}</div>
<nav><ul>${navLinks(seed, i, lang, 6)}</ul></nav></header>
<div class="sidebar"><h3>Popular</h3><ul>${navLinks(seed, i, lang, 8)}</ul></div>
<main>$inner</main>
<div class="ad">Buy ${word(seed, i, lang, 7000)} now! <a href="/buy">click</a></div>
<footer><p>© 2026 example — <a href="/terms">terms</a> <a href="/privacy">privacy</a></p></footer>"""
  }

  def htmlFor(seed: Long, i: Long, lang: String, template: Int): String = {
    val body = template match {
      case 0 => // article with full chrome
        chrome(seed, i, lang, s"<article>${articleBody(seed, i, lang)}</article>")
      case 1 => // link farm
        s"""<div><ul>${navLinks(seed, i, lang, 40)}</ul></div><p>${sentence(seed, i, lang, 1)}</p>"""
      case 2 => // comments-heavy
        chrome(
          seed, i, lang,
          s"<article>${articleBody(seed, i, lang)}</article>" +
            s"""<div class="comments">${(0 until 6).map(k => s"<p>${paragraph(seed, i, lang, 900 + k)}</p>").mkString}</div>"""
        )
      case 3 => // table layout (legacy)
        s"""<table><tr><td class="menu"><ul>${navLinks(seed, i, lang, 10)}</ul></td>
<td>${articleBody(seed, i, lang)}</td></tr></table>"""
      case 4 => // single pre
        s"<pre>${paragraph(seed, i, lang, 1)}\n  ${paragraph(seed, i, lang, 2)}</pre>"
      case 5 => // empty body
        ""
      case 6 => // malformed nesting
        s"""<div><p>${paragraph(seed, i, lang, 1)}<p>${paragraph(seed, i, lang, 2)}
</div></div><ul><li>${sentence(seed, i, lang, 3)}<li>${sentence(seed, i, lang, 4)}</ul>
<p>${paragraph(seed, i, lang, 5)}"""
      case 7 => // script/style heavy
        s"""<script>var x = "<p>not text</p>"; if (a < b) { run(); }</script>
<style>p { color: red; } .x > .y { margin: 0; }</style>
<div>${articleBody(seed, i, lang)}</div>
<script src="/app.js"></script><noscript>enable js</noscript>"""
      case 8 => // cdata/comment traps
        s"""<!-- intro comment <p>ghost</p> --><div>${articleBody(seed, i, lang)}</div>
<![CDATA[ raw <b>stuff</b> ]]><!-- trailing -->"""
      case _ => // entity dense
        s"""<div><p>Fish &amp; chips &#38; more &#x26; again &mdash; ${paragraph(seed, i, lang, 1)}</p>
<p>&laquo;${sentence(seed, i, lang, 2)}&raquo; &nbsp; caf&eacute; &copy; &euro;5 &frac12; &hellip;</p>
<p>Legacy forms: &copy 2026 caf&eacute and &amp co &sup2 but &euro stays &bogus; too.
Greek &alpha;&beta;&Gamma; math &le; &ne; &forall;&exist; arrows &larr;&rArr;
aliases &sol;&lpar;x&rpar; &check; &OElig;uvre ${sentence(seed, i, lang, 3)}</p></div>"""
    }
    val t = title(seed, i, lang)
    s"""<!DOCTYPE html>
<html lang="$lang"><head><title>$t</title>CHARSETMETA</head>
<body>$body</body></html>"""
  }

  // ---- PDF payloads ----

  /** Content stream with runs at known x/y — exercises y/x sort-and-merge.
    * `page` shifts every RNG stream (page 0 = the historical key space, so
    * single-page PDFs are byte-identical across this change); each page
    * restarts y at the top of the page — exactly the input class where the
    * multi-page ordering fix matters (page 2's y=700 must not interleave
    * with page 1's y=700).
    */
  def pdfContent(seed: Long, i: Long, lang: String, page: Int = 0): String = {
    // zh text would not survive the windows-1252 PDF string path; keep ASCII-ish
    val l = if (lang == "zh") "en" else lang
    val po = page * 7919L
    val nLines = 3 + Rng.nextInt(seed, 800L + po, i, 6)
    val sb = new StringBuilder("BT /F1 12 Tf\n")
    var y = 700
    var li = 0
    while (li < nLines) {
      // 1-3 runs per line at increasing x; emitted out of order on purpose
      val nRuns = 1 + Rng.nextInt(seed, 810L + po + li, i, 3)
      val runs = (0 until nRuns).map { r =>
        val x = 72 + r * 150
        val txt = pdfEscape(
          (0 until (2 + Rng.nextInt(seed, 820L + po + li * 7 + r, i, 4)))
            .map(k => word(seed, i, l, 8000 + page * 997 + li * 37 + r * 7 + k))
            .mkString(" ")
        )
        (x, txt)
      }
      // emit runs in reverse x order sometimes (parser must re-sort)
      val emitOrder =
        if (Rng.nextInt(seed, 830L + po + li, i, 2) == 0) runs else runs.reverse
      emitOrder.foreach { case (x, txt) =>
        sb.append(s"1 0 0 1 $x $y Tm ($txt) Tj\n")
      }
      y -= 14 + (if (li == nLines / 2) 30 else 0) // one paragraph gap
      li += 1
    }
    sb.append("ET\n")
    sb.toString
  }

  private def pdfEscape(s: String): String =
    s.replace("\\", "\\\\").replace("(", "\\(").replace(")", "\\)")

  def pdfBytes(content: String, flate: Boolean, badFilter: Boolean): Array[Byte] =
    pdfBytes(Seq(content), flate, badFilter)

  /** Multi-page PDF writer: one content stream per page, page tree
    * Kids-ordered. Object layout: 1 catalog, 2 pages root, then per page p
    * (0-based) object 3+2p is the /Page and 4+2p its content stream. For a
    * single page the output is byte-identical to the historical writer.
    */
  def pdfBytes(contents: Seq[String], flate: Boolean, badFilter: Boolean): Array[Byte] = {
    def deflate(raw: Array[Byte]): Array[Byte] = {
      val d = new java.util.zip.Deflater()
      d.setInput(raw); d.finish()
      val out = new java.io.ByteArrayOutputStream()
      val buf = new Array[Byte](8192)
      while (!d.finished()) out.write(buf, 0, d.deflate(buf))
      d.end()
      out.toByteArray
    }
    val filter =
      if (badFilter) " /Filter /LZWDecode"
      else if (flate) " /Filter /FlateDecode"
      else ""
    val bos = new java.io.ByteArrayOutputStream()
    def w(s: String): Unit = bos.write(s.getBytes("ISO-8859-1"))
    val n = contents.length
    w("%PDF-1.4\n")
    w("1 0 obj << /Type /Catalog /Pages 2 0 R >> endobj\n")
    val kids = (0 until n).map(p => s"${3 + 2 * p} 0 R").mkString(" ")
    w(s"2 0 obj << /Type /Pages /Kids [$kids] /Count $n >> endobj\n")
    contents.zipWithIndex.foreach { case (content, p) =>
      val raw = content.getBytes("ISO-8859-1")
      val data = if (flate && !badFilter) deflate(raw) else raw
      w(s"${3 + 2 * p} 0 obj << /Type /Page /Parent 2 0 R /Contents ${4 + 2 * p} 0 R >> endobj\n")
      w(s"${4 + 2 * p} 0 obj << /Length ${data.length}$filter >>\nstream\n")
      bos.write(data)
      w("\nendstream\nendobj\n")
    }
    w("trailer << /Root 1 0 R >>\n%%EOF\n")
    bos.toByteArray
  }

  // ---- page assembly ----

  /** The page at index `i` — pure, order-free, executor-safe. */
  def page(seed: Long, i: Long): Page = {
    val host = hosts(Rng.zipf(seed, 1L, i, hosts.length))
    val lang = langs(Rng.nextInt(seed, 2L, i, langs.length))
    val url = s"https://$host/p/${Rng.draw(seed, 3L, i) & 0xffffffL}-$i"
    val ts = new Timestamp(1735689600000L + (i * 37L % (180L * 86400)) * 1000L)
    val roll = Rng.nextInt(seed, 4L, i, 100)
    val pair: (Array[Byte], String) =
      if (roll < 80) {
        val template = Rng.nextInt(seed, 5L, i, 10)
        val effLang = lang
        val html = htmlFor(seed, i, effLang, template)
        val csRoll = Rng.nextInt(seed, 6L, i, 10)
        val (meta, charset) =
          if (effLang == "zh") {
            // real zh web content splits between utf-8 and the gb2312 label
            // (which the Encoding standard maps to GBK)
            if (csRoll < 3) ("""<meta charset="gb2312">""", "GBK")
            else ("""<meta charset="utf-8">""", "UTF-8")
          } else if (csRoll < 6) ("""<meta charset="utf-8">""", "UTF-8")
          else if (csRoll < 8)
            ("""<meta http-equiv="Content-Type" content="text/html; charset=iso-8859-1">""", "windows-1252")
          else ("", "UTF-8")
        val full = html.replace("CHARSETMETA", meta)
        val enc = full.getBytes(charset)
        val withBom =
          if (charset == "UTF-8" && csRoll == 9)
            Array[Byte](0xef.toByte, 0xbb.toByte, 0xbf.toByte) ++ enc
          else enc
        (withBom, paragraph(seed, i, lang, 0))
      } else if (roll < 92) {
        // 1-3 pages per PDF: multi-page documents are the input class where
        // page-aware reading order matters (pages restart y at the top)
        val nPdfPages = 1 + Rng.nextInt(seed, 9L, i, 3)
        val contents = (0 until nPdfPages).map(p => pdfContent(seed, i, lang, p))
        if (roll < 88)
          (pdfBytes(contents, flate = true, badFilter = false), null)
        else if (roll < 90)
          (pdfBytes(contents, flate = false, badFilter = false), null)
        else
          (pdfBytes(contents, flate = true, badFilter = true), null)
      } else if (roll < 96) {
        (s"${paragraph(seed, i, lang, 0)}\n\n${paragraph(seed, i, lang, 1)}"
          .getBytes("UTF-8"), null)
      } else if (roll < 98) {
        // garbage bytes (invalid UTF-8 sequences; tokenizer must not crash)
        val n = 64 + Rng.nextInt(seed, 7L, i, 192)
        val b = new Array[Byte](n)
        var k = 0
        while (k < n) { b(k) = (Rng.draw(seed, 8L + k, i) & 0xff).toByte; k += 1 }
        (b, null)
      } else {
        (Array.empty[Byte], null)
      }
    Page(url, ts, pair._1, pair._2, lang)
  }

  def pages(spark: org.apache.spark.sql.SparkSession, n: Long,
            seed: Long = DEFAULT_SEED): org.apache.spark.sql.Dataset[Page] = {
    import spark.implicits._
    spark.range(n).map(i => page(seed, i))
  }
}
