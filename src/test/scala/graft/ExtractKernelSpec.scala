package graft

import graft.functions.{Charset, CharsetReference}
import graft.operators.{HtmlBlocks, HtmlBlocksReference}
import graft.sources.Corpus
import java.util.Locale
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite

/** Differential specs for the per-page extraction kernel: the char-array
  * tokenizer and the byte-level sniff/decode must give exactly what the
  * string-walking versions they replaced give (kept under `src/test` as
  * [[HtmlBlocksReference]] and [[CharsetReference]]), and the tokenizer
  * must not depend on the JVM default locale. Plain ScalaCheck generators
  * sampled under fixed seeds, as in [[PropertySpec]].
  */
class ExtractKernelSpec extends AnyFunSuite {
  import ExtractKernelSpec._

  private def samples[A](g: Gen[A], n: Int): Seq[A] =
    (0 until n).flatMap(i => g.apply(Gen.Parameters.default, Seed(i.toLong)))

  /** PropertySpec's tag soup, extended with mixed-case tags and attribute
    * names, unquoted and unterminated attributes, NBSP and other
    * separators, entities, CDATA, raw-text elements, and the non-ASCII
    * letters that fold onto ASCII ones (ſ, ı, K, İ).
    */
  private val soup: Gen[String] = Gen.listOf(Gen.oneOf(
    "<p>", "</p>", "<div class='x y'>", "</div>", "<a href=/x>", "</a>",
    "<!--", "-->", "<script>", "</script>", "&amp;", "&#x41;", "&broken",
    "text ", "<li>", "<br/>", "<td>", "<![CDATA[", "]]>", "<", ">", "\"", "'",
    "<DIV CLASS=\"SideBar\">", "</DiV>", "<Li>", "</LI>", "<P>", "<Nav>", "</NAV>",
    "<TD>", "<Th>", "<TR>", "<table>", "</TABLE>", "<ul>", "</Ul>", "<OL>", "<dl>",
    "<dd>", "<DT>", "<A HREF='y'>", "</A>", "<section id=MENU>", "</section>",
    "<div class=ad>", "<div class='Share-Box wide'>", "<div Id=\"Cookie\">",
    "<span class=\"unterminated", "<p class=", "<p id='x' class", "<i class=x class>",
    "<div class = ' promo\tx '>", "<span data-x=a/b>", "<img src=x>", "<input/>",
    "<hr>", "<br>", "<Footer>", "</footer>", "<form>", "<Aside>", "<header>",
    "<STYLE>p{}</STYLE>", "<Script type=x>if (a<b) {}</SCRIPT >", "</script",
    "<title>T</TITLE>", "<textarea>x<p>y</textarea>", "<noscript>ns</noscript>",
    "<svg><text>v</text></svg>", "<select><option>o</option></select>",
    "<!DOCTYPE html>", "<?xml x?>", "<![cdata[c]]>", "<!bogus>",
    " ", "&nbsp;", "&NBSP;", "&#160;", "&copy", "&eacute;x", "&#32;", "&#x20;",
    " ", "\u0085", "\u001c", "　", "\t", "\n\n", "  ", "\r\n",
    "ſ", "ı", "K", "İ", "</ſcript>", "</tıtle>",
    "<dİv class='SİDEBAR'>", "<div class='Kookie'>",
    "wörd", "中文", "😀", "x", "y z", "</", "</ ", "<1>",
    "<a:b>", "<x-y_z>", "</x-Y_z>", "<custom attr=1>", "</custom>"
  )).map(_.mkString)

  private val anyString: Gen[String] = Gen.frequency(
    3 -> Gen.asciiPrintableStr,
    2 -> Gen.listOf(Gen.oneOf('<', '>', '&', '/', '"', '\'', ';', '#', 'a', 'p',
      ' ', '\n', '\t', ' ', '\ud83d', '\ude00', 'é', '中', 'S', 'C', '!', '=')).map(_.mkString),
    1 -> Gen.stringOf(Gen.choose(Char.MinValue, Char.MaxValue))
  )

  test("tokenizer: the char-array kernel equals the reference on tag soup and arbitrary strings") {
    samples(soup, 1500).zipWithIndex.foreach { case (s, i) => assertSameBlocks(s, s"soup $i") }
    samples(anyString, 500).zipWithIndex.foreach { case (s, i) => assertSameBlocks(s, s"string $i") }
  }

  test("kernel: tokenizer, sniff and decode equal the reference on every corpus page") {
    val html = Corpus.pages(SparkFixture.spark, 2000).collect().count(checkPage)
    assert(html > 1000, s"only $html HTML pages")
  }

  test("tokenizer: long pages that grow the text buffer and the element stack") {
    val word = Gen.oneOf("alpha", "Beta", "&amp;", "&nbsp;", "gamma ", "中", "<b>", "</b>",
      "<a href=x>", "</a>", "\n", "  ", "<br>", "😀")
    val runs = samples(Gen.listOfN(20000, word).map(_.mkString(" ")), 6)
    runs.zipWithIndex.foreach { case (body, i) =>
      assertSameBlocks(s"<html><body><p>$body</p></body></html>", s"long block $i")
      assertSameBlocks(s"<div class='content sidebar'>$body", s"long boiler block $i")
    }
    // one 300,000-char block, with no separator at all
    assertSameBlocks("<p>" + "x" * 300000 + "</p>", "one long word")
    // nesting far past the initial stack and container arrays
    val deep = (0 until 3000).map(i => if (i % 3 == 0) "<div>" else if (i % 3 == 1) "<span>" else "<section>")
    assertSameBlocks(deep.mkString + "deep text" + "</div>" * 500 + "tail", "deep nesting")
    assertSameBlocks((0 until 5000).map(i => s"<ul><li>item $i").mkString, "open lists")
    // long raw-text and attribute values
    assertSameBlocks("<p>a<script>" + "if (x < y) { z = '</scrip' }" * 5000 + "</script>b</p>", "long script")
    assertSameBlocks("<div class='" + "nav-x " * 5000 + "'>kept?</div>", "long class")
  }

  test("tokenizer: the hostile shapes, and tag soup biased to them, equal the reference") {
    Seq("unmatched ends" -> Hostile.unmatchedEnds _, "orphan items" -> Hostile.orphanItems _,
      "blocks under inline" -> Hostile.blocksUnderInline _)
      .foreach { case (name, shape) => assertSameBlocks(shape(20000), name) }
    // deep inline stacks over list, table and definition-list boundaries,
    // with end tags that match nothing, or something far below the top
    val biased: Gen[String] = Gen.listOf(Gen.frequency(
      4 -> Gen.oneOf("<b>", "<i>", "<span>", "<a href=x>", "<custom>"),
      2 -> Gen.oneOf("</b>", "</i>", "</span>", "</a>", "</custom>", "</x>"),
      3 -> Gen.oneOf("<li>", "</li>", "<ul>", "</ul>", "<ol>", "</ol>", "<td>", "<th>",
        "</td>", "<tr>", "</tr>", "<table>", "</table>", "<dd>", "<dt>", "<dl>", "</dl>"),
      2 -> Gen.oneOf("<p>", "</p>", "<div>", "</div>", "<br>", "<nav>", "</nav>"),
      3 -> Gen.oneOf("t", "x y", " ")
    )).map(_.mkString)
    samples(biased, 1500).zipWithIndex.foreach { case (s, i) => assertSameBlocks(s, s"biased $i") }
  }

  test("tokenizer output does not depend on the JVM default locale") {
    val html = "<DIV CLASS=\"SIDEBAR\"><P>Menu links here</P></DIV><LI>item one</LI>" +
      "<DIV ID=\"COMMENTS\"><P>Say something</P></DIV><TITLE>t</TITLE><P>Body text</P>"
    val root = withLocale(Locale.ROOT)(HtmlBlocks.blocks(html))
    val tr = withLocale(Locale.forLanguageTag("tr-TR"))(HtmlBlocks.blocks(html))
    assert(tr == root)
    assert(root.map(b => (b.text, b.tag, b.flags)) == Vector(
      ("Menu links here", "p", 1), ("item one", "li", 0), ("Say something", "p", 1),
      ("Body text", "p", 0)))
    // the sidebar div is a container: its block's parent is that div
    assert(root.head.parentSeq == 1)
  }

  /** Bytes biased towards malformed sequences in every multi-byte charset:
    * lone lead and continuation bytes, truncated sequences, surrogate
    * halves in UTF-16, mixed with ASCII.
    */
  private val malformed: Gen[Array[Byte]] = Gen.listOf(Gen.frequency(
    4 -> Gen.choose(0x20, 0x7e).map(b => Array(b.toByte)),
    3 -> Gen.choose(0x80, 0xff).map(b => Array(b.toByte)),
    2 -> Gen.oneOf(0xc0, 0xc3, 0xe2, 0xed, 0xf0, 0xf4, 0xf8, 0x81, 0x8e, 0xa1, 0xfe)
      .flatMap(l => Gen.choose(0x00, 0xff).map(t => Array(l.toByte, t.toByte))),
    1 -> Gen.oneOf(Seq(0xd8, 0x3d), Seq(0xde, 0x00), Seq(0x3d, 0xd8), Seq(0x00, 0xdc),
      Seq(0xed, 0xa0, 0x80), Seq(0xef, 0xbf, 0xbd), Seq(0x1b, 0x24, 0x42), Seq(0x00))
      .map(_.map(_.toByte).toArray)
  )).map(_.flatten.toArray)

  test("decode equals the REPLACE decoder for every charset label and both UTF-16 BOMs") {
    val bodies = samples(malformed, 200)
    val heads: Seq[Array[Byte]] =
      CharsetReference.LABELS.keys.toSeq.sorted.map(l => s"<meta charset=$l>".getBytes("US-ASCII")) ++
        Seq(Array(0xff, 0xfe), Array(0xfe, 0xff), Array(0xef, 0xbb, 0xbf), Array.empty[Int])
          .map(_.map(_.toByte))
    // every label's charset is checked, not just that the label is read
    assert(heads.length == CharsetReference.LABELS.size + 4)
    for (h <- heads; (b, i) <- bodies.zipWithIndex) {
      val page = h ++ b
      val got = Charset.decode(page)
      val want = CharsetReference.decode(page)
      assert(got == want, s"head ${new String(h, "ISO-8859-1")} body $i: ${b.map(x => f"$x%02x").mkString}")
    }
  }

  test("sniffKind and sniffCharset equal the ASCII-head reference, across byte 1024") {
    val filler: Gen[Array[Byte]] = Gen.listOf(Gen.frequency(
      6 -> Gen.choose(0x20, 0x7e), 2 -> Gen.choose(0x80, 0xff), 1 -> Gen.const('<'.toInt),
      1 -> Gen.oneOf(0x09, 0x0a, 0x00)
    ).map(_.toByte)).map(_.toArray)
    def cased(s: String): Gen[String] =
      Gen.listOfN(s.length, Gen.oneOf(true, false))
        .map(up => s.zip(up).map { case (c, u) => if (u) c.toUpper else c }.mkString)
    val marker: Gen[String] = Gen.oneOf(
      Gen.oneOf("<!doctype html>", "<html>", "<head>", "<body>", "<htm", "<bod y>", "<!doc")
        .flatMap(cased),
      Gen.oneOf(CharsetReference.LABELS.keys.toSeq ++ Seq("x-unknown", "", "utf-8;", "BIG5\"")).flatMap { l =>
        Gen.oneOf("charset=", "charset=\"", "charset='", "charset =", "charsét=")
          .flatMap(p => cased(p + l + "\" x"))
      })
    val page: Gen[Array[Byte]] = for {
      lead <- filler
      // the marker's start lands around byte 1024, so it straddles the head
      at <- Gen.frequency(3 -> Gen.choose(1000, 1030), 1 -> Gen.choose(0, 64))
      m <- marker
      pad <- Gen.listOfN(at, Gen.frequency(8 -> Gen.choose(0x20, 0x7e), 1 -> Gen.choose(0x80, 0xff)))
      m2 <- marker
      tail <- filler
    } yield (lead.take(at) ++ pad.drop(lead.length).map(_.toByte) ++
      m.getBytes("UTF-8") ++ tail ++ m2.getBytes("UTF-8"))
    val pages = samples(page, 3000)
    // the generator does reach both answers on both sides of byte 1024
    assert(pages.map(Charset.sniffKind).toSet == Set("html", "text"))
    assert(pages.map(CharsetReference.sniffCharset).distinct.size > 10)
    pages.zipWithIndex.foreach { case (b, i) =>
      assert(Charset.sniffKind(b) == CharsetReference.sniffKind(b), s"page $i")
      assert(Charset.sniffCharset(b) == CharsetReference.sniffCharset(b), s"page $i")
    }
    // the head boundary itself: a marker or label ending on byte 1024 counts,
    // one ending a byte later does not
    for (end <- 1020 to 1030; m <- Seq("<BODY", "charset=KOI8-R")) {
      val b = ("." * (end - m.length) + m + " more").getBytes("US-ASCII")
      assert(Charset.sniffKind(b) == CharsetReference.sniffKind(b), s"$m ending at $end")
      assert(Charset.sniffCharset(b) == CharsetReference.sniffCharset(b), s"$m ending at $end")
    }
  }
}

object ExtractKernelSpec {
  import org.scalatest.Assertions._

  /** Run `f` under `loc` as the JVM default locale. */
  def withLocale[A](loc: Locale)(f: => A): A = {
    val saved = Locale.getDefault
    Locale.setDefault(loc)
    try f
    finally Locale.setDefault(saved)
  }

  /** The reference folds with the default locale: compare under ROOT. */
  private def assertSameBlocks(html: String, what: String): Unit = {
    val (got, want) = withLocale(Locale.ROOT)((HtmlBlocks.blocks(html), HtmlBlocksReference.blocks(html)))
    if (got != want) {
      val at = got.zip(want).indexWhere { case (g, w) => g != w }
      fail(s"$what: ${got.length} vs ${want.length} blocks, first difference at $at: " +
        s"${got.lift(at)} vs ${want.lift(at)}; input head ${html.take(200)}")
    }
  }

  /** Sniff, decode and (for HTML) tokenize one page with the production
    * kernel and with the reference; true when the page is HTML.
    */
  def checkPage(p: Page): Boolean = {
    val b = p.html
    b != null && {
      val kind = Charset.sniffKind(b)
      assert(kind == CharsetReference.sniffKind(b), p.url)
      assert(Charset.sniffCharset(b) == CharsetReference.sniffCharset(b), p.url)
      val text = Charset.decode(b)
      assert(text == CharsetReference.decode(b), p.url)
      kind == Charset.KIND_HTML && { assertSameBlocks(text, p.url); true }
    }
  }
}
