package graft

import graft.operators.{Classify, HtmlBlocks}
import graft.functions.{Charset, Entities}
import org.scalatest.funsuite.AnyFunSuite

class HtmlBlocksSpec extends AnyFunSuite {

  private def texts(html: String): Vector[String] =
    HtmlBlocks.blocks(html).map(_.text)

  test("basic paragraphs become blocks in document order") {
    val b = HtmlBlocks.blocks("<html><body><p>one two</p><p>three</p></body></html>")
    assert(b.map(_.text) == Vector("one two", "three"))
    assert(b.map(_.seq) == Vector(0, 1))
    assert(b.map(_.tag) == Vector("p", "p"))
  }

  test("whitespace collapses to single spaces, trimmed") {
    assert(texts("<p>  a\n\t b  \r\n c  </p>") == Vector("a b c"))
  }

  test("entities decode (named, decimal, hex, unknown stays literal)") {
    assert(texts("<p>a &amp; b &#65; &#x42; &nosuch; c</p>") ==
      Vector("a & b A B &nosuch; c"))
    assert(Entities.decodeAll("&nbsp;x") == " x") // faithful NBSP; normalizeWs collapses it
    assert(Entities.decodeAll("&eacute;") == "é")
  }

  test("expanded entity table: Latin-1 row, Greek, symbols, HTML5 aliases") {
    // positional Latin-1 correctness at row boundaries and interior
    assert(Entities.decodeAll("&iexcl;&yuml;&eth;&Agrave;&frac34;") == "¡ÿðÀ¾")
    assert(Entities.named.size >= 300, s"table has ${Entities.named.size} names")
    // Greek incl. the 0x3A2 gap (Sigma after Rho) and final sigma
    assert(Entities.decodeAll("&Rho;&Sigma;&rho;&sigmaf;&sigma;&Omega;&omega;") ==
      "ΡΣρςσΩω")
    // symbol set
    assert(Entities.decodeAll("&forall;&isin;&notin;&there4;&hArr;&spades;") ==
      "∀∈∉∴⇔♠")
    // HTML5 aliases
    assert(Entities.decodeAll("&sol;&lpar;x&rpar;&check;&leq;&NewLine;") == "/(x)✓≤\n")
    // every named mapping is a single codepoint from this hand-built table
    Entities.named.values.foreach(v => assert(v.codePointCount(0, v.length) == 1))
  }

  test("legacy semicolon-less references decode by maximal munch; modern names need ;") {
    // spec §13.5 historical behavior
    assert(Entities.decodeAll("&copy 2026") == "© 2026")
    assert(Entities.decodeAll("caf&eacute") == "café")
    assert(Entities.decodeAll("&copyright") == "©right") // longest legacy prefix
    assert(Entities.decodeAll("&ampx") == "&x")
    assert(Entities.decodeAll("&lte;") == "<e;") // lte; unknown -> legacy lt
    assert(Entities.decodeAll("&notin;") == "∉") // with ; the full name wins
    assert(Entities.decodeAll("&notx") == "¬x")
    assert(Entities.decodeAll("&sup2") == "²") // longest prefix beats &sup
    // non-legacy names stay literal without the semicolon
    assert(Entities.decodeAll("&euro 5") == "&euro 5")
    assert(Entities.decodeAll("&alpha test") == "&alpha test")
    // and through the tokenizer
    assert(texts("<p>x &copy 2026 &amp co</p>") == Vector("x © 2026 & co"))
  }

  test("script/style/title/textarea content is dropped entirely") {
    val html =
      """<title>nope</title><script>var a = "<p>ghost</p>";</script>
        |<style>p{color:red}</style><p>real</p><textarea>nope2</textarea>""".stripMargin
    assert(texts(html) == Vector("real"))
  }

  test("comments, doctype, CDATA, processing instructions are skipped") {
    val html = "<!DOCTYPE html><!-- c <p>x</p> --><?php y ?><![CDATA[ z<b>w</b> ]]><p>keep</p>"
    assert(texts(html) == Vector("keep"))
  }

  test("link chars counted inside <a>, including nested text") {
    val b = HtmlBlocks.blocks("<p>abc <a href='/x'>link me</a> def</p>")
    assert(b.size == 1)
    assert(b.head.text == "abc link me def")
    // "link me" = 7 chars + the collapsed boundary space attributed to the
    // following (link) run = 8; trailing boundary space belongs to " def"
    assert(b.head.linkChars == 8)
  }

  test("boilerplate ancestry flags blocks (tags and class/id stop-lists)") {
    val html =
      """<nav><ul><li>home</li></ul></nav><div class="sidebar"><p>pop</p></div>
        |<div id="main-content"><p>article body here</p></div>
        |<footer><p>terms</p></footer>""".stripMargin
    val b = HtmlBlocks.blocks(html)
    val flagged = b.filter(x => (x.flags & Model.FLAG_BOILER) != 0).map(_.text)
    val clean = b.filter(x => (x.flags & Model.FLAG_BOILER) == 0).map(_.text)
    assert(flagged == Vector("home", "pop", "terms"))
    assert(clean == Vector("article body here"))
  }

  test("implied end tags: unclosed p and li do not break segmentation") {
    val html = "<div><p>one<p>two</div><ul><li>a<li>b</ul>"
    assert(texts(html) == Vector("one", "two", "a", "b"))
  }

  test("stray end tags are ignored") {
    assert(texts("<p>a</p></div></section><p>b</p>") == Vector("a", "b"))
  }

  test("parentSeq points at the nearest container element") {
    val b = HtmlBlocks.blocks("<body><div><p>in div</p></div><p>in body</p></body>")
    assert(b.map(_.text) == Vector("in div", "in body"))
    // body is node 1, div is node 2
    assert(b(0).parentSeq == 2)
    assert(b(1).parentSeq == 1)
  }

  test("br flushes a block") {
    assert(texts("<p>one<br>two</p>") == Vector("one", "two"))
  }

  test("attributes with > inside quotes do not end the tag") {
    assert(texts("""<p title="a>b">x</p>""") == Vector("x"))
  }

  test("never crashes on pathological input") {
    val cases = Seq("<", "<>", "</", "<!", "<p", "<p a=", "<p a='x", "&", "&#", "&#x;",
      "<a<b>", "x</", "<!--", "<![CDATA[", "<script>", "<p>&#xD800;</p>")
    cases.foreach(c => HtmlBlocks.blocks(c))
  }

  test("classification: dense text kept, link farm dropped, headings kept") {
    val html =
      s"""<div id="c"><h2>A Fine Headline</h2>
         |<p>${"word " * 30}</p>
         |<p><a href="/1">l1</a> <a href="/2">l2</a> <a href="/3">l3</a></p>
         |<p>${"word " * 30}</p></div>""".stripMargin
    val kept = Classify.classifyHtml(HtmlBlocks.blocks(html))
    assert(kept.map(_.tag) == Vector("h2", "p", "p"))
  }

  test("smoothing: short block between two content blocks is kept") {
    val html =
      s"""<div><p>${"word " * 30}</p><p>short middle.</p><p>${"word " * 30}</p></div>
         |<div><p>lonely short.</p></div>""".stripMargin
    val kept = Classify.classifyHtml(HtmlBlocks.blocks(html))
    assert(kept.map(_.text).contains("short middle."))
    assert(!kept.map(_.text).contains("lonely short."))
  }

  test("charset: BOM, meta latin-1, utf-8 default") {
    val bom = Array[Byte](0xef.toByte, 0xbb.toByte, 0xbf.toByte) ++ "<p>x</p>".getBytes("UTF-8")
    assert(Charset.decode(bom) == "<p>x</p>")
    val latin = "<html><head><meta charset=\"iso-8859-1\"></head><body>café</body></html>"
      .getBytes("windows-1252")
    assert(Charset.decode(latin).contains("café"))
    assert(Charset.sniffKind("%PDF-1.4".getBytes) == "pdf")
    assert(Charset.sniffKind("<html>".getBytes) == "html")
    assert(Charset.sniffKind("hello".getBytes) == "text")
    assert(Charset.sniffKind(Array.empty[Byte]) == "empty")
  }

  test("charset: WHATWG labels for CJK/Cyrillic double-byte encodings") {
    def page(metaLabel: String, body: String, enc: String): Array[Byte] =
      s"""<html><head><meta charset="$metaLabel"></head><body>$body</body></html>"""
        .getBytes(enc)
    // gb2312 label maps to GBK per the Encoding standard
    assert(Charset.decode(page("gb2312", "中文内容测试", "GBK")).contains("中文内容测试"))
    assert(Charset.decode(page("gbk", "中文内容", "GBK")).contains("中文内容"))
    assert(Charset.decode(page("shift_jis", "日本語のテキスト", "Shift_JIS"))
      .contains("日本語のテキスト"))
    assert(Charset.decode(page("euc-kr", "한국어 텍스트", "EUC-KR")).contains("한국어 텍스트"))
    assert(Charset.decode(page("windows-1251", "русский текст", "windows-1251"))
      .contains("русский текст"))
    assert(Charset.decode(page("big5", "繁體中文", "Big5")).contains("繁體中文"))
    // unknown labels stay on the UTF-8 default
    assert(Charset.decode(page("x-no-such-cs", "plain", "UTF-8")).contains("plain"))
    // a BOM still beats any label
    val bom = Array[Byte](0xef.toByte, 0xbb.toByte, 0xbf.toByte) ++
      page("gb2312", "utf8 wins", "UTF-8")
    assert(Charset.decode(bom).contains("utf8 wins"))
  }

  test("charset: UTF-16 BOMs decode and the kind sniff sees through them") {
    val html = "<html><head><title>t</title></head><body><p>utf16 text déjà</p></body></html>"
    val le = Array[Byte](0xff.toByte, 0xfe.toByte) ++ html.getBytes("UTF-16LE")
    val be = Array[Byte](0xfe.toByte, 0xff.toByte) ++ html.getBytes("UTF-16BE")
    // without BOM awareness the NUL-interleaved '<html' reads as text
    assert(Charset.sniffKind(le) == "html")
    assert(Charset.sniffKind(be) == "html")
    assert(Charset.decode(le) == html)
    assert(Charset.decode(be) == html)
    // and the full pipeline extracts it
    assert(texts(Charset.decode(le)) == Vector("utf16 text déjà"))
  }
  test("links scanner: hrefs, implied close, comments/rawtext skipped, entities decoded") {
    import graft.operators.Links
    def ex(h: String) = Links.extract(h).map(l => (l.seq, l.href, l.anchor))
    // plain anchors in document order
    assert(ex("""<p><a href="/x">One</a> mid <a href='/y'>Two words</a></p>""") ==
      Vector((0, "/x", "One"), (1, "/y", "Two words")))
    // unquoted href; extra attributes before/after; self-closing noise
    assert(ex("""<a rel=nofollow href=/bare target="_b">t</a>""") ==
      Vector((0, "/bare", "t")))
    // href-less anchor emits nothing; new <a> implies closing the previous
    assert(ex("""<a>skip</a><a href="/a">first<a href="/b">second</a>""") ==
      Vector((0, "/a", "first"), (1, "/b", "second")))
    // comments and rawtext never produce edges or anchor text
    assert(ex("""<!-- <a href="/no">x</a> --><script>var a='<a href="/no2">y</a>'</script>
      <a href="/yes">ok <!-- gone --> fine</a>""") ==
      Vector((0, "/yes", "ok fine")))
    // entities decode in anchor text, not in href; EOF flushes an open anchor
    assert(ex("""<a href="/amp?a=1&amp;b=2">Fish &amp; chips""") ==
      Vector((0, "/amp?a=1&amp;b=2", "Fish & chips")))
    // whitespace (incl. nbsp) collapses and trims
    assert(ex("<a href=\"/w\">  a&nbsp; b\n c  </a>") == Vector((0, "/w", "a b c")))
    // nested inline markup contributes its text
    assert(ex("""<a href="/n"><b>bold</b> tail</a>""") == Vector((0, "/n", "bold tail")))
  }
  test("meta scanner: title RCDATA, lang attr, charset forms, comments skipped") {
    import graft.operators.Meta
    def m(h: String) = Meta.extract(h)
    val full = m("""<!DOCTYPE html><html lang="de"><head><title> Fish &amp;  Chips </title>""" +
      """<meta charset="utf-8"></head><body>x</body></html>""")
    assert(full == Meta.PageMeta("Fish & Chips", "de", "utf-8"))
    // legacy http-equiv form; attribute order and case-insensitive equiv value
    val legacy = m("""<html lang="fr"><head><title>T</title>""" +
      """<meta content="text/html; charset=ISO-8859-1" http-equiv="Content-Type"></head>""")
    assert(legacy == Meta.PageMeta("T", "fr", "iso-8859-1"))
    // commented-out meta/title never win; first real occurrence does
    val commented = m("""<head><!-- <title>no</title><meta charset="no"> -->""" +
      """<title>yes</title><meta charset="utf-8"></head>""")
    assert(commented == Meta.PageMeta("yes", "", "utf-8"))
    // unterminated title yields no title; missing fields stay empty
    assert(m("<html><head><title>dangling") == Meta.PageMeta("", "", ""))
    // meta without charset info is ignored; description et al. pass through
    assert(m("""<meta name="description" content="d"><meta charset="gbk">""")
      == Meta.PageMeta("", "", "gbk"))
  }
  test("one HTML lexer: no attribute loop or comment skip under operators outside HtmlLex, HtmlBlocks, Meta and Links") {
    import java.nio.file.{Files, Paths}
    import scala.jdk.CollectionConverters._
    val rules = Seq(
      "an attribute-name scan" -> "a != '=' && a != '>' && a != '/'",
      "a comment skip" -> "startsWith(\"<!--\"")
    val lexers = Set("HtmlLex.scala", "HtmlBlocks.scala", "Meta.scala", "Links.scala")
    val (home, files) = Files.walk(Paths.get("src/main/scala/graft/operators")).iterator().asScala
      .filter(_.toString.endsWith(".scala")).toSeq
      .partition(_.getFileName.toString == "HtmlLex.scala")
    assert(files.size > 10, s"only ${files.size} sources under operators")
    // the lexer itself carries both, so the rules cannot go stale
    val lexer = new String(Files.readAllBytes(home.head), "UTF-8")
    rules.foreach { case (what, code) => assert(lexer.contains(code), s"HtmlLex has no $what") }
    val hits = for {
      f <- files if !lexers(f.getFileName.toString)
      (line, i) <- Files.readAllLines(f).asScala.zipWithIndex
      (what, code) <- rules if line.contains(code)
    } yield s"$f:${i + 1}: $what: ${line.trim}"
    assert(hits.isEmpty, hits.mkString("\n", "\n", ""))
  }
}
