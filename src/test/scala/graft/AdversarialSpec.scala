package graft

import graft.operators.{Extract, HtmlBlocks, ScalarExtract}
import graft.sources.Corpus
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import org.scalatest.funsuite.AnyFunSuite

/** Deterministic adversarial fixtures (VERDICT r2 #8): inputs chosen to
  * break naive implementations — a >1 MB document, 1000-deep nesting, a
  * multi-page PDF, charset-conflict pages (BOM vs meta), and entity/tag
  * soup. Goldens are COMMITTED bytes under
  * `src/test/resources/golden-adversarial/` so the semantics on these edge
  * classes are pinned against accidental co-evolution of the scalar oracle
  * and the pipeline. Regenerate deliberately (reviewing the diff) with:
  *
  *   sbt "Test/runMain graft.AdversarialFixtures"
  */
object AdversarialFixtures {
  val DIR = "src/test/resources/golden-adversarial"

  private val ts = new java.sql.Timestamp(1735689600000L)

  /** >1 MB HTML article: 8000 dense paragraphs. Catches accidental
    * quadratic behavior (string concat, per-block rescans) and any
    * fixed-size buffer assumption.
    */
  def bigDoc: Page = {
    val sb = new StringBuilder(1400000)
    sb.append("<!DOCTYPE html><html><head><title>big</title></head><body><article>")
    var i = 0
    while (i < 8000) {
      sb.append("<p>paragraph ").append(i)
        .append(" lorem ipsum dolor sit amet consectetur adipiscing elit sed do")
        .append(" eiusmod tempor incididunt ut labore et dolore magna aliqua")
        .append(" word").append(i).append("</p>")
      i += 1
    }
    sb.append("</article></body></html>")
    val bytes = sb.toString.getBytes(UTF_8)
    require(bytes.length > 1000000, s"big_doc is ${bytes.length} bytes")
    Page("https://adversarial.example.org/big", ts, bytes, null, "en")
  }

  /** 1000-deep element nesting with text at the bottom and every 100th
    * level. Catches recursion (stack overflow) and depth-linear rescans.
    */
  def deepNesting: Page = {
    val sb = new StringBuilder(100000)
    sb.append("<!DOCTYPE html><html><body>")
    var d = 0
    while (d < 1000) {
      sb.append("<div>")
      if (d % 100 == 0)
        sb.append("<p>level ").append(d)
          .append(" content text long enough to classify as dense body text here</p>")
      d += 1
    }
    sb.append("<p>bottom of the well content text long enough to be dense body text</p>")
    while (d > 0) { sb.append("</div>"); d -= 1 }
    sb.append("</body></html>")
    Page("https://adversarial.example.org/deep", ts, sb.toString.getBytes(UTF_8), null, "en")
  }

  /** 5-page PDF — the input class of the r2 latent bug (pages restart y at
    * the top; reading order must never interleave).
    */
  def multiPagePdf: Page = {
    val contents = (0 until 5).map(p => Corpus.pdfContent(7L, 3L, "en", p))
    Page("https://adversarial.example.org/multipdf", ts,
      Corpus.pdfBytes(contents, flate = true, badFilter = false), null, "en")
  }

  /** UTF-8 BOM + a LYING meta tag claiming iso-8859-1; body bytes are real
    * UTF-8. The BOM must win (decode as UTF-8) — honoring the meta would
    * mojibake every non-ASCII char.
    */
  def bomVsMeta: Page = {
    val html = """<!DOCTYPE html><html><head>
      |<meta http-equiv="Content-Type" content="text/html; charset=iso-8859-1">
      |</head><body><p>café naïve €50 résumé — content text long enough to be dense body text</p>
      |</body></html>""".stripMargin
    val bom = Array[Byte](0xef.toByte, 0xbb.toByte, 0xbf.toByte)
    Page("https://adversarial.example.org/bom-vs-meta", ts,
      bom ++ html.getBytes(UTF_8), null, "fr")
  }

  /** No BOM; meta declares iso-8859-1 and the bytes ARE latin-1 (invalid as
    * UTF-8). The meta must win over the UTF-8 default.
    */
  def latin1Meta: Page = {
    val html = "<!DOCTYPE html><html><head>" +
      "<meta charset=\"iso-8859-1\"></head><body>" +
      "<p>café déjà vu à côté — content text long enough to be dense body text</p>" +
      "</body></html>"
    Page("https://adversarial.example.org/latin1-meta", ts,
      html.getBytes("windows-1252"), null, "fr")
  }

  /** Entity and tag soup: legacy semicolon-less refs, invalid numerics,
    * surrogate-range refs, unterminated tags, stray close tags, nested
    * comment/CDATA traps.
    */
  def entitySoup: Page = {
    val html = """<!DOCTYPE html><html><body>
      |<p>a &amp b &copy 2026 &#x; &#xD800; &notarealentityname; caf&eacute &sup2 ok
      |this paragraph keeps going with enough text to be dense body content</p>
      |</div></span><p>stray closers before me; this text is still dense body content
      |with enough length to classify as kept article text here</p>
      |<!-- comment <p>ghost</p> <!-- not nested --><script>var x = "<p>no</p>";</script>
      |<p>final paragraph with plenty of dense body content text to keep around
      |after the traps above are handled correctly</p>
      |<p class="unterminated""".stripMargin
    Page("https://adversarial.example.org/soup", ts, html.getBytes(UTF_8), null, "en")
  }

  /** UTF-16LE page with BOM: the kind sniff must see through the
    * NUL-interleaved markup (naively it reads as `text`).
    */
  def utf16Page: Page = {
    val html = "<!DOCTYPE html><html><body>" +
      "<p>utf-16 content déjà vu — a paragraph long enough to be dense body text here</p>" +
      "</body></html>"
    Page("https://adversarial.example.org/utf16", ts,
      Array[Byte](0xff.toByte, 0xfe.toByte) ++ html.getBytes("UTF-16LE"), null, "fr")
  }

  def pages: Seq[(String, Page)] = Seq(
    "big_doc" -> bigDoc,
    "deep_nesting" -> deepNesting,
    "multipage_pdf" -> multiPagePdf,
    "charset_bom_vs_meta" -> bomVsMeta,
    "charset_latin1_meta" -> latin1Meta,
    "charset_utf16le" -> utf16Page,
    "entity_soup" -> entitySoup
  )

  def main(args: Array[String]): Unit = {
    val dir = Paths.get(DIR)
    Files.createDirectories(dir)
    pages.foreach { case (name, p) =>
      val doc = ScalarExtract.extract(p)
      require(doc.text.nonEmpty, s"$name extracted empty text")
      Files.write(dir.resolve(s"$name.txt"), doc.text.getBytes(UTF_8))
      println(f"$name%-22s ${doc.text.length}%8d chars  kind=${doc.contentKind}")
    }
  }
}

class AdversarialSpec extends AnyFunSuite {
  private lazy val spark = SparkFixture.spark

  test("adversarial fixtures: committed bytes == scalar oracle == distributed") {
    import spark.implicits._
    val fixtures = AdversarialFixtures.pages
    val scalarByUrl = fixtures.map { case (name, p) =>
      p.url -> ((name, ScalarExtract.extract(p)))
    }.toMap
    // committed bytes pin the scalar semantics
    fixtures.foreach { case (name, p) =>
      val committed = Files.readAllBytes(
        Paths.get(AdversarialFixtures.DIR, s"$name.txt"))
      val mine = scalarByUrl(p.url)._2.text.getBytes(UTF_8)
      assert(java.util.Arrays.equals(committed, mine),
        s"$name: scalar oracle diverged from committed golden " +
          "(regenerate deliberately via Test/runMain graft.AdversarialFixtures)")
    }
    // the distributed pipeline matches the scalar oracle on every fixture
    val ds = spark.createDataset(fixtures.map(_._2))(
      org.apache.spark.sql.Encoders.product[Page])
    val docs = Extract.extract(ds.repartition(3)).collect()
    assert(docs.length == fixtures.size)
    docs.foreach { d =>
      val (name, g) = scalarByUrl(d.url)
      assert(d.text == g.text, s"$name distributed != scalar")
      assert(d.spans == g.spans, s"$name spans")
      assert(d.contentKind == g.contentKind, s"$name kind")
    }
  }

  test("adversarial structure sanity: sizes, depth, pages, charsets") {
    val byName = AdversarialFixtures.pages.toMap
    // big doc: all 8000 paragraphs survive classification
    val big = ScalarExtract.extract(byName("big_doc"))
    assert(big.text.length > 1000000 && big.nBlocks == 8000 && big.nDropped == 0)
    // deep nesting: bottom paragraph present exactly once
    val deep = ScalarExtract.extract(byName("deep_nesting"))
    assert("bottom of the well".r.findAllIn(deep.text).size == 1)
    // multi-page pdf: 5 pages' lines, never interleaved (pages in order)
    val pdf = ScalarExtract.extract(byName("multipage_pdf"))
    assert(pdf.contentKind == "pdf")
    // charset handling: accents survive both conflict cases + UTF-16
    assert(ScalarExtract.extract(byName("charset_bom_vs_meta")).text.contains("café naïve €50"))
    assert(ScalarExtract.extract(byName("charset_latin1_meta")).text.contains("café déjà vu à côté"))
    val u16 = ScalarExtract.extract(byName("charset_utf16le"))
    assert(u16.contentKind == "html" && u16.text.contains("utf-16 content déjà vu"))
    // entity soup: legacy + numeric edge cases; "&notarealentityname;" hits
    // the legacy "not" by maximal munch (browser behavior), invalid numeric
    // "&#x;" stays literal, surrogate ref becomes U+FFFD
    val soup = ScalarExtract.extract(byName("entity_soup")).text
    assert(soup.contains("a & b © 2026"))
    assert(soup.contains("&#x;"))
    assert(soup.contains("�"))
    assert(soup.contains("¬arealentityname;"))
    assert(soup.contains("café ²"))
  }

  test("hostile HTML shapes tokenize within a multiple of a benign page of the same size") {
    // a tokenizer that walks the open-element stack per tag takes seconds
    // on these shapes at 384 KB and hours at 5 MB
    val shapes = Seq(
      "unmatched end tags" -> Hostile.unmatchedEnds _,
      "list items with no list open" -> Hostile.orphanItems _,
      "blocks under a deep inline stack" -> Hostile.blocksUnderInline _)
    for (size <- Seq(384 * 1024, 5 * 1024 * 1024)) {
      val benignMs = Hostile.bestMs(5)(HtmlBlocks.blocks(Hostile.article(size)))
      val boundMs = Hostile.MULTIPLE * math.max(benignMs, 1.0)
      val slow = shapes.collect {
        case (name, shape) if !Hostile.finishesWithin(boundMs)(HtmlBlocks.blocks(shape(size))) => name
      }
      assert(slow.isEmpty, f"${slow.mkString(", ")} at $size chars: over $boundMs%.0f ms " +
        f"(${Hostile.MULTIPLE}× a benign page's $benignMs%.1f ms)")
    }
  }
}
