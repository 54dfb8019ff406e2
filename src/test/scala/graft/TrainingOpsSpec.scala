package graft

import graft.operators._
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Specs for the training-data-pipeline operators (dedup, similarity, text
  * analysis, multimodal). The DuckDB oracle cross-checks values; these tests
  * pin the *semantic* properties (injected dups found, determinism under
  * repartition, stub contracts).
  */
class TrainingOpsSpec extends AnyFunSuite {

  private lazy val spark = SparkFixture.spark
  private val SF = "/root/testdata/sf0.001"

  /** The codec of every column chunk of every parquet part file under
    * `dir`, read from the footers with parquet-hadoop.
    */
  private def chunkCodecs(dir: String): Set[String] = {
    import scala.jdk.CollectionConverters._
    val walk = java.nio.file.Files.walk(java.nio.file.Paths.get(dir))
    val files =
      try walk.iterator().asScala.filter(_.getFileName.toString.endsWith(".parquet")).toVector
      finally walk.close()
    assert(files.nonEmpty, s"no parquet files under $dir")
    val conf = new org.apache.hadoop.conf.Configuration()
    files.flatMap { f =>
      val r = org.apache.parquet.hadoop.ParquetFileReader.open(
        org.apache.parquet.hadoop.util.HadoopInputFile
          .fromPath(new org.apache.hadoop.fs.Path(f.toString), conf))
      try r.getFooter.getBlocks.asScala.flatMap(_.getColumns.asScala.map(_.getCodec.name))
      finally r.close()
    }.toSet
  }

  test("exact dedup finds every injected duplicate") {
    val r = Dedup.exact(spark, SF).filter(col("n_copies") >= 2).collect()
    // every 10th doc_id is duplicated with +1000000
    val nInjected = spark.read.parquet(s"$SF/documents.parquet")
      .filter(col("doc_id") % 10 === 0).count()
    assert(r.length == nInjected)
    assert(r.forall(_.getLong(1) == 2L))
  }

  test("cdc chunking: lossless, boundary rule local, planted copies fully duplicated") {
    import spark.implicits._
    val texts = spark.read.parquet(s"$SF/documents.parquet")
      .select("text").as[String].collect()
    // lossless split + nonempty chunks on every corpus doc
    texts.foreach { t =>
      val ch = Dedup.cdcChunks(t)
      assert(ch.mkString == t)
      assert(ch.forall(_.nonEmpty))
    }
    // edit locality (the CDC property fixed-size blocks lack): prepending a
    // run to a doc leaves every chunk after the first original boundary
    // identical, so shared content is still found by fingerprint
    val base = texts.maxBy(_.length)
    val orig = Dedup.cdcChunks(base)
    val edited = Dedup.cdcChunks("zz inserted preamble " + base)
    if (orig.length >= 3) {
      val sharedTail = orig.tails.find(t => edited.containsSlice(t)).get
      assert(sharedTail.length >= orig.length - 2,
        s"edit should only perturb chunks before the first boundary: " +
          s"orig=${orig.length} sharedTail=${sharedTail.length}")
    }
    // planted exact copies (doc_id+1e6) read as 100% duplicated bytes
    val cdcDf = Dedup.cdc(spark, SF)
    val r = cdcDf.filter(col("doc_id") >= 1000000L).collect()
    assert(r.nonEmpty)
    r.foreach { row =>
      assert(row.getLong(1) == row.getLong(2), s"n_chunks != dup_chunks: $row")
      assert(row.getLong(3) == row.getLong(4), s"dup_bytes != n_bytes: $row")
    }
    // scale shape: two hash exchanges (fp fold, doc rollup) + the output
    // sort's range exchange; the first-occurrence side BROADCASTS back
    val plan = cdcDf.queryExecution.executedPlan.toString
    val hashEx = "Exchange hashpartitioning".r.findAllIn(plan).length
    val rangeEx = "Exchange rangepartitioning".r.findAllIn(plan).length
    assert(hashEx == 2 && rangeEx == 1, s"expected 2 hash + 1 range exchange:\n$plan")
    assert(plan.contains("BroadcastHashJoin"), s"first-occurrence side should broadcast:\n$plan")
  }

  test("minhash LSH pairs include all identical-copy pairs with all bands") {
    val pairs = Dedup.minhashLsh(spark, SF)
      .filter(col("doc_b") === col("doc_a") + 1000000L)
      .collect()
    val withShingles = spark.read.parquet(s"$SF/documents.parquet")
      .filter(col("doc_id") % 10 === 0)
      .filter(size(split(col("text"), " ")) >= 3)
      .count()
    assert(pairs.length == withShingles)
    assert(pairs.forall(_.getLong(2) == 4L)) // identical docs match all 4 bands
  }

  test("ngram jaccard gives 100 for identical copies") {
    val r = Dedup.ngramJaccard(spark, SF)
      .filter(col("doc_b") === col("doc_a") + 1000000L)
    assert(r.count() > 0)
    assert(r.filter(col("jacc_pct") =!= 100).count() == 0)
  }

  test("heaps curve: vocabulary accumulates exactly by first-appearance decile") {
    import spark.implicits._
    // 20 docs (deciles of 2), doc d carries tokens w0..w_d: decile k's new
    // vocabulary is exactly the tokens first seen in docs 2k-2 and 2k-1
    val dir = java.nio.file.Files.createTempDirectory("graft-heaps").toString
    (0 until 20)
      .map(d => (d.toLong, (0 to d).map(k => s"w$k").mkString(" "), "en", "s", 0L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val r = TextAnalysis.heaps(spark, dir).collect()
    assert(r.length == 10)
    r.zipWithIndex.foreach { case (row, i) =>
      val b = i + 1
      assert(row.getLong(0) == b)
      // cum tokens: sum of (d+1) for d < 2b; cum vocab: max token index + 1 = 2b
      assert(row.getLong(1) == (0 until 2 * b).map(_ + 1).sum, s"cum_tokens b=$b")
      assert(row.getLong(2) == 2L * b, s"cum_vocab b=$b")
    }
    graft.sources.Snapshots.deleteRecursively(new java.io.File(dir))
  }

  test("structured scanners: general lexical rules beyond the oracle's constrained corpus") {
    // attribute order/quoting variance, decoy types, comments — cases the
    // regexp oracle never sees but a real page serves
    val html =
      """<!-- <script type="application/ld+json">{"x":1}</script> -->
        |<script async type='application/LD+JSON'>{"@type":"Article","headline":"a"}</script>
        |<script type="text/javascript">var x = '{"@type":"Decoy"}';</script>
        |<script type=application/ld+json >{"@type":"B"}</script>
        |<table border=1 class="wide data"><tr><th>H &amp; 1</th></tr>
        |<tr><td><b>bold</b> text</td></tr></table>
        |<table class="database"><tr><td>nope</td></tr></table>
        |<table><tr><td>layout</td></tr></table>""".stripMargin
    val ld = Structured.jsonLdBodies(html)
    assert(ld.size == 2, ld)
    assert(ld(0).contains("\"headline\":\"a\"") && ld(1).contains("\"@type\":\"B\""))
    val cells = Structured.dataTableCells(html)
    // only the class-token 'data' table; entity + markup-stripped cells
    assert(cells == Vector((0, 0, 0, "H & 1"), (0, 1, 0, "bold text")), cells)
    // a commented-out data table is skipped and an upper-case one is read:
    // the cell harvest sees exactly the tables the markdown serializer renders
    val cased =
      """<!-- <table class="data"><tr><td>gone</td></tr></table> -->
        |<TABLE CLASS="data"><TR><TH>Up</TH></TR><TR><TD>v</TD></TR></TABLE>""".stripMargin
    assert(Structured.dataTableCells(cased) == Vector((0, 0, 0, "Up"), (0, 1, 0, "v")),
      Structured.dataTableCells(cased))
    assert(Structured.mdBlocks(cased) == Vector("| Up |\n| --- |\n| v |"), Structured.mdBlocks(cased))
    // canonical: rel token list, attr order swap, head-scoped, first wins
    assert(Structured.canonicalHref(
      """<head><link href="/a" rel="alternate canonical"><link rel="canonical" href="/b"></head>""") == "/a")
    assert(Structured.canonicalHref(
      """<head><title>x</title></head><body><link rel="canonical" href="/late"></body>""") == "")
    assert(Structured.canonicalHref("<p>none</p>") == "")
    // a canonical lookalike in a script string is not a declaration
    assert(Structured.canonicalHref(
      """<head><script>var c = '<link rel="canonical" href="/js">';</script>""" +
        """<link rel="canonical" href="/real"></head>""") == "/real")
  }

  test("body-surface scanners: code blocks, lists, license, rel=next — general rules") {
    // code blocks: pre-without-code and inline code are NOT blocks; attr
    // variance; whitespace PRESERVED; entities decoded; script rawtext skipped
    val code = Structured.codeBlocks(
      """<pre>  +--+
        |  |ascii art|</pre>
        |<p>inline <code>x=1</code> span</p>
        |<script>var s = '<pre><code>fake()</code></pre>';</script>
        |<pre class=wide><code class='hl language-py'>def f():
        |  return a &amp; b</code></pre>
        |<!-- <pre><code>commented()</code></pre> -->
        |<pre><code>plain &lt; block</code></pre>""".stripMargin)
    assert(code == Vector(
      ("py", "def f():\n  return a & b"),
      ("", "plain < block")), code)

    // lists: ul/ol kinds in doc order, li attrs, nested markup stripped,
    // entity decode + ws collapse, script lookalike skipped, comment skipped
    val items = Structured.listItems(
      """<script>var l = '<ul><li>js</li></ul>';</script>
        |<ul id=menu><li class=i>alpha <b>beta</b></li><li> a &amp; b </li></ul>
        |<!-- <ol><li>gone</li></ol> -->
        |<ol><li>one</li></ol>""".stripMargin)
    assert(items == Vector(
      (0, "ul", 0, "alpha beta"), (0, "ul", 1, "a & b"),
      (1, "ol", 0, "one")), items)

    // license: rel token LIST ("licenses" is not a match), first declaration
    // in doc order wins, comments skipped, cc code normalization
    assert(Structured.licenseOf(
      """<head><link rel="licenses" href="/decoy">
        |<link href="https://creativecommons.org/licenses/by-sa/4.0/" rel="license"></head>""".stripMargin)
      == ("link", "https://creativecommons.org/licenses/by-sa/4.0/"))
    assert(Structured.licenseOf(
      """<body><a rel="nofollow license" href="https://creativecommons.org/publicdomain/zero/1.0/">cc0</a></body>""")
      == ("a", "https://creativecommons.org/publicdomain/zero/1.0/"))
    assert(Structured.licenseOf("<p>none</p>") == ("", ""))
    assert(Structured.licenseCode("https://creativecommons.org/licenses/by-nc/4.0/") == "by-nc")
    assert(Structured.licenseCode("https://creativecommons.org/publicdomain/zero/1.0/") == "cc0")
    assert(Structured.licenseCode("https://example.org/eula") == "other")
    assert(Structured.licenseCode("") == "")

    // rel=next: head-scoped, token list, body decoy out
    assert(Structured.nextHref(
      """<head><link rel="next prefetch" href="/p2"></head>
        |<body><link rel="next" href="/body-decoy"></body>""".stripMargin)
      == Some("/p2"))
    assert(Structured.nextHref(
      """<head><title>t</title></head><body><link rel="next" href="/x"></body>""").isEmpty)

    // corpus-level broken-pointer pin: page 20's next target is not a page,
    // so its chain is a singleton and 21..22 re-head as their own chain
    import graft.sources.StructuredCorpus
    assert(Structured.nextHref(StructuredCorpus.htmlFor(20L))
      == Some("https://structured.example.org/a/x20"))
    assert(Structured.nextHref(StructuredCorpus.htmlFor(21L))
      == Some("https://structured.example.org/a/22"))
    assert(Structured.nextHref(StructuredCorpus.htmlFor(22L)).isEmpty)
  }

  test("instruction-mining scanners: blockquote, definition list — general rules") {
    // blockquote: cite attr optional ("" when absent), nested markup
    // stripped, entity decode + ws collapse, script lookalike and comment out
    val quotes = Structured.blockquotes(
      """<script>var q = '<blockquote>js fake</blockquote>';</script>
        |<blockquote cite="https://s.example.org/1" class=pull>to be <em>or</em> not</blockquote>
        |<!-- <blockquote>gone</blockquote> -->
        |<blockquote> a &amp; b </blockquote>""".stripMargin)
    assert(quotes == Vector(
      ("https://s.example.org/1", "to be or not"),
      ("", "a & b")), quotes)

    // dl: dd pairs with the MOST RECENT dt — two dds after one dt repeat the
    // term; a dd before any dt gets ""; nested markup stripped; second dl
    // gets its own index
    val dl = Structured.dlItems(
      """<dl><dd>orphan</dd><dt>alpha</dt><dd>first <i>def</i></dd><dd>second</dd></dl>
        |<script>var d = '<dl><dt>x</dt><dd>y</dd></dl>';</script>
        |<dl id=g><dt>beta &amp; co</dt><dd>only</dd></dl>""".stripMargin)
    assert(dl == Vector(
      (0, 0, "", "orphan"),
      (0, 1, "alpha", "first def"),
      (0, 2, "alpha", "second"),
      (1, 0, "beta & co", "only")), dl)
  }

  test("markdown serialization: true document order, block dispatch, decoys out") {
    // Interleaving is DOCUMENT order (list between two paragraphs — the
    // corpus's fixed emission order must not be baked into the scanner);
    // layout table, bare pre, script/comment lookalikes, inline <time> drop.
    val md = Structured.mdBlocks(
      """<html><head><title>skip me</title></head><body>
        |<p>first &amp; para</p>
        |<ul><li>a <b>b</b></li><li>c</li></ul>
        |<p>mid</p>
        |<script>var x = '<p>fake</p>';</script>
        |<pre>bare pre drops</pre>
        |<pre><code class="language-py">x = 1
        |  y &lt; 2</code></pre>
        |<blockquote cite="u">q text</blockquote>
        |<dl><dt>t</dt><dd>d1</dd><dd>d2</dd></dl>
        |<time datetime="2024-01-01">posted chrome</time>
        |<figure><img src="s.jpg" alt="cap"><figcaption>ignored</figcaption></figure>
        |<table><tr><td>layout</td></tr></table>
        |<table class="data"><tr><th>h1</th><th>h2</th></tr><tr><td>v1</td><td>v2</td></tr></table>
        |<ol><li>one</li><li>two</li></ol>
        |</body></html>""".stripMargin)
    assert(md == Vector(
      "first & para",
      "- a b\n- c",
      "mid",
      "```py\nx = 1\n  y < 2\n```",
      "> q text",
      "t\n: d1\nt\n: d2",
      "![cap](s.jpg)",
      "| h1 | h2 |\n| --- | --- |\n| v1 | v2 |",
      "1. one\n2. two"), md)
  }

  test("alias edges: direction per channel, self-canonical excluded") {
    val u = "https://s.example.org/a/1"
    // canonical: page is the alias of its target; self-canonical is no edge
    assert(Structured.aliasEdges(u,
      s"""<head><link rel="canonical" href="https://s.example.org/a/0"></head>""")
      == Seq((u, "https://s.example.org/a/0", "canonical")))
    assert(Structured.aliasEdges(u,
      s"""<head><link rel="canonical" href="$u"></head>""").isEmpty)
    // amp: the DECLARED MIRROR is the alias of THIS page (flipped direction)
    assert(Structured.aliasEdges(u,
      """<head><link rel="amphtml" href="https://amp.example.org/a/1"></head>""")
      == Seq(("https://amp.example.org/a/1", u, "amp")))
    // refresh: the refreshing page is chrome; its target carries the doc
    assert(Structured.aliasEdges(u,
      """<head><meta http-equiv="refresh" content="3;url=https://s.example.org/moved"></head>""")
      == Seq((u, "https://s.example.org/moved", "refresh")))
    // an unparsable refresh delay is no edge, and the other channels stand
    assert(Structured.aliasEdges(u,
      """<head><link rel="canonical" href="/c"><meta http-equiv="refresh" content="99999999999999999999;url=/t"></head>""")
      == Seq((u, "/c", "canonical")))
    // all three channels stack
    assert(Structured.aliasEdges(u,
      """<head><link rel="canonical" href="/c"><link rel="amphtml" href="/m"><meta http-equiv="refresh" content="0;url=/t"></head>""")
      .map(_._3).sorted == Seq("amp", "canonical", "refresh"))
  }

  test("head-surface scanners: og/twitter, hreflang, pubdate precedence, breadcrumb") {
    // og: property= vs name= split; attr order variance; first-wins; head scope
    val og = Structured.ogCard(
      """<head><meta content="T1" property="og:title">
        |<meta property="og:title" content="T2">
        |<meta name="og:title" content="NAMEDECOY">
        |<meta name='twitter:card' content='summary'>
        |<!-- <meta property="og:type" content="commented"> -->
        |<meta property=og:type content=article></head>
        |<body><meta property="og:image" content="BODYDECOY"></body>""".stripMargin)
    assert(og == ("T1", "article", "", "", "summary"), og)

    // hreflang: rel token list, order preserved, alternates w/o hreflang skipped,
    // body decoy out of scope
    val alts = Structured.hreflangAlts(
      """<head><link rel="alternate" type="application/rss+xml" href="/feed">
        |<link hreflang="de" href="/de" rel="alternate stylesheet">
        |<link rel="alternate" hreflang="fr" href="/fr"></head>
        |<body><link rel="alternate" hreflang="zz" href="/zz"></body>""".stripMargin)
    assert(alts == Vector(("de", "/de"), ("fr", "/fr")), alts)

    // pubdate sources: meta head-scoped + first-wins; time anywhere, first with
    // a datetime attr wins; comment skipped
    assert(Structured.publishedTimeMeta(
      """<head><meta property="ARTICLE:published_time" content="2025-01-02T08:30:00Z"></head>
        |<body><meta property="article:published_time" content="2024-09-09"></body>""".stripMargin)
      == "2025-01-02T08:30:00Z")
    assert(Structured.publishedTimeMeta("<head></head>") == "")
    assert(Structured.timeDatetime(
      """<!-- <time datetime="1999-01-01"> --><body><time>no attr</time>
        |<time class=x datetime='2024-05-06'>May 6</time></body>""".stripMargin)
      == "2024-05-06")
    // a time lookalike in a script string is not a visible timestamp
    assert(Structured.timeDatetime(
      """<script>var t = '<time datetime="1999-01-01">';</script>""" +
        """<time datetime="2024-05-06">May 6</time>""") == "2024-05-06")

    // corpus-level: every precedence class has witnesses and the winner is
    // the highest-priority source present
    val classes = (0L until graft.sources.StructuredCorpus.N_PAGES).map { i =>
      val h = graft.sources.StructuredCorpus.htmlFor(i)
      val meta = Structured.publishedTimeMeta(h)
      val ld = Structured.jsonLdBodies(h).exists(_.contains("\"datePublished\""))
      val t = Structured.timeDatetime(h)
      if (meta.nonEmpty) "meta" else if (ld) "ldjson" else if (t.nonEmpty) "time" else ""
    }
    assert(Set("meta", "ldjson", "time", "").subsetOf(classes.toSet), classes.toSet)

    // breadcrumb scripts ride the same ld+json channel the article scanner
    // reads — exJsonld must see them (typed as BreadcrumbList, fields null)
    // and exBreadcrumb must filter everything else out
    val bc = graft.sources.StructuredCorpus.htmlFor(0)
    assert(Structured.jsonLdBodies(bc).exists(_.contains("\"BreadcrumbList\"")), bc)
  }

  test("crawl-control scanners: robots meta tokens, meta-refresh parse, amphtml") {
    // robots: name= match is exact (robotto decoy skipped), tokens trimmed +
    // lowercased, head-scoped first-wins
    val (raw, toks) = Structured.robotsMeta(
      """<head><meta name="robotto" content="noindex">
        |<meta name="ROBOTS" content=" NoIndex , follow ">
        |<meta name="robots" content="noarchive"></head>""".stripMargin)
    assert(raw == " NoIndex , follow " && toks == Set("noindex", "follow"), (raw, toks))
    assert(Structured.robotsMeta("<head></head>") == (("", Set.empty[String])))

    // refresh: case/space variance in content, url= case-insensitive;
    // malformed (no url=, non-numeric delay) -> None
    assert(Structured.metaRefresh(
      """<head><meta http-equiv="REFRESH" content="5 ; URL=/new"></head>""")
      .contains((5L, "/new")))
    assert(Structured.metaRefresh(
      """<head><meta http-equiv="refresh" content="30"></head>""").isEmpty)
    assert(Structured.metaRefresh(
      """<head><meta http-equiv="refresh" content="x;url=/y"></head>""").isEmpty)
    // a delay past Long.MaxValue, or in non-ASCII digits (which the
    // oracle's [0-9]+ never matches), is malformed too
    assert(Structured.metaRefresh(
      """<head><meta http-equiv="refresh" content="99999999999999999999;url=/y"></head>""").isEmpty)
    assert(Structured.metaRefresh(
      """<head><meta http-equiv="refresh" content="٣;url=/y"></head>""").isEmpty)
    assert(Structured.metaRefresh(
      """<head><meta http-equiv="refresh" content="9223372036854775807;url=/y"></head>""")
      .contains((Long.MaxValue, "/y")))

    // amphtml: rel token list; body decoy out of scope
    assert(Structured.ampHref(
      """<head><link rel="alternate amphtml" href="/amp"></head>
        |<body><link rel="amphtml" href="/decoy"></body>""".stripMargin) == "/amp")
    assert(Structured.ampHref("<head></head>") == "")
  }

  test("image harvest: figcaption scoping, attr variance, rawtext/comment decoys") {
    val rows = Structured.imageHarvest(
      """<!-- <img src="COMMENTED"> -->
        |<script>var s = '<img src="JSDECOY">';</script>
        |<figure class=hero><img width="320" src="/a.jpg" alt="A &amp; B" height="180">
        |<figcaption>Cap <b>one</b>  here</figcaption></figure>
        |<img src='/b.png' alt="">
        |<img src=/c.gif>
        |<figure><img src="/d.jpg" alt="d"></figure>
        |<img src="/e.jpg" width="99999999999999999999" height="٣٠">
        |<img src="/f.jpg" width="+5" height="9223372036854775807">""".stripMargin)
    // a dim past Long.MaxValue, in non-ASCII digits or signed is null
    assert(rows == Vector(
      ("/a.jpg", "A & B", "Cap one here", Some(320L), Some(180L)),
      ("/b.png", "", "", None, None),
      ("/c.gif", "", "", None, None),
      ("/d.jpg", "d", "", None, None),
      ("/e.jpg", "", "", None, None),
      ("/f.jpg", "", "", None, Some(Long.MaxValue))
    ), rows)
  }

  test("outline: h1 resets h2 scope; boiler headings never govern") {
    import spark.implicits._
    val blocks = Seq(
      // url, seq, tag, text, kind, flags
      ("u", 0, "p", "intro", "html", 0), // before any heading
      ("u", 1, "h1", "A", "html", 0),
      ("u", 2, "h2", "A.1", "html", 0),
      ("u", 3, "p", "under A.1", "html", 0),
      ("u", 4, "h1", "B", "html", 0), // resets the h2
      ("u", 5, "p", "under B", "html", 0),
      ("u", 6, "h3", "sidebar", "html", 1), // boiler: excluded entirely
      ("u", 7, "li", "nav", "html", 1)
    ).toDF("url", "seq", "tag", "text", "kind", "flags")
    val r = ExtractOracle.outlineOver(blocks).collect()
      .map(x => (x.getLong(1), x.getString(3), x.getString(4)))
    assert(r.toSeq == Seq((0L, "", ""), (3L, "A", "A.1"), (5L, "B", "")))
  }

  test("dataset split is the pure md5 function of doc_id, covers every doc") {
    val rows = TextAnalysis.split(spark, SF).collect()
    val nDocs = spark.read.parquet(s"$SF/documents.parquet").count()
    assert(rows.length == nDocs)
    // independently recompute the assignment in plain Scala
    rows.foreach { r =>
      val id = r.getLong(0)
      val md = java.security.MessageDigest.getInstance("MD5")
        .digest(id.toString.getBytes("UTF-8"))
      val bucket = java.lang.Long.parseLong(
        md.take(2).map(b => f"${b & 0xff}%02x").mkString, 16) % 100
      val expected = if (bucket < 80) "train" else if (bucket < 90) "val" else "test"
      assert(r.getString(1) == expected, s"doc $id")
      assert(r.getLong(2) == bucket, s"doc $id bucket")
    }
    // all three splits are populated at this corpus size
    assert(rows.map(_.getString(1)).toSet == Set("train", "val", "test"))
  }

  test("decontamination flags exactly the docs sharing a benchmark shingle") {
    val flagged = Dedup.contam(spark, SF).collect().map(_.getLong(0)).toSet
    // no benchmark doc flags itself; flagged ids are from the corpus side
    assert(flagged.forall(_ >= 20))
    // deterministic across a second run
    val again = Dedup.contam(spark, SF).collect().map(_.getLong(0)).toSet
    assert(flagged == again)
    assert(flagged.nonEmpty)
  }

  test("df-cap drops hot shingles so a boilerplate corpus stays linear") {
    import spark.implicits._
    // N docs sharing one boilerplate shingle, each with a unique shingle:
    // uncapped, the hot posting alone yields N*(N-1)/2 candidate pairs
    val n = Dedup.DF_CAP * 2
    val docs = (0 until n)
      .map(i => (i.toLong, s"click here to read more unique$i token$i extra$i"))
      .toDF("doc_id", "text")
    val sh = Dedup.shingleIndex(docs)
    val capped = Dedup.cappedIndex(sh)
    def pairs(idx: org.apache.spark.sql.DataFrame): Long = idx.as("a")
      .join(idx.as("b"),
        col("a.shingle") === col("b.shingle") && col("a.doc_id") < col("b.doc_id"))
      .count()
    val uncapped = pairs(sh)
    val cappedPairs = pairs(capped)
    assert(uncapped >= n.toLong * (n - 1) / 2) // quadratic without the cap
    assert(cappedPairs == 0)                   // hot shingles gone, uniques don't pair
    // docs below the cap keep all their shingles
    val cold = Dedup.cappedIndex(
      Dedup.shingleIndex(docs.filter(col("doc_id") < Dedup.DF_CAP)))
    assert(cold.count() == sh.filter(col("doc_id") < Dedup.DF_CAP).count())
  }

  test("allpairs prefix filter: complete on near-dups, hot shingles never reach the index") {
    import spark.implicits._
    // two near-identical docs (J >= 0.5) + a boilerplate shingle shared by ALL
    // docs: the full inverted index pairs every doc with every doc on the hot
    // shingle; the prefix index must (a) still let the near-dup pair meet,
    // (b) exclude the globally-hot shingle from every non-tiny doc's prefix.
    val hot = "click here now"
    val n = 40
    val docs = ((0 until n).map { i =>
      (i.toLong, s"$hot alpha$i beta$i gamma$i delta$i epsilon$i zeta$i")
    } :+ (100L, s"$hot shared body text one two three four five") :+
      (101L, s"$hot shared body text one two three four six")).toDF("doc_id", "text")
    val sh = Dedup.shingleIndex(docs)
    val prefix = Dedup.apPrefix(sh)
    def pairs(idx: org.apache.spark.sql.DataFrame): Long = idx.as("a")
      .join(idx.as("b"),
        col("a.shingle") === col("b.shingle") && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id"), col("b.doc_id")).distinct().count()
    val full = pairs(sh)
    val pruned = pairs(prefix)
    assert(full >= (n + 2).toLong * (n + 1) / 2,
      "hot shingle must make the full index quadratic")
    assert(pruned < full / 10, s"prefix filter must collapse candidates ($pruned vs $full)")
    // the hot shingle (highest df) appears in NO prefix: every filler doc has
    // 9 tokens -> 7 shingles, so its prefix keeps 7-ceil(.5*7)+1 = 4 of 7
    // (rarest-first) and stops 3 ranks short of the hottest; the two planted
    // near-dups (10 tokens -> 8 shingles, prefix 5 of 8) likewise never reach it
    assert(prefix.filter(col("shingle") === lit(hot)).count() == 0)
    // completeness: the planted near-dup candidate pair survives pruning
    val cand = prefix.as("a")
      .join(prefix.as("b"),
        col("a.shingle") === col("b.shingle") && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("da"), col("b.doc_id").as("db")).distinct()
    assert(cand.filter(col("da") === 100L && col("db") === 101L).count() == 1)
  }

  test("allpairs positional filter: prunes late meetings, never a qualifying pair") {
    import spark.implicits._
    // a family of docs sharing a long common suffix of shingles (late
    // positions in the df order) but differing heads: shingle meetings
    // happen, yet the positional bound 1 + min(n_a-r_a, n_b-r_b) falls
    // short of the required overlap for the dissimilar pairs — PPJoin
    // prunes them before the distinct, the length/prefix filters alone
    // would not. The one genuinely similar pair must still come through.
    val shared = (1 to 12).map(i => s"common$i").mkString(" ")
    val docs = ((0 until 20).map { i =>
      val head = (1 to 14).map(j => s"head${i}_$j").mkString(" ")
      (i.toLong, s"$head $shared")
    } :+ (100L, s"near dup body one two three $shared") :+
      (101L, s"near dup body one two four $shared")).toDF("doc_id", "text")
    val result = Dedup.allpairsOver(docs)
    val pairs = result.select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    assert(pairs.contains((100L, 101L)), "qualifying pair must survive the positional filter")
    // exactness: agree with the naive uncapped inverted-index join + full verify
    val sh = Dedup.shingleIndex(docs)
    val naive = sh.as("a")
      .join(sh.as("b"), col("a.shingle") === col("b.shingle") && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b")).distinct()
      .join(sh.groupBy("doc_id").agg(count(lit(1)).as("n")).as("na"), col("doc_a") === col("na.doc_id"))
      .join(sh.groupBy("doc_id").agg(count(lit(1)).as("n")).as("nb"), col("doc_b") === col("nb.doc_id"))
      .join(sh.groupBy("doc_id").agg(collect_set("shingle").as("s")).as("sa"), col("doc_a") === col("sa.doc_id"))
      .join(sh.groupBy("doc_id").agg(collect_set("shingle").as("s")).as("sb"), col("doc_b") === col("sb.doc_id"))
      .withColumn("inter", size(array_intersect(col("sa.s"), col("sb.s"))).cast("long"))
      .filter(expr(s"(100 * inter) div (na.n + nb.n - inter) >= ${Dedup.AP_T}"))
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    assert(pairs == naive, s"positional filter must be lossless (${pairs.size} vs ${naive.size})")
  }

  test("allpairs density guard: saturated corpus routes to banded candidates, " +
    "emitted pairs stay exactly verified; sparse corpus stays on the exact path") {
    import spark.implicits._
    // saturated: every doc shares one 24-token template, differing in a
    // single trailing token — every shingle's prefix posting count ~ n_docs,
    // so Σ c(c-1)/2 >> 64·n_docs and the guard MUST trip
    val tpl = (1 to 24).map(i => s"tpl$i").mkString(" ")
    val dense = (0 until 48).map(i => (i.toLong, s"$tpl tail$i")).toDF("doc_id", "text")
    val buf = new java.io.ByteArrayOutputStream()
    val old = System.err
    System.setErr(new java.io.PrintStream(buf, true))
    val out = try Dedup.allpairsOver(dense).collect() finally System.setErr(old)
    assert(new String(buf.toByteArray).contains("dense corpus"),
      "density guard must trip LOUDLY on the saturated corpus")
    val sh = Dedup.shingleIndex(dense)
    val sets = sh.as[(Long, String)].collect().groupBy(_._1)
      .view.mapValues(_.map(_._2).toSet).toMap
    assert(out.nonEmpty, "guarded run must still emit the verified pairs")
    out.foreach { r =>
      val (a, b) = (r.getLong(0), r.getLong(1))
      val (sa, sb) = (sets(a), sets(b))
      val inter = (sa & sb).size
      assert(r.getLong(2) == inter.toLong, s"inter wrong for ($a,$b)")
      assert(100 * inter / (sa.size + sb.size - inter) >= Dedup.AP_T,
        s"guarded path emitted a below-threshold pair ($a,$b)")
    }
    // recall on the saturated corpus: near-identical docs share all bands,
    // so the banded route recovers (nearly) every true pair — at least 90%
    // of the naive-verified ground truth here
    val ids = sets.keys.toSeq.sorted
    val truth = (for {
      i <- ids; j <- ids if i < j
      inter = (sets(i) & sets(j)).size
      if 100 * inter / (sets(i).size + sets(j).size - inter) >= Dedup.AP_T
    } yield (i, j)).toSet
    val got = out.map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got.subsetOf(truth), "no false positives ever")
    assert(got.size >= (truth.size * 9) / 10,
      s"banded recall collapsed: ${got.size} of ${truth.size}")
  }

  test("connected components: injected dup pairs cluster with min-id canonical") {
    val r = Dedup.components(spark, SF).collect()
      .map(x => (x.getLong(0), x.getLong(1), x.getLong(2), x.getBoolean(3)))
    assert(r.nonEmpty)
    // every injected copy (id+1000000) shares a cluster with its original
    r.filter(_._1 >= 1000000L).foreach { case (id, cluster, _, canon) =>
      val orig = r.find(_._1 == id - 1000000L)
      assert(orig.isDefined, s"original of $id missing from components")
      assert(orig.get._2 == cluster, s"$id not clustered with its original")
      assert(!canon, s"copy $id cannot be canonical (original has smaller id)")
    }
    // cluster label is the min doc_id of the cluster; exactly one canonical
    r.groupBy(_._2).foreach { case (cluster, members) =>
      assert(members.map(_._1).min == cluster)
      assert(members.count(_._4) == 1)
      assert(members.forall(_._3 == members.length))
    }
  }

  test("simhash is identical for identical copies") {
    val sh = Dedup.simhash(spark, SF)
    val joined = sh.as("a")
      .join(sh.as("b"), col("b.doc_id") === col("a.doc_id") + 1000000L)
      .select(col("a.simhash16").as("ha"), col("b.simhash16").as("hb"))
      .collect()
    assert(joined.nonEmpty)
    assert(joined.forall(r => r.getLong(0) == r.getLong(1)))
    // and hashes fit in 16 bits
    assert(sh.filter(col("simhash16") < 0 || col("simhash16") > 0xffffL).count() == 0)
  }

  test("knn returns k deterministic neighbors per query, excluding self") {
    val r = Similarity.knn(spark, SF).collect()
    val byQ = r.groupBy(_.getLong(0))
    assert(byQ.size == 8 && byQ.values.forall(_.length == 5))
    assert(r.forall(row => row.getLong(2) != row.getLong(0)))
    // stable under repeated execution
    val r2 = Similarity.knn(spark, SF).collect()
    assert(r.map(_.toString).toSeq == r2.map(_.toString).toSeq)
  }

  test("ANN quality: LSH and IVF recall vs brute-force ground truth") {
    import org.apache.spark.sql.expressions.Window
    val e = spark.read.parquet(s"$SF/embeddings.parquet")
      .select(col("vec_id"), graft.functions.Toks.quantize(col("embedding")).as("q"))
    val w = Window.partitionBy("a").orderBy(col("dot").desc, col("b").asc)
    val truth = e.as("x").join(e.as("y"), col("x.vec_id") =!= col("y.vec_id"))
      .select(col("x.vec_id").as("a"), col("y.vec_id").as("b"),
        graft.functions.Toks.dotQ(col("x.q"), col("y.q")).as("dot"))
      .withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
      .select("a", "b").collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

    // LSH: top-1 within bucket candidates, over every vector
    val lsh = Similarity.lshNn(spark, SF).select("vec_id", "nn_id").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val lshRecall = truth.count { case (v, t) => lsh.get(v).contains(t) }.toDouble / truth.size
    info(f"LSH recall@1 = $lshRecall%.3f over ${truth.size} vectors")

    // IVF: truth top-1 present in the returned top-3, over its query set
    val ivf = Similarity.ivf(spark, SF).select("qid", "vec_id").collect()
      .groupBy(_.getLong(0)).view.mapValues(_.map(_.getLong(1)).toSet).toMap
    val ivfQ = ivf.keySet
    val ivfRecall = ivfQ.count(q => ivf(q).contains(truth(q))).toDouble / ivfQ.size
    info(f"IVF recall@1-in-3 = $ivfRecall%.3f over ${ivfQ.size} queries")

    // PLANTED near-dup recall — the product metric. The natural embeddings
    // are near-random (max pairwise cos^2 ~ 0.23, true-NN angles ~60°), a
    // regime single-probe LSH cannot search sublinearly (see the parameter
    // law in Similarity's header) — so the raw top-1 recall above is
    // REPORTED, not asserted. What the near-dup product path must do is
    // find perturbed COPIES: plant one per 10th vector at cos ~ 0.98
    // (e' = e + 0.2 * rotate(e)) and require LSH to pair each copy with
    // its original.
    val dims = 64
    val raw = spark.read.parquet(s"$SF/embeddings.parquet")
      .select(col("vec_id"), col("embedding"))
    val rot = concat(slice(col("embedding"), 2, dims - 1), slice(col("embedding"), 1, 1))
    val planted = raw.filter(col("vec_id") % 10 === 0)
      .select((col("vec_id") + 1000000L).as("vec_id"),
        zip_with(col("embedding"), rot, (x, y) => x + y * lit(0.2f)).as("embedding"))
    val withDups = raw.unionByName(planted)
    val nn = Similarity.lshNnFrom(Similarity.bandedFrom(Similarity.quantizedFrom(withDups)))
      .filter(col("vec_id") >= 1000000L)
      .select("vec_id", "nn_id").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val nPlanted = planted.count()
    val plantedHits = nn.count { case (copy, top1) => top1 == copy - 1000000L }
    val plantedRecall = plantedHits.toDouble / nPlanted
    info(f"planted near-dup recall@1 = $plantedRecall%.3f over $nPlanted copies")

    assert(ivfRecall >= 0.30, f"IVF recall degraded: $ivfRecall%.3f")
    assert(plantedRecall >= 0.80, f"planted near-dup recall degraded: $plantedRecall%.3f")
  }

  test("PQ ADC ranks the planted near-copy top-1 (product-quantization recall)") {
    // same planting device as the LSH test: one perturbed copy per 10th
    // vector at cos ~ 0.98; the copies are the PQ QUERY set, and asymmetric-
    // distance scoring over 8-byte codes must still put each copy's original
    // at rank 1 — the property that makes a compressed 10^12-vector index
    // usable for near-dup retrieval.
    val dims = 64
    val raw = spark.read.parquet(s"$SF/embeddings.parquet")
      .select(col("vec_id"), col("embedding"))
    val rot = concat(slice(col("embedding"), 2, dims - 1), slice(col("embedding"), 1, 1))
    val planted = raw.filter(col("vec_id") % 10 === 0)
      .select((col("vec_id") + 1000000L).as("vec_id"),
        zip_with(col("embedding"), rot, (x, y) => x + y * lit(0.2f)).as("embedding"))
    val withDups = raw.unionByName(planted)
    val top1 = Similarity.pqFrom(Similarity.quantizedFrom(withDups), 1000000L, 2000000L)
      .filter(col("rank") === 1).select("qid", "vec_id").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val n = planted.count()
    val recall = top1.count { case (q, v) => v == q - 1000000L }.toDouble / n
    info(f"PQ planted near-dup recall@1 = $recall%.3f over $n copies")
    assert(recall >= 0.80, f"PQ planted recall degraded: $recall%.3f")
  }

  test("SemDeDup drops the planted near-copies inside their clusters") {
    // planted copies sit at cos ~ 0.98 (cos2_e4 ~ 9600, far above the 900
    // gate); a copy escapes only if Lloyd assigns it across a cluster
    // boundary from every close lower-id vector — allow a small boundary
    // leak, require >= 90 % dropped
    val dims = 64
    val raw = spark.read.parquet(s"$SF/embeddings.parquet")
      .select(col("vec_id"), col("embedding"))
    val rot = concat(slice(col("embedding"), 2, dims - 1), slice(col("embedding"), 1, 1))
    val planted = raw.filter(col("vec_id") % 10 === 0)
      .select((col("vec_id") + 1000000L).as("vec_id"),
        zip_with(col("embedding"), rot, (x, y) => x + y * lit(0.2f)).as("embedding"))
    val dropped = Similarity.semanticFrom(
        Similarity.quantizedFrom(raw.unionByName(planted)))
      .filter(col("vec_id") >= 1000000L)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    val n = planted.count()
    val recall = dropped.size.toDouble / n
    info(f"SemDeDup planted drop rate = $recall%.3f over $n copies")
    assert(recall >= 0.90, f"SemDeDup missed planted near-copies: $recall%.3f")
  }

  test("winnowing fingerprints: equal text -> equal set; deterministic") {
    val a = TextAnalysis.winnow("the quick brown fox jumps over the lazy dog")
    val b = TextAnalysis.winnow("the quick brown fox jumps over the lazy dog")
    assert(a == b && a.nonEmpty)
    assert(a == a.sorted && a.distinct == a)
    assert(TextAnalysis.winnow("tiny") == Vector.empty)
  }

  test("q_approx sketches stay within configured error vs exact (sf0.01 + sf0.1)") {
    // the driver entry returns bound-VIOLATION rows (expected empty); bound
    // the raw sketches here independently: HLL++ rsd=0.02 (allow 4 sigma)
    // and percentile_approx accuracy=10000 (allow +-1% rank, covering ties)
    for (sf <- Seq("/root/testdata/sf0.01", "/root/testdata/sf0.1")) {
      assert(Relational.qApprox(spark, sf).count() == 0L,
        s"$sf: q_approx bound-violation rows must be empty")
      val approx = Relational.qApproxSketches(spark, sf).collect()
        .map(r => r.getString(0) -> (r.getLong(1), r.getDouble(2))).toMap
      val li = spark.read.parquet(s"$sf/lineitem.parquet")
      val exact = li.groupBy("l_returnflag")
        .agg(countDistinct(col("l_partkey")).as("nd"), count(lit(1)).as("n"))
        .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
      assert(approx.keySet == exact.keySet)
      approx.foreach { case (flag, (apxNd, apxP95)) =>
        val (nd, n) = exact(flag)
        val relErr = math.abs(apxNd - nd).toDouble / nd
        assert(relErr <= 0.08, s"$sf $flag: approx_count_distinct off by $relErr")
        val below = li.filter(col("l_returnflag") === flag &&
          col("l_extendedprice") <= apxP95).count()
        val rank = below.toDouble / n
        assert(rank >= 0.94 && rank <= 0.96,
          s"$sf $flag: p95 sketch sits at rank $rank")
      }
    }
  }

  test("q_pagerank fixpoint is genuinely differentiated (hubs, sinks, truncation)") {
    // regression guard for the vacuous-graph failure mode: with bijective
    // link maps every node has in-degree 2 and the rank vector collapses to
    // the constant 1e9 div n, which an oracle compare can never distinguish
    // from a direction/damping bug. The quadratic graph must keep hubs
    // (rank ≫ uniform), teleport-only sinks (rank = 15e7 div n), and a
    // truncation deficit (Σr < 1e9).
    val r = Relational.qPagerank(spark, "/root/testdata/sf0.01")
    // pin the sf0.01 graph size explicitly — deriving n silently would let a
    // row-count regression (dropped sinks, duplicated vertices) self-adapt
    val n = r.count()
    assert(n == 500L, s"sf0.01 pagerank must emit one row per doc, got $n")
    val stats = r.agg(
      countDistinct(col("r")).as("nd"),
      min(col("r")).as("mn"), max(col("r")).as("mx"),
      sum(col("r")).as("tot")).head()
    assert(stats.getLong(0) > 50, s"rank vector near-constant: $stats")
    assert(stats.getLong(1) == 150000000L / n, s"expected teleport-only sinks: $stats")
    assert(stats.getLong(2) > 5L * (1000000000L / n), s"expected hubs: $stats")
    assert(stats.getLong(3) < 1000000000L, s"expected truncation deficit: $stats")
  }

  test("asof/sessionize oracle precondition: events keys are never NULL") {
    // qAsofJoin's LOCF window treats NULL event_type as a matchable
    // partition key while DuckDB's ASOF equality never matches NULL — and
    // the user_id/event_id window family assumes the same. Fail at the
    // assumption, not at a far-away hash diff after a data regeneration.
    for (sf <- Seq("/root/testdata/sf0.01", "/root/testdata/sf0.1")) {
      val bad = spark.read.parquet(s"$sf/events.parquet")
        .filter(col("event_type").isNull || col("user_id").isNull ||
          col("event_id").isNull || col("ts").isNull)
        .count()
      assert(bad == 0, s"$bad events in $sf carry NULL keys — the asof/window " +
        "oracles assume non-null event_type/user_id/event_id/ts")
    }
  }

  test("winnow SQL-oracle precondition: documents text is BMP-only") {
    // the DuckDB winnow twin hashes per-CODEPOINT (unicode()/substr) while
    // the Scala rolling hash walks UTF-16 units (charAt): they agree only
    // when no codepoint is >= U+10000. Enforce the precondition loudly here
    // instead of letting a future corpus change surface as a hash diff.
    for (sf <- Seq(SF, "/root/testdata/sf0.01")) {
      val astral = spark.read.parquet(s"$sf/documents.parquet")
        .filter(col("text").rlike("[\\x{10000}-\\x{10FFFF}]"))
        .count()
      assert(astral == 0, s"$astral documents in $sf contain astral (non-BMP) " +
        "codepoints; winnowSql's charAt==codepoint equivalence no longer holds")
    }
  }

  test("multimodal: header decode round-trips; deterministic under repartition") {
    import spark.implicits._
    val m = Multimodal.media(spark, 100)
    val meta = Multimodal.decodeMeta(m).collect().sortBy(_.media_id)
    assert(meta.length == 100)
    assert(meta.filter(_.kind != "audio")
      .forall(x => x.width >= 16 && x.height >= 16 && x.n_bytes >= 64))
    assert(meta.filter(_.kind == "image").forall(_.nframes == 1))
    // video is real GIF: nframes from the decoded container, content size
    assert(meta.filter(_.kind == "video")
      .forall(x => x.nframes >= 3 && x.nframes <= 9 &&
        x.n_bytes == x.width * x.height * x.nframes))
    // audio is real WAV: width = sample rate, height = channels,
    // nframes = decoded sample count
    assert(meta.filter(_.kind == "audio")
      .forall(x => x.width == Multimodal.WAV_RATE && x.height == 1 &&
        x.nframes >= 400 && x.n_bytes == x.nframes * 2))
    val meta2 = Multimodal.decodeMeta(m.repartition(7)).collect().sortBy(_.media_id)
    assert(meta.toSeq == meta2.toSeq)

    val f = Multimodal.features(m).as[(Long, Seq[Float])].collect().sortBy(_._1)
    assert(f.forall(_._2.length == 8))
    val fr = Multimodal.sampleFrames(m).collect()
    assert(fr.forall(_.frame_fp.length == 4))
    assert(fr.map(r => (r.media_id, r.frame_idx)).distinct.length == fr.length)
  }

  test("mm_phash recall: every planted duplicate pair is recovered") {
    // the DuckDB oracle proves both engines pair identically; THIS pins that
    // the pairing actually finds the planted positives (both engines could
    // agree on an empty result). Exact re-encodes must pair at hamming 0;
    // brightness variants must pair within the pigeonhole bound.
    val pairs = Multimodal.mmPhash(spark, "")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val pngIds = (0L until Multimodal.N_MEDIA)
      .filter(id => Multimodal.mediaRow(7L, id).kind == "png")
    val exactPlanted = pngIds.filter(_ % 2 == 0)
    val brightPlanted = pngIds.filter(_ % 3 == 0)
    exactPlanted.foreach { id =>
      assert(pairs.exists(p => p._1 == id && p._2 == id + 10000L && p._3 == 0L),
        s"exact re-encode of $id not paired at hamming 0")
    }
    val brightFound = brightPlanted.count(id =>
      pairs.exists(p => p._1 == id && p._2 == id + 20000L))
    assert(brightFound == brightPlanted.size,
      s"brightness variants paired: $brightFound/${brightPlanted.size} " +
        "(dHash cancels uniform shifts — all should land within hamming 3)")
    // cross-FORMAT near-dups (VERDICT_r04 #3): the smooth PNG↔JPEG
    // re-encode pairs — raw payload hashing can never catch these; JPEG
    // preserves block means on smooth content so dHash pairs them. A couple
    // of planted images sit on cell-mean ties and exceed the hamming bound
    // (lossy is lossy); >=85% must pair, and nothing may pair ACROSS
    // different smooth ids (the pre-fix degenerate-gradient failure mode)
    val jpegFound = (0 until Multimodal.N_JPEG_PAIRS).count(k =>
      pairs.exists(p => p._1 == 90000L + k && p._2 == 95000L + k))
    assert(jpegFound * 100 >= Multimodal.N_JPEG_PAIRS * 85,
      s"PNG-JPEG re-encode pairs recovered: $jpegFound/${Multimodal.N_JPEG_PAIRS}")
    pairs.filter(p => p._1 >= 90000L).foreach { p =>
      assert(p._2 == p._1 + 5000L,
        s"unrelated smooth images must NOT pair: $p")
    }
  }

  test("mm_jpeg: real lossy decode is deterministic and pixel-faithful on " +
    "smooth content") {
    // the staged jpegs are re-encodes of the png corpus; decode must be
    // stable across two independent decodes (the determinism the
    // materialized-oracle device rests on) ...
    val a = Multimodal.jpegStats(Multimodal.jpegMedia(spark))
      .orderBy("media_id").collect()
    val b = Multimodal.jpegStats(Multimodal.jpegMedia(spark))
      .orderBy("media_id").collect()
    assert(a.nonEmpty && a.toSeq == b.toSeq, "jpeg decode not deterministic")
    // ... and dimensions survive the lossy round trip exactly
    val pngIds = (0L until Multimodal.N_MEDIA)
      .filter(id => Multimodal.mediaRow(7L, id).kind == "png")
    assert(a.length == pngIds.size)
    a.zip(pngIds).foreach { case (r, id) =>
      val src = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(
        Multimodal.mediaRow(7L, id).payload))
      assert(r.getLong(0) == id + 40000L)
      assert(r.getInt(1) == src.getWidth && r.getInt(2) == src.getHeight)
      assert(r.getLong(3) == src.getWidth.toLong * src.getHeight)
    }
  }

  test("png payloads are real images: JDK decode recovers the exact pattern") {
    val pngIds = (0L until 200L)
      .filter(id => Multimodal.mediaRow(7L, id).kind == "png")
    assert(pngIds.size > 20, s"png kind underrepresented: ${pngIds.size}")
    pngIds.take(5).foreach { id =>
      val row = Multimodal.mediaRow(7L, id)
      // the payload must be an actual PNG file
      assert((row.payload(0) & 0xff) == 0x89 &&
        new String(row.payload, 1, 3, "US-ASCII") == "PNG")
      val img = javax.imageio.ImageIO.read(
        new java.io.ByteArrayInputStream(row.payload))
      // lossless round-trip: every decoded pixel equals the generator pattern
      for (y <- 0 until img.getHeight; x <- 0 until img.getWidth)
        assert((img.getRGB(x, y) & 0xffffff) == Multimodal.pngPixel(7L, id, x, y),
          s"pixel ($x,$y) of image $id")
    }
    // pngStats is deterministic under repartition (real decode on executors)
    import spark.implicits._
    val m = Multimodal.media(spark, 100)
    val a = Multimodal.pngStats(m).collect().map(_.toString).sorted.toSeq
    val b = Multimodal.pngStats(m.repartition(7)).collect().map(_.toString).sorted.toSeq
    assert(a == b && a.nonEmpty)
  }

  test("audio payloads are real WAV files: JDK decode recovers the exact samples") {
    val wavIds = (0L until 200L)
      .filter(id => Multimodal.mediaRow(7L, id).kind == "audio")
    assert(wavIds.size > 20, s"audio kind underrepresented: ${wavIds.size}")
    wavIds.take(5).foreach { id =>
      val row = Multimodal.mediaRow(7L, id)
      // the payload must be an actual RIFF/WAVE container
      assert(new String(row.payload, 0, 4, "US-ASCII") == "RIFF" &&
        new String(row.payload, 8, 4, "US-ASCII") == "WAVE")
      // independent JDK decoder recovers format + every PCM sample
      val ais = javax.sound.sampled.AudioSystem.getAudioInputStream(
        new java.io.ByteArrayInputStream(row.payload))
      val fmt = ais.getFormat
      assert(fmt.getSampleRate.toInt == Multimodal.WAV_RATE &&
        fmt.getChannels == 1 && fmt.getSampleSizeInBits == 16)
      val data = ais.readAllBytes(); ais.close()
      val bb = java.nio.ByteBuffer.wrap(data).order(
        if (fmt.isBigEndian) java.nio.ByteOrder.BIG_ENDIAN
        else java.nio.ByteOrder.LITTLE_ENDIAN)
      val expected = Multimodal.wavSamples(7L, id)
      assert(data.length / 2 == expected.length, s"sample count of clip $id")
      expected.indices.foreach { i =>
        assert(bb.getShort(2 * i) == expected(i), s"sample $i of clip $id")
      }
    }
    // wavStats is deterministic under repartition (real decode on executors)
    import spark.implicits._
    val m = Multimodal.media(spark, 100)
    val a = Multimodal.wavStats(m).collect().map(_.toString).sorted.toSeq
    val b = Multimodal.wavStats(m.repartition(7)).collect().map(_.toString).sorted.toSeq
    assert(a == b && a.nonEmpty)
  }

  test("video payloads are real GIFs: JDK decode recovers every frame's pixels") {
    val vidIds = (0L until 200L)
      .filter(id => Multimodal.mediaRow(7L, id).kind == "video")
    assert(vidIds.size > 20, s"video kind underrepresented: ${vidIds.size}")
    vidIds.take(4).foreach { id =>
      val row = Multimodal.mediaRow(7L, id)
      assert(new String(row.payload, 0, 6, "US-ASCII") == "GIF89a")
      val (reader, nf) = Multimodal.gifReader(row.payload)
      assert(nf >= 3 && nf <= 9)
      (0 until nf).foreach { f =>
        val img = reader.read(f)
        for (y <- 0 until img.getHeight; x <- 0 until img.getWidth)
          assert(img.getRaster.getSample(x, y, 0) ==
            Multimodal.gifPixel(7L, id, f, x, y), s"clip $id frame $f pixel ($x,$y)")
      }
      reader.dispose()
    }
    // sampled-frame fingerprints are deterministic under repartition
    import spark.implicits._
    val m = Multimodal.media(spark, 100)
    val a = Multimodal.sampleFrames(m).collect().map(_.toString).sorted.toSeq
    val b = Multimodal.sampleFrames(m.repartition(7)).collect().map(_.toString).sorted.toSeq
    assert(a == b && a.nonEmpty)
  }

  test("streaming hourly counts equal the batch aggregation") {
    val streamed = graft.streaming.StreamingOps.stHourly(spark, SF)
      .collect().map(_.toString).toSeq
    val batch = spark.read.parquet(s"$SF/events.parquet")
      .groupBy(date_trunc("HOUR", col("ts")).cast("timestamp_ntz").as("wstart"),
        col("event_type"))
      .agg(count(lit(1)).as("n"))
      .filter(col("wstart") < expr("timestamp_ntz'2024-01-29 00:00:00'"))
      .orderBy("wstart", "event_type")
      .collect().map(_.toString).toSeq
    assert(streamed == batch)
  }

  test("streaming rate limiter: classification equals the batch window-rank; " +
    "a split-spanning window defers batch-2 arrivals against batch-1 budget") {
    val sf = "/root/testdata/sf0.01" // sf0.001 is too sparse for a spanning witness
    val out = graft.streaming.StreamingOps.stRatelimit(spark, sf).collect()
    val ref = spark.read.parquet(s"$sf/events.parquet")
      .withColumn("wstart",
        window(col("ts"), "4 hours", "4 hours", "1 hour").getField("start"))
      .withColumn("rn", row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy("user_id", "wstart").orderBy("ts", "event_id")))
      .select(col("event_id"), col("user_id"),
        col("wstart").cast("timestamp_ntz").as("wstart"),
        when(col("rn") <= 1, 1L).otherwise(0L).as("allowed"))
      .orderBy("event_id").collect()
    assert(out.map(_.toString).toSeq == ref.map(_.toString).toSeq)
    // the cross-batch witness: a DEFERRED event that arrived in batch 2
    // (ts >= split) inside a window that opened in batch 1 — its budget was
    // consumed across the microbatch boundary. Absence = degenerate staging,
    // which must fail here, not silently weaken the query.
    val splitLdt = java.time.LocalDateTime.parse("2024-01-15T00:00:00")
    val tsById = spark.read.parquet(s"$sf/events.parquet")
      .select("event_id", "ts").collect()
      .map(r => r.getLong(0) -> r.getAs[java.time.LocalDateTime]("ts")).toMap
    val spanningDeferred = out.filter { r =>
      r.getAs[Long]("allowed") == 0L &&
        r.getAs[java.time.LocalDateTime]("wstart").isBefore(splitLdt) &&
        !tsById(r.getAs[Long]("event_id")).isBefore(splitLdt)
    }
    assert(spanningDeferred.nonEmpty,
      "no split-spanning deferral — staged split no longer crosses a window")
  }

  test("sequence-pattern matching equals a driver-side regex over the " +
    "brute-collapsed per-user strings; contiguity is strict") {
    val sf = "/root/testdata/sf0.001"
    val out = Relational.qPattern(spark, sf).collect()
    // brute-force: collapse each user's events in (ts, event_id) order and
    // run the SAME pattern with java.util.regex directly
    val evs = spark.read.parquet(s"$sf/events.parquet")
      .select("user_id", "ts", "event_id", "event_type").collect()
      .map(r => (r.getLong(0), r.getAs[java.time.LocalDateTime]("ts"),
        r.getLong(2), r.getString(3).substring(0, 1)))
    def us(t: java.time.LocalDateTime): Long = {
      val i = t.toInstant(java.time.ZoneOffset.UTC)
      i.getEpochSecond * 1000000L + i.getNano / 1000L
    }
    val byUser = evs.groupBy(_._1).map { case (u, es) =>
      u -> es.sortBy(e => (us(e._2), e._3)).map(_._4).mkString
    }
    val pat = java.util.regex.Pattern.compile(Relational.PATTERN)
    assert(out.length == byUser.size)
    var sawMulti = false // a c+ run longer than 1 must occur for the test to bite
    out.foreach { r =>
      val seq = byUser(r.getAs[Long]("user_id"))
      val m = pat.matcher(seq)
      val first = if (m.find()) m.group() else ""
      assert(r.getAs[Long]("n_events") == seq.length)
      assert(r.getAs[String]("first_match") == first)
      assert(r.getAs[Long]("match_pos") ==
        (if (first == "") 0L else seq.indexOf(first) + 1L))
      val mm = pat.matcher(seq)
      var n = 0L; while (mm.find()) n += 1
      assert(r.getAs[Long]("n_matches") == n)
      if (first.length > 3) sawMulti = true
      // strict contiguity: the char before the final 'p' of a match is 'c'
      if (first.nonEmpty) assert(first.init.tail.forall(_ == 'c'))
    }
    assert(sawMulti, "corpus must exercise a multi-click c+ run")
    assert(out.exists(_.getAs[Long]("n_matches") > 1L), "non-overlap count must bite")
  }

  test("export-hf: exact shard naming, per-split rows preserved, " +
    "dataset_info totals reconcile, layout deterministic across re-export") {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("graft-hf").toString
    val docs = (0 until 230).map { i =>
      val split = if (i % 10 == 0) "test" else if (i % 10 == 1) "val" else "train"
      (split, s"https://x.example.org/p/$i", s"text $i")
    }.toDF("split", "url", "text")
    docs.write.mode("overwrite").partitionBy("split").parquet(s"$tmp/cur")
    val stats = graft.sources.ExportHf.run(spark, s"$tmp/cur", s"$tmp/out", 3)
    assert(stats.map(_._1) == Seq("test", "train", "val"))
    assert(stats.map(_._2).sum == 230)
    assert(stats.find(_._1 == "train").get._2 == 184)
    val names = new java.io.File(s"$tmp/out/data").listFiles.map(_.getName).sorted
    assert(names.toSeq == Seq(
      "test-00000-of-00003.parquet", "test-00001-of-00003.parquet",
      "test-00002-of-00003.parquet",
      "train-00000-of-00003.parquet", "train-00001-of-00003.parquet",
      "train-00002-of-00003.parquet",
      "val-00000-of-00003.parquet", "val-00001-of-00003.parquet",
      "val-00002-of-00003.parquet"))
    // round trip: exported shards hold exactly the curated rows
    val back = spark.read.parquet(s"$tmp/out/data/train-*.parquet")
      .select("url").as[String].collect().sorted.toSeq
    val want = spark.read.parquet(s"$tmp/cur/split=train")
      .select("url").as[String].collect().sorted.toSeq
    assert(back == want)
    val info = new String(java.nio.file.Files.readAllBytes(
      new java.io.File(s"$tmp/out/dataset_info.json").toPath), "UTF-8")
    assert(info.contains("\"total_rows\": 230") &&
      info.contains("\"num_shards\": 3"))
    // deterministic layout: re-export assigns every row to the SAME shard
    // (url-hash partitioner, not round-robin)
    graft.sources.ExportHf.run(spark, s"$tmp/cur", s"$tmp/out2", 3)
    names.foreach { n =>
      val a = spark.read.parquet(s"$tmp/out/data/$n")
        .select("url").as[String].collect().sorted.toSeq
      val b = spark.read.parquet(s"$tmp/out2/data/$n")
        .select("url").as[String].collect().sorted.toSeq
      assert(a == b, n)
    }
  }

  test("video near-dup: every planted re-encode/trim pairs with its source " +
    "(mirrors share ALL frames, trims all but one); no cross-clip pairs") {
    val out = Multimodal.mmViddup(spark, SF).collect()
      .map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b"),
        r.getAs[Long]("n_shared")))
    assert(out.nonEmpty)
    // only planted relations may pair: (src, src+30000), (src, src+40000),
    // (src+30000, src+40000)
    out.foreach { case (a, b, _) =>
      val (base, delta) = (a % 10000, b - a)
      assert(Set(30000L, 40000L, 10000L).contains(delta) &&
        b % 10000 == base, s"unexpected pair ($a, $b)")
    }
    // exact frame-count witnesses on one clip family: clip 24 has a mirror
    // (all frames shared) and a trim (all but the last)
    val frames = Multimodal.vidHashTable(
      Multimodal.vidWithDups(spark)).collect()
      .groupBy(_.getAs[Long]("media_id")).view.mapValues(_.length).toMap
    val mirror = out.find(p => p._1 == 24L && p._2 == 30024L).get
    assert(mirror._3 == frames(24L))
    val trim = out.find(p => p._1 == 24L && p._2 == 40024L).get
    assert(trim._3 == frames(24L) - 1)
  }

  test("audio near-dup: every planted half-volume copy is caught (amplitude " +
    "invariance raw hashing lacks); trajectory coincidences stay candidates") {
    import spark.implicits._
    val out = Multimodal.mmAudfp(spark, SF).collect()
      .map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b"),
        r.getAs[Long]("hamming")))
    val audioEvens = Multimodal.media(spark, 500L).filter(_.kind == "audio")
      .map(_.media_id).collect().filter(_ % 2 == 0)
    // 100% planted recall: every even clip pairs with its +50000 copy
    audioEvens.foreach { id =>
      assert(out.exists(p => p._1 == id && p._2 == id + 50000L),
        s"half-volume copy of $id not caught")
    }
    // the planted pairs sit at near-zero hamming (truncation jitter only)
    out.filter(p => p._2 - p._1 == 50000L)
      .foreach(p => assert(p._3 <= 3L, p.toString))
    // everything reported respects the tolerance; non-planted survivors are
    // trajectory coincidences — candidates for a verify stage, same as LSH
    // band coincidences
    out.foreach(p => assert(p._3 <= 6L))
  }

  test("line dedup: first occurrence wins, docs reassemble in order, empties survive as rows") {
    import spark.implicits._
    // 'y' appears in a(pos 2), b(pos 1), c(pos 1): keeper = (a,2) (min url/pos)
    val d = Seq(("a", "x\ny\nz"), ("b", "y\nw"), ("c", "y")).toDF("url", "text")
    // lineDedupOver is deliberately unordered (pipeline form); sort here
    val r = Dedup.lineDedupOver(d).collect()
      .map(x => (x.getString(0), x.getLong(1), x.getLong(2), x.getLong(3), x.getString(4)))
      .sortBy(_._1)
    assert(r.toSeq == Seq(
      ("a", 3L, 3L, 0L, "x\ny\nz"),
      ("b", 2L, 1L, 1L, "w"),
      ("c", 1L, 0L, 1L, "")))
    // determinism under repartition (keeper min is a total order)
    val r7 = Dedup.lineDedupOver(d.repartition(7)).collect()
      .map(x => (x.getString(0), x.getLong(1), x.getLong(2), x.getLong(3), x.getString(4)))
      .sortBy(_._1)
    assert(r7.toSeq == r.toSeq)
  }

  test("line dedup: a repeated url keeps each line once, as the SQL oracle does") {
    import spark.implicits._
    // the lineDedupSql values for this frame; a url fan-out would give each
    // "a" row n_kept 4, n_dropped -2 and its lines twice
    val d = Seq(("a", "x\ny"), ("a", "x\ny"), ("b", "y\nz")).toDF("url", "text")
    val r = Dedup.lineDedupOver(d.repartition(3)).collect()
      .map(x => (x.getString(0), x.getLong(1), x.getLong(2), x.getLong(3), x.getString(4)))
      .sortBy(_._1)
    assert(r.toSeq == Seq(
      ("a", 2L, 2L, 0L, "x\ny"),
      ("a", 2L, 2L, 0L, "x\ny"),
      ("b", 2L, 1L, 1L, "z")))
  }

  test("curate: repeated urls neither fan out nor lose their lines at the gate") {
    val pages = graft.sources.Corpus.pages(spark, 300)
    val repeated = pages.limit(40).cache()
    val urls = repeated.collect().map(_.url).toSet
    val out = java.nio.file.Files.createTempDirectory("curate-repeat").toString
    val rep = Curate.run(spark, pages.union(repeated), out)
    repeated.unpersist()
    assert(rep.extracted == 340L)
    assert(rep.nonEmpty <= rep.extracted, rep.toString)
    val kept = spark.read.parquet(out).select("url").collect().map(_.getString(0))
    assert(kept.length == kept.distinct.length, "a repeated url survived exact dedup twice")
    assert(kept.exists(urls), "no repeated url reached the corpus")
  }

  test("curate span cut: repeated urls neither fan out nor cut themselves away") {
    val pages = graft.sources.Corpus.pages(spark, 300)
    val repeated = pages.limit(40).cache()
    val urls = repeated.collect().map(_.url).toSet
    val out = java.nio.file.Files.createTempDirectory("curate-cut-repeat").toString
    val rep = Curate.run(spark, pages.union(repeated), out, cutSpans = true)
    repeated.unpersist()
    assert(rep.extracted == 340L)
    assert(rep.nonEmpty <= rep.extracted, rep.toString)
    // one cut row per line-deduped row, with the passed-through columns
    val cut = spark.read.parquet(s"$out-cut")
    assert(cut.count() == spark.read.parquet(s"$out-linededup").count())
    assert(cut.columns.toSeq == Seq("url", "warc_ts", "lang", "contentKind", "text"))
    val kept = spark.read.parquet(out).select("url").collect().map(_.getString(0))
    assert(kept.length == kept.distinct.length, "a repeated url survived exact dedup twice")
    assert(kept.exists(urls), "no repeated url reached the corpus")
    // every output, artifacts and corpus, is zstd whatever the session codec
    Seq(out, s"$out-extracted", s"$out-linededup", s"$out-cut").foreach { d =>
      assert(chunkCodecs(d) == Set("ZSTD"), d)
    }
  }

  test("substring cut passes the other columns through; a repeated doc keeps one copy's spans") {
    import spark.implicits._
    val passage = (1 to 12).map(i => s"dup$i").mkString(" ")
    val a = s"one two three four five six seven eight nine $passage tail1 tail2"
    val d = Seq(
      (1L, a, "x"),
      (2L, s"$passage alpha beta gamma delta epsilon zeta eta theta", "y"),
      (3L, "u1 u2 u3 u4 u5 u6 u7 u8 u9 u10 u11 u12 u13 u14", "z")
    ).toDF("doc_id", "text", "tag")
    def cuts(f: org.apache.spark.sql.DataFrame) = Dedup.substrCutOver(f)
      .select("doc_id", "n_tok", "n_kept", "n_cut", "text_cut", "tag").orderBy("doc_id", "tag")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getString(4), r.getString(5)))
      .toSeq
    val once = cuts(d)
    assert(Dedup.substrCutOver(d).columns.toSeq == Seq("doc_id", "n_tok", "n_kept", "n_cut", "text_cut", "tag"))
    assert(once.map(_._4) == Seq(12L, 12L, 0L))
    // doc 3 repeated: its copies share (doc_id, pos) locations, so nothing
    // is cut from it, and each copy keeps its own row
    val twice = cuts(d.union(d.filter(col("doc_id") === 3L)))
    assert(twice == once :+ once(2))
  }

  test("kept_lines: CR, trailing LF, empty lines, supplementary chars, invalid UTF-8, null") {
    import spark.implicits._
    // text as bytes so that invalid UTF-8 reaches the kernel unrepaired
    val cases = Seq(
      ("cr", "a\r\nb\r\nc", Seq(0, 2), (3L, 2L, "a\r\nc")),
      ("trailing", "a\nb\n", Seq(0, 1), (2L, 2L, "a\nb")),
      ("trailing1", "a\nb\n", Seq(1), (2L, 1L, "b")),
      // numbers count empty segments; an empty segment is never kept
      ("leading", "\n\na\n\nb", Seq(1, 2, 4), (2L, 2L, "a\nb")),
      ("blank", "\n\n\n", Seq(0, 1, 2, 3), (0L, 0L, "")),
      ("empty", "", Seq(0), (0L, 0L, "")),
      ("supp", "\ud83d\ude00x\n\ud835\udd38\n\ud83d\ude00x", Seq(0, 1), (3L, 2L, "\ud83d\ude00x\n\ud835\udd38")),
      ("repeats", "x\ny", Seq(0, 0, 1, 1, 7), (2L, 2L, "x\ny")),
      ("none", "x\ny", Seq(), (2L, 0L, "")))
    val invalid = Array[Byte]('a', 0xff.toByte, '\n', 'b', 0xe2.toByte, '\n', 0xe2.toByte, 0x82.toByte)
    val rows = cases.map(c => (c._1, c._2.getBytes("UTF-8"), c._3)) :+
      (("invalid", invalid, Seq(0, 2))) :+ (("null", null: Array[Byte], Seq(0)))
    val df = rows.toDF("id", "b", "pos")
      .select(col("id"), col("b").cast("string").as("text"), col("pos"))
    // text_dedup as its UTF-8 bytes: reading a string back repairs it
    def run(d: org.apache.spark.sql.DataFrame) =
      d.select(col("id"), graft.functions.exprs.keptLines(col("text"), col("pos")).as("k"))
        .select(col("id"), col("k.n_lines"), col("k.n_kept"), hex(col("k.text_dedup"))).collect()
        .map(r => r.getString(0) ->
          (if (r.isNullAt(1)) None else Some((r.getLong(1), r.getLong(2), r.getString(3)))))
        .toMap
    def utf8(s: String) = s.getBytes("UTF-8").map(b => f"$b%02X").mkString
    val interpreted = run(df) // a LocalRelation projection is folded, not codegen'd
    val generated = run(df.repartition(2))
    assert(interpreted == generated)
    cases.foreach { case (id, _, _, (n, k, t)) => assert(interpreted(id) == Some((n, k, utf8(t))), id) }
    // repaired as split repairs it: a lone 0xff and a truncated sequence
    // each become U+FFFD; the kept lines are the repaired ones
    assert(interpreted("invalid") == Some((3L, 2L, utf8("a\ufffd\n\ufffd"))))
    val viaSplit = df.filter(col("id") === "invalid")
      .select(hex(concat_ws("\n", element_at(split(col("text"), "\n"), 1),
        element_at(split(col("text"), "\n"), 3)))).as[String].head()
    assert(viaSplit == utf8("a\ufffd\n\ufffd"))
    assert(interpreted("null").isEmpty)
    // through lineDedupOver a NULL text keeps its old output
    val n = Dedup.lineDedupOver(Seq(("n", null: String), ("a", "x")).toDF("url", "text"))
      .filter(col("url") === "n").collect().head
    assert(n.isNullAt(1) && n.getLong(2) == 0L && n.isNullAt(3) && n.getString(4) == "")
  }

  test("line dedup plan: no lambda, one kept_lines, one join; curate's dedup write has one join") {
    import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
    import org.apache.spark.sql.execution.joins.BaseJoinExec
    object Plans extends org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    def joins(plan: SparkPlan) = Plans.collect(plan) { case j: BaseJoinExec => j }.size
    val onParquet = Dedup.lineDedupOver(
      spark.read.parquet(s"$SF/documents.parquet")
        .selectExpr("CAST(doc_id AS STRING) AS url", "text"))
    onParquet.write.format("noop").mode("overwrite").save()
    // the AQE final plan, now that the query has run
    val plan = onParquet.queryExecution.executedPlan
    assert(!plan.toString.contains("lambdafunction"), plan.toString)
    val kernels = Plans.flatMap(plan)(_.expressions.flatMap(_.collect {
      case k: graft.functions.KeptLines => k }))
    assert(kernels.size == 1, s"one kept_lines expected:\n$plan")
    assert(joins(plan) == 1, s"one join expected:\n$plan")
    val written = new java.util.concurrent.LinkedBlockingQueue[SparkPlan]()
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        if (qe.executedPlan.toString.contains("kept_lines")) written.add(qe.executedPlan)
      def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    val dedupWrite = try {
      Curate.run(spark, graft.sources.Corpus.pages(spark, 60),
        java.nio.file.Files.createTempDirectory("curate-dedup-plan").toString)
      written.poll(60, java.util.concurrent.TimeUnit.SECONDS)
    } finally spark.listenerManager.unregister(listener)
    assert(dedupWrite != null, "no curate write evaluated kept_lines")
    assert(joins(dedupWrite) == 1, s"curate line-dedup write:\n$dedupWrite")
  }

  test("gopher repetition signals: exact values on a crafted doc; signal core is exchange-free") {
    import spark.implicits._
    // lines [p q, p q, r]: dup_line 1/3, line_chars 7, uniq_chars 4,
    // top bigram ("p q", n=2) covering 2*3 of 7 chars
    val g = TextAnalysis.gopherSignals(Seq(("a", "p q\np q\nr")).toDF("url", "text"))
      .collect().head
    assert((g.getLong(1), g.getLong(2), g.getLong(3), g.getLong(4), g.getLong(5)) ==
      ((3L, 333L, 428L, 2L, 857L)))
    // the claim in the scaladoc: a pure map-side scorer — no Exchange of any
    // kind in the physical plan over a real (non-local-relation) scan
    val onParquet = TextAnalysis.gopherSignals(
      spark.read.parquet(s"$SF/documents.parquet")
        .selectExpr("CAST(doc_id AS STRING) AS url", "text"))
    assert(!onParquet.queryExecution.executedPlan.toString.contains("Exchange"))
    // and a native one: no interpreted lambda, and the kernel evaluated once
    // per row (its struct is read five times; CollapseProject must not
    // inline it into each read) — over parquet and in curate's verdict pass
    import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
    object Plans extends org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    def nativeOnce(plan: SparkPlan, what: String): Unit = {
      assert(!plan.toString.contains("lambdafunction"), s"$what:\n$plan")
      val kernels = Plans.flatMap(plan)(_.expressions.flatMap(_.collect {
        case k: graft.functions.GopherSignals => k }))
      assert(kernels.size == 1, s"$what: one gopher_signals expected:\n$plan")
    }
    nativeOnce(onParquet.queryExecution.executedPlan, "gopherSignals over parquet")
    val written = new java.util.concurrent.LinkedBlockingQueue[SparkPlan]()
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        if (qe.executedPlan.toString.contains("gopher_signals")) written.add(qe.executedPlan)
      def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    val verdict = try {
      Curate.run(spark, graft.sources.Corpus.pages(spark, 60),
        java.nio.file.Files.createTempDirectory("curate-plan").toString)
      written.poll(60, java.util.concurrent.TimeUnit.SECONDS)
    } finally spark.listenerManager.unregister(listener)
    assert(verdict != null, "no curate write evaluated gopher_signals")
    nativeOnce(verdict, "curate verdict pass")
  }

  test("gopher signals: bigram ties, CR, space runs, empty lines, null text") {
    import spark.implicits._
    val docs = Seq(
      // two-way tie at count 2: UTF-8 order puts "x 😀" (F0 ..) above
      // "x ＡＡ" (EF ..), UTF-16 order the reverse; the winners cover 3 vs 4
      // codepoints, so a String-order kernel reads 571 instead of 428
      ("tie", "x 😀\nx ＡＡ\nx 😀\nx ＡＡ"),
      // CR is line content: lines "a b\r", "a b\r", "c" (4 + 4 + 1 chars)
      ("cr", "a b\r\na b\r\nc"),
      ("cr_only", "a b\rc d"),
      // tokens are the non-empty space-separated segments; line_chars counts
      // the spaces: "  p   q  r " (11) + " p q" (4)
      ("spaces", "  p   q  r \n p q"),
      ("edges", "\n\na a\n\n"),
      ("blank", "\n\n\n"),
      ("empty", ""),
      ("null", null))
    val got = TextAnalysis.gopherSignals(docs.toDF("url", "text")).collect()
      .map(r => r.getString(0) -> (1 to 5).map(i => if (r.isNullAt(i)) None else Some(r.getLong(i))))
      .toMap
    def s(xs: Long*) = xs.map(Some(_))
    assert(got("tie") == s(4, 500, 500, 2, 428))
    assert(got("cr") == s(3, 333, 444, 2, 888))
    assert(got("cr_only") == s(1, 0, 0, 1, 714))
    assert(got("spaces") == s(2, 0, 0, 2, 400))
    assert(got("edges") == s(1, 0, 0, 1, 1000))
    assert(got("blank") == s(0, 0, 0, 0, 0))
    assert(got("empty") == s(0, 0, 0, 0, 0))
    assert(got("null") == Seq(None, None, None, Some(0L), Some(0L)))
  }

  test("gopher signals equal a plain-collections reference on random docs (property)") {
    import org.scalacheck.Gen
    import org.scalacheck.rng.Seed
    import spark.implicits._
    // the spec: lines are the non-empty LF-separated segments, tokens the
    // non-empty space-separated ones, lengths in codepoints, the top bigram
    // is the max by (count, UTF-8 bytes)
    def reference(text: String): Seq[Long] = {
      def cps(s: String) = s.codePointCount(0, s.length).toLong
      val lines = text.split("\n", -1).toSeq.filter(_.nonEmpty)
      val lineChars = lines.map(cps).sum
      val bigrams = lines.flatMap { l =>
        val t = l.split(" ", -1).toSeq.filter(_.nonEmpty)
        t.zip(t.drop(1)).map { case (a, b) => s"$a $b" }
      }
      val utf8 = Ordering.comparatorToOrdering(
        (a: Array[Byte], b: Array[Byte]) => java.util.Arrays.compareUnsigned(a, b))
      val (topN, topBg) =
        if (bigrams.isEmpty) (0L, "")
        else bigrams.groupBy(identity).toSeq.map { case (b, xs) => (xs.size.toLong, b) }
          .maxBy { case (n, b) => (n, b.getBytes("UTF-8")) }(Ordering.Tuple2(Ordering.Long, utf8))
      Seq(lines.size.toLong,
        1000 * (lines.size - lines.distinct.size) / math.max(lines.size, 1),
        1000 * (lineChars - lines.distinct.map(cps).sum) / math.max(lineChars, 1),
        topN,
        1000 * topN * cps(topBg) / math.max(lineChars, 1))
    }
    // a small alphabet forces repeated lines and bigram ties; supplementary
    // (😀), CJK, full-width and combining characters put UTF-8 and UTF-16
    // order at odds; CR and tab are token content
    val tok = Gen.oneOf("a", "b", "ab", "é", "é", "中", "😀", "ＡＡ", "x\r", "\t", "𝔸b")
    val line = Gen.choose(0, 7).flatMap(n =>
      Gen.listOfN(n, Gen.zip(tok, Gen.oneOf(" ", " ", "  ", ""))).map(_.map(p => p._1 + p._2).mkString))
    val doc = Gen.choose(0, 9).flatMap(n => Gen.listOfN(n, line)).map(_.mkString("\n"))
    val docs = Gen.listOfN(400, doc).apply(Gen.Parameters.default, Seed(20261017L)).get
      .zipWithIndex.map { case (t, i) => (f"d$i%03d", t) }
    val got = TextAnalysis.gopherSignals(docs.toDF("url", "text").repartition(3)).collect()
      .map(r => r.getString(0) -> (1 to 5).map(r.getLong)).toMap
    docs.foreach { case (u, t) => assert(got(u) == reference(t), s"$u: ${t.replace("\n", "\\n")}") }
  }

  test("exact-substring spans: planted shared passage found, islands merge, plan is two exchanges") {
    import spark.implicits._
    // L = 8. Docs a and b share a 12-token passage (5 duplicated 8-gram
    // positions each, all overlapping -> ONE span of 12 tokens); doc c is
    // unique filler long enough to carry grams but shares nothing.
    val passage = (1 to 12).map(i => s"dup$i").mkString(" ")
    val d = Seq(
      (1L, s"one two three four five six seven eight nine $passage tail1 tail2"),
      (2L, s"$passage alpha beta gamma delta epsilon zeta eta theta"),
      (3L, "u1 u2 u3 u4 u5 u6 u7 u8 u9 u10 u11 u12 u13 u14")
    ).toDF("doc_id", "text")
    val r = Dedup.substrOver(d).orderBy("doc_id", "span_start").collect()
      .map(x => (x.getLong(0), x.getLong(2), x.getLong(3), x.getLong(4), x.getLong(5)))
    // doc 1: passage starts at token 9 -> span [9, 21); doc 2: [0, 12)
    assert(r.toSeq == Seq((1L, 9L, 21L, 12L, 5L), (2L, 0L, 12L, 12L, 5L)))
    // two disjoint duplicated regions in one doc -> two spans (island break)
    val far = Seq(
      (10L, s"$passage ${(1 to 10).map(i => s"mid$i").mkString(" ")} $passage"),
      (11L, passage)
    ).toDF("doc_id", "text")
    val spans10 = Dedup.substrOver(far).filter(col("doc_id") === 10L)
      .orderBy("span_start").collect()
    assert(spans10.length == 2, spans10.mkString(","))
    assert(spans10.map(_.getLong(4)).forall(_ == 12L))
    // determinism under repartition
    val r7 = Dedup.substrOver(d.repartition(7)).orderBy("doc_id", "span_start").collect()
      .map(x => (x.getLong(0), x.getLong(2), x.getLong(3), x.getLong(4), x.getLong(5)))
    assert(r7.toSeq == r.toSeq)
    // scale shape over a real scan: exactly TWO shuffles of the gram table
    // (md5 key for the frequency window, then doc_id for the island merge)
    val plan = Dedup.substrOver(spark.read.parquet(s"$SF/documents.parquet"))
      .queryExecution.executedPlan.toString
    val all = "(?<!Reused)(?<!Broadcast)Exchange ".r.findAllIn(plan).length
    assert(all == 2, s"expected 2 exchanges:\n$plan")
  }

  test("simhash pairs: identical copies at hamming 0, pigeonhole band recall is total") {
    val rows = Dedup.simhashPairs(spark, SF).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(rows.nonEmpty)
    // every identical planted copy (base X vs copy X+1000000) appears at
    // hamming 0 — banding can NEVER miss a within-HAM_MAX pair (pigeonhole:
    // 4 bands, <= 3 differing bits)
    val d = spark.read.parquet(s"$SF/documents.parquet")
    val withShingles = d.filter(col("doc_id") % 10 === 0)
      .filter(size(split(col("text"), " ")) >= 3)
      .select("doc_id").collect().map(_.getLong(0))
    withShingles.foreach { id =>
      assert(rows.exists(p => p._1 == id && p._2 == id + 1000000L && p._3 == 0L),
        s"identical pair for doc $id missing")
    }
    // hamming is symmetric-canonical and bounded
    rows.foreach { case (a, b, h) => assert(a < b && h >= 0 && h <= 3) }
  }

  test("substring cut: spans removed, remainder preserved, totals reconcile") {
    val r = Dedup.substrCut(spark, SF).collect()
    assert(r.nonEmpty)
    // totals reconcile per doc and overall cut mass equals the span report
    r.foreach { row =>
      assert(row.getLong(1) - row.getLong(2) == row.getLong(3))
    }
    val totalCut = r.map(_.getLong(3)).sum
    val spanToks = Dedup.substr(spark, SF).collect().map(_.getLong(4)).sum
    assert(totalCut == spanToks, s"cut $totalCut != span tokens $spanToks")
    // docs without any span keep every token byte-identically
    val untouched = r.filter(_.getLong(3) == 0)
    assert(untouched.nonEmpty)
  }

  test("langid: planted markers recovered for every doc; map-side only") {
    val r = TextAnalysis.langid(spark, SF)
    assert(r.filter(col("correct") =!= 1L).count() == 0)
    val langs = Seq("de", "en", "es", "fr", "zh")
    // per-row scorer: no hash exchange anywhere (the only exchange is the
    // oracle dump's global sort)
    val plan = r.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange hashpartitioning"), plan)
    // the labeled lang always wins: its score strictly exceeds every rival
    val rows = r.collect()
    rows.foreach { row =>
      val lang = row.getString(1)
      val scores = langs.zipWithIndex.map { case (l, i) => l -> row.getLong(2 + i) }.toMap
      val own = scores(lang)
      assert(own >= 2 && own <= 4, s"planted 2-4 markers, got $own for $lang")
      (scores - lang).values.foreach(s => assert(s < own))
    }
  }

  test("filter gate: reasons are deterministic, kept iff no reason fired") {
    val r = TextAnalysis.filterGate(spark, SF).collect()
    assert(r.nonEmpty)
    r.foreach { row =>
      val kept = row.getBoolean(4); val reasons = row.getString(5)
      assert(kept == reasons.isEmpty)
      val nTok = row.getLong(1); val stop = row.getLong(2); val atl = row.getLong(3)
      val expected = Seq(
        if (nTok < 40) Some("too_short") else None,
        if (nTok > 55) Some("too_long") else None,
        if (stop * 10 < nTok) Some("low_stopword") else None,
        if (atl < 380 || atl > 470) Some("bad_tok_len") else None
      ).flatten.mkString(",")
      assert(reasons == expected, s"doc ${row.getLong(0)}")
    }
    // both verdicts are populated at the gate's corpus size (sf0.01 —
    // thresholds are calibrated there; sf0.001 docs are all rejected)
    val r01 = TextAnalysis.filterGate(spark, "/root/testdata/sf0.01").collect()
    assert(r01.exists(_.getBoolean(4)) && r01.exists(!_.getBoolean(4)))
  }

  test("two-level prefix-sum packing equals the single-window formulation") {
    Seq("/root/testdata/sf0.001", "/root/testdata/sf0.01").foreach { sf =>
      val a = TextAnalysis.pack(spark, sf).collect().map(_.toString).toSeq
      val b = TextAnalysis.packScalable(spark, sf).collect().map(_.toString).toSeq
      assert(a == b && a.nonEmpty, sf)
    }
  }

  test("curate pipeline: gates enforced, splits partition the unique set, deterministic") {
    val out = java.nio.file.Files.createTempDirectory("curate").toString
    val rep = Curate.run(spark, graft.sources.Corpus.pages(spark, 300), out)
    assert(rep.extracted == 300)
    assert(rep.nonEmpty <= rep.extracted && rep.qualityKept <= rep.nonEmpty)
    assert(rep.uniqueKept <= rep.qualityKept && rep.uniqueKept > 0)
    assert(rep.train + rep.`val` + rep.test == rep.uniqueKept)
    val back = spark.read.parquet(out)
    assert(back.count() == rep.uniqueKept)
    assert(back.select("split").distinct().collect().map(_.getString(0)).toSet
      .subsetOf(Set("train", "val", "test")))
    // every gate holds on the written corpus
    assert(back.filter(col("n_tok") < Curate.MIN_TOKENS).count() == 0)
    assert(back.groupBy(md5(col("text"))).count().filter(col("count") > 1).count() == 0)
    // deterministic: a rerun produces the identical corpus
    val out2 = java.nio.file.Files.createTempDirectory("curate2").toString
    val rep2 = Curate.run(spark, graft.sources.Corpus.pages(spark, 300), out2)
    assert(rep == rep2)
    val a = back.select("url", "split", "text").collect().map(_.toString).sorted.toSeq
    val b = spark.read.parquet(out2).select("url", "split", "text")
      .collect().map(_.toString).sorted.toSeq
    assert(a == b)
  }

  test("curate robots-gate: noindex pages never reach extraction; " +
    "index,follow and non-html pages pass; default path unchanged") {
    import spark.implicits._
    def page(i: Long, meta: String): Page = {
      val body = (1 to 40).map(j => s"body word w${i}x$j content").mkString(" ")
      Page(s"https://rg.example.org/p$i",
        java.sql.Timestamp.valueOf("2025-03-01 00:00:00"),
        (s"<html><head><title>t</title>$meta</head>" +
          s"<body><p>$body</p></body></html>").getBytes("UTF-8"), null, "en")
    }
    val pages = spark.createDataset(Seq(
      page(1, """<meta name="robots" content="noindex, nofollow">"""),
      page(2, """<meta name="robots" content="index, follow">"""),
      page(3, ""),
      page(4, """<meta name="ROBOTS" content="NOINDEX">"""), // case-blind
      page(5, """<meta name="robots" content="nofollow">""")) :+
      Page("https://rg.example.org/txt",
        java.sql.Timestamp.valueOf("2025-03-01 00:00:00"),
        ("plain text payload " * 30).getBytes("UTF-8"), null, "en"))
    val out = java.nio.file.Files.createTempDirectory("rg").toString
    val rep = Curate.run(spark, pages, s"$out/gated", robotsGate = true)
    assert(rep.extracted == 4, s"noindex pages extracted: $rep")
    val kept = spark.read.parquet(s"$out/gated-extracted")
      .select("url").collect().map(_.getString(0)).toSet
    assert(!kept.exists(_.endsWith("/p1")) && !kept.exists(_.endsWith("/p4")))
    assert(kept.exists(_.endsWith("/p2")) && kept.exists(_.endsWith("/p3")) &&
      kept.exists(_.endsWith("/p5")) && kept.exists(_.endsWith("/txt")))
    // flag off: nothing is dropped
    val rep0 = Curate.run(spark, pages, s"$out/plain")
    assert(rep0.extracted == 6)
  }

  test("curate with near-dedup: planted page copies collapse to one kept doc per cluster") {
    import spark.implicits._
    val base = graft.sources.Corpus.pages(spark, 200)
    // identical-html copies under a new url: the copy extracts to identical
    // text, so LSH pairs it with its original in all 4 bands and the
    // component keep-rule must keep exactly the lexicographically-least url
    // (the original — its url is a strict prefix of the copy's)
    val copies = base.filter(col("url").substr(-1, 1).isin("0", "4", "8"))
      .as[graft.Page].map(p => p.copy(url = p.url + "?copy1"))
    val planted = base.unionByName(copies)
    val outN = java.nio.file.Files.createTempDirectory("curate-near").toString
    val repN = Curate.run(spark, planted, outN, nearDedup = true)
    assert(repN.nearDropped > 0, "no near-duplicates dropped on a planted corpus")
    // no kept url coexists with its planted twin
    val kept = spark.read.parquet(outN).select("url").collect().map(_.getString(0)).toSet
    val twins = kept.filter(u => u.endsWith("?copy1") && kept(u.stripSuffix("?copy1")))
    assert(twins.isEmpty, s"kept both members of ${twins.size} planted clusters")
    // identical copies are caught by EXACT dedup too: the two paths must
    // agree on the kept count for exact inputs
    val outB = java.nio.file.Files.createTempDirectory("curate-nearbase").toString
    val repB = Curate.run(spark, planted, outB)
    assert(repN.uniqueKept == repB.uniqueKept,
      s"near-dedup kept ${repN.uniqueKept}, exact-only kept ${repB.uniqueKept}")
    // deterministic rerun
    val outN2 = java.nio.file.Files.createTempDirectory("curate-near2").toString
    assert(Curate.run(spark, planted, outN2, nearDedup = true) == repN)
  }

  test("curate with cut-spans: duplicated spans removed before the gate, deterministic") {
    val base = java.nio.file.Files.createTempDirectory("curate-base").toString
    val cut = java.nio.file.Files.createTempDirectory("curate-cut").toString
    val repBase = Curate.run(spark, graft.sources.Corpus.pages(spark, 300), base)
    val repCut = Curate.run(spark, graft.sources.Corpus.pages(spark, 300), cut,
      cutSpans = true)
    assert(repBase.extracted == repCut.extracted &&
      repBase.nonEmpty == repCut.nonEmpty)
    // the cut only ever removes tokens: total token mass strictly shrinks
    // (the synthetic chrome guarantees cross-page duplicated >= 8-gram runs)
    def mass(dir: String): Long = spark.read.parquet(dir)
      .agg(sum(col("n_tok"))).collect().head.getLong(0)
    assert(mass(cut) < mass(base), s"${mass(cut)} !< ${mass(base)}")
    // after one cut pass, the written corpus carries no corpus-wide
    // duplicated 8-token span (word-salad corpus: seams create none)
    val residual = graft.operators.Dedup.substrOver(
      spark.read.parquet(cut).select(col("url").as("doc_id"), col("text"))).count()
    assert(residual == 0L, s"residual duplicated spans: $residual")
    // deterministic rerun
    val cut2 = java.nio.file.Files.createTempDirectory("curate-cut2").toString
    assert(Curate.run(spark, graft.sources.Corpus.pages(spark, 300), cut2,
      cutSpans = true) == repCut)
  }

  test("curate with scrub-pii: planted PII redacted in the written corpus, counted, deterministic") {
    import spark.implicits._
    // union hand-made text/plain pages carrying real PII shapes onto the
    // synthetic corpus (whose word salad is PII-free by construction)
    val piiPages = (0 until 5).map { i =>
      val words = (0 until 40).map(j => s"w$j$i").mkString(" ")
      graft.Page(s"https://pii.example.org/d$i",
        java.sql.Timestamp.valueOf("2026-01-01 00:00:00"),
        (s"$words contact alice$i@spam.example.com or +1-555-123-4567 at 10.1.2.$i now")
          .getBytes("UTF-8"),
        null, "en")
    }.toDS()
    val planted = graft.sources.Corpus.pages(spark, 300).unionByName(piiPages)
    val out = java.nio.file.Files.createTempDirectory("curate-pii").toString
    val rep = Curate.run(spark, planted, out, scrubPii = true)
    val back = spark.read.parquet(out)
    // no raw PII survives in the written corpus; placeholders do appear
    assert(back.filter(col("text").rlike("[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}")).count() == 0)
    val redactedDocs = back.filter(col("text").contains("<EMAIL>")).count()
    assert(redactedDocs > 0 && rep.piiDocs >= redactedDocs,
      s"redacted=$redactedDocs reported=${rep.piiDocs}")
    // the unscrubbed run keeps identical funnel counts (scrub never gates)
    val out2 = java.nio.file.Files.createTempDirectory("curate-pii2").toString
    val rep2 = Curate.run(spark, planted, out2)
    assert(rep.copy(piiDocs = 0L) == rep2)
    // deterministic rerun
    val out3 = java.nio.file.Files.createTempDirectory("curate-pii3").toString
    assert(Curate.run(spark, planted, out3, scrubPii = true) == rep)
  }

  test("curate with zratio-gate: planted repetitive docs rejected, natural docs unaffected") {
    import spark.implicits._
    // text/plain pages of pure repetition: long enough to pass the length
    // gate, line-UNIQUE and bigram-rotated so the Gopher signals (duplicate
    // lines / top-bigram coverage) do NOT fire — only deflate sees the
    // repetition. This is exactly the gap the CCNet/RefinedWeb ratio closes.
    val spamPages = (0 until 6).map { i =>
      // three 24-word stanza lines, each repeated 10x with a unique tail:
      // no exact duplicate line, no hot bigram (each stanza bigram covers
      // ~3% of chars) — but deflate back-references the whole stanza, so
      // the ratio collapses far below the 150-permille threshold
      val stanza = (0 until 3).map(s => (0 until 24).map(j => s"w${s}x$j").mkString(" "))
      val text = (0 until 30).map(ln => s"${stanza(ln % 3)} u$i$ln").mkString("\n")
      graft.Page(s"https://spam.example.org/z$i",
        java.sql.Timestamp.valueOf("2026-01-01 00:00:00"),
        text.getBytes("UTF-8"), null, "en")
    }.toDS()
    val planted = graft.sources.Corpus.pages(spark, 300).unionByName(spamPages)
    val outG = java.nio.file.Files.createTempDirectory("curate-z1").toString
    val repG = Curate.run(spark, planted, outG, zratioGate = true)
    val outN = java.nio.file.Files.createTempDirectory("curate-z2").toString
    val repN = Curate.run(spark, planted, outN)
    // the gate rejects all 6 planted docs and ONLY them
    assert(repN.qualityKept - repG.qualityKept == 6,
      s"gated=${repG.qualityKept} ungated=${repN.qualityKept}")
    val keptG = spark.read.parquet(outG).select("url").as[String].collect().toSet
    val keptN = spark.read.parquet(outN).select("url").as[String].collect().toSet
    assert((keptN -- keptG) == spamPages.collect().map(_.url).toSet)
    // deterministic rerun
    val outG2 = java.nio.file.Files.createTempDirectory("curate-z3").toString
    assert(Curate.run(spark, planted, outG2, zratioGate = true) == repG)
  }

  test("streaming curate: cross-batch dedup against fingerprint history, resumable, no rescans") {
    import spark.implicits._
    val seed = graft.sources.Corpus.DEFAULT_SEED
    val tmp = java.nio.file.Files.createTempDirectory("st-curate").toString
    val (pagesDir, outDir, ckpt, fpDir) =
      (s"$tmp/pages", s"$tmp/out", s"$tmp/ckpt", s"$tmp/fp")

    // drop 1: pages 0..299
    graft.sources.PageTable.write(
      graft.sources.Corpus.pages(spark, 300), pagesDir, numBuckets = 8)
    val r1 = graft.streaming.StreamingCurate
      .runOnce(spark, pagesDir, outDir, ckpt, fpDir, filesPerTrigger = 8)
    // gate holds; fingerprints unique across ALL batches of the run
    assert(r1.filter(col("n_tok") < Curate.MIN_TOKENS).count() == 0)
    assert(r1.groupBy("fp").count().filter(col("count") > 1).count() == 0)

    // re-run with no new files: a pure no-op (nothing reprocessed)
    val r1b = graft.streaming.StreamingCurate
      .runOnce(spark, pagesDir, outDir, ckpt, fpDir, filesPerTrigger = 8)
    assert(r1b.count() == r1.count())

    // listing marker (the CLI's fast no-op path): absent -> not up to date;
    // committed -> up to date; any appended file invalidates it
    assert(!graft.streaming.StreamingCurate.upToDate(pagesDir, ckpt))
    graft.streaming.StreamingCurate.commitListing(
      graft.streaming.StreamingCurate.listingFingerprint(pagesDir), ckpt)
    assert(graft.streaming.StreamingCurate.upToDate(pagesDir, ckpt))

    // drop 2: pages 200..349 — 100 exact RECRAWLS of drop 1 plus 50 new
    val drop2 = spark.range(200, 350).map(i => graft.sources.Corpus.page(seed, i))
    drop2.toDF()
      .withColumn("bucket", graft.sources.PageTable.bucketCol(8))
      .withColumn("day", date_format(col("warc_ts"), "yyyy-MM-dd"))
      .write.mode("append").partitionBy("bucket", "day")
      .parquet(s"$pagesDir/data")
    // the appended drop invalidated the committed listing marker
    assert(!graft.streaming.StreamingCurate.upToDate(pagesDir, ckpt))
    val r2 = graft.streaming.StreamingCurate
      .runOnce(spark, pagesDir, outDir, ckpt, fpDir, filesPerTrigger = 8)

    // still globally duplicate-free after the incremental fold-in
    assert(r2.groupBy("fp").count().filter(col("count") > 1).count() == 0)
    // the final fingerprint SET equals the batch reference over 0..349
    // (keeper url may differ — batch keeps global min url, the stream keeps
    // the earliest batch's — but the kept CONTENT set must be identical)
    val ref = Extract.extract(
      spark.range(0, 350).map(i => graft.sources.Corpus.page(seed, i))).toDF()
      .filter(col("contentKind") =!= "empty" && length(col("text")) > 0)
      .withColumn("n_tok",
        size(filter(split(col("text"), " "), t => t =!= lit(""))).cast("long"))
      .filter(col("n_tok") >= Curate.MIN_TOKENS)
      .select(md5(col("text")).as("fp")).distinct()
    val got = r2.select("fp").distinct()
    assert(got.count() == ref.count() &&
      got.join(ref, Seq("fp"), "left_anti").count() == 0)
    // drop 2 contributed only genuinely new content: the 100 recrawls died
    // in the history anti-join, so at most the 50 new pages' docs landed
    val added = r2.count() - r1.count()
    assert(added > 0 && added <= 50, s"drop-2 added $added docs")
    // both sinks are zstd, as the batch pipeline's outputs are
    assert(chunkCodecs(outDir) == Set("ZSTD"))
    assert(chunkCodecs(fpDir) == Set("ZSTD"))
  }
}
