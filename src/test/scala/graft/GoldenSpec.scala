package graft

import graft.functions.Charset
import graft.operators.{Extract, ScalarExtract}
import graft.sources.Corpus
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** The engine's central invariant (BASELINE.json:14): byte-identical
  * extracted text per url for every template/charset/lang/payload
  * combination, under any partitioning. Production (`Extract.extract`, a
  * map of `ScalarExtract`) is checked against its relational twin and
  * against the committed golden files.
  */
class GoldenSpec extends AnyFunSuite {
  private val spark = SparkFixture.spark
  import spark.implicits._

  private val N = 600L
  private val seed = Corpus.DEFAULT_SEED

  private lazy val scalarByUrl: Map[String, ExtractedDoc] =
    (0L until N).map { i =>
      val p = Corpus.page(seed, i)
      p.url -> ScalarExtract.extract(p)
    }.toMap

  test("distributed pipeline is byte-identical to the scalar oracle") {
    GoldenSpec.checkTwin(spark, N, seed, info(_))
  }

  test("output invariant under repartitioning (1, 3, 16 partitions)") {
    for (p <- Seq(1, 3, 16)) {
      val pages = Corpus.pages(spark, 150L, seed).repartition(p)
      val docs = Extract.extract(pages).collect().toSeq
      docs.foreach { d =>
        assert(d.text == scalarByUrl(d.url).text, s"parts=$p url=${d.url}")
      }
    }
  }

  test("output invariant under salted pages repartition") {
    for (salt <- Seq(0L, 7L, 12345L)) {
      val pages = Extract.saltedPages(Corpus.pages(spark, 150L, seed), 5, salt)
      val docs = Extract.extract(pages).collect().toSeq
      docs.foreach { d =>
        assert(d.text == scalarByUrl(d.url).text, s"salt=$salt url=${d.url}")
      }
    }
  }

  /** S6/J2: the COMMITTED golden files (not the in-memory oracle) compared
    * via an actual Spark full-outer join — catches accidental co-evolution
    * of the scalar oracle and the distributed pipeline, which the in-memory
    * comparison structurally cannot see.
    */
  test("committed golden files match via full-outer join") {
    import org.apache.spark.sql.functions._
    val golden = spark.read.format("binaryFile")
      .load(GoldenFiles.DIR)
      .select(
        regexp_extract(col("path"), "([0-9a-f]{32})\\.txt$", 1).as("urlhash"),
        col("content"))
    val mine = Extract.extract(Corpus.pages(spark, GoldenFiles.N, seed)).toDF
      .select(md5(col("url")).as("urlhash"), encode(col("text"), "UTF-8").as("mybytes"))
    val joined = mine.join(golden, Seq("urlhash"), "full_outer")
    assert(joined.count() == GoldenFiles.N)
    // empty texts have no committed file (binaryFile drops zero-byte files):
    // empty-mine + missing-golden matches; every other asymmetry is a failure
    val bad = joined.filter(
      (col("content").isNull && length(col("mybytes")) > 0) ||
        (col("content").isNotNull &&
          (col("mybytes").isNull || col("content") =!= col("mybytes")))).count()
    assert(bad == 0, s"$bad golden files differ (regenerate deliberately via Test/runMain graft.GoldenFiles)")
  }
}

object GoldenSpec {
  import org.scalatest.Assertions._

  /** The relational twin — tokenizer rows → window classification → line
    * merge → assembly, the formulation behind the ex_* DuckDB oracles —
    * against the scalar function on every url of the first `n` corpus
    * pages; the first mismatching texts go to `note`. The twin holds one
    * row per html/pdf doc with at least one kept block.
    */
  def checkTwin(spark: SparkSession, n: Long, seed: Long, note: String => Unit): Unit = {
    import spark.implicits._
    val scalar = (0L until n).map(i => ScalarExtract.extract(Corpus.page(seed, i)))
    // every contentKind is actually exercised by the corpus
    val kinds = scalar.map(_.contentKind).toSet
    assert(Model.CONTENT_KINDS.toSet.subsetOf(kinds), s"kinds seen: $kinds")
    val twin = Extract.assembled(Extract.lines(Extract.classifiedBlocks(
      Corpus.pages(spark, n, seed).flatMap(Extract.toRows))))
      .as[(String, String, Seq[Span], Long)].collect()
      .map(r => r._1 -> r).toMap
    assert(twin.keySet.subsetOf(scalar.map(_.url).toSet))
    val docKinds = Set(Charset.KIND_HTML, Charset.KIND_PDF)
    var mismatches = 0
    scalar.foreach { g =>
      twin.get(g.url) match {
        case Some((url, atext, aspans, keptRows)) =>
          assert(docKinds(g.contentKind), s"twin row for a ${g.contentKind} doc $url")
          if (atext != g.text) {
            mismatches += 1
            if (mismatches <= 3) {
              note(s"TEXT MISMATCH url=$url kind=${g.contentKind}")
              note(s"  twin:   ${atext.take(300).replace("\n", "\\n")}")
              note(s"  scalar: ${g.text.take(300).replace("\n", "\\n")}")
            }
          }
          assert(aspans == g.spans, s"spans mismatch $url twin=${aspans.take(5)} scalar=${g.spans.take(5)}")
          assert(keptRows == g.nBlocks - g.nDropped,
            s"kept rows $url: $keptRows vs ${g.nBlocks} - ${g.nDropped}")
        case None if docKinds(g.contentKind) =>
          assert(g.text.isEmpty && g.nBlocks == g.nDropped, s"${g.url} kept blocks but has no twin row")
        case None => ()
      }
    }
    assert(mismatches == 0, s"$mismatches/${twin.size} docs with text mismatch")
  }
}
