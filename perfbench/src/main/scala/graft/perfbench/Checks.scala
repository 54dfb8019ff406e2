package graft.perfbench

import graft.Page
import graft.operators.{Curate, ScalarExtract}
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** Output checks. Each returns None when the output is correct, or the
  * reason it is not; a missing or unreadable output is a failure, never a
  * skipped check.
  */
object Checks {

  val DOC_COLS = Seq("url", "warc_ts", "lang", "text", "spans", "nBlocks", "nDropped", "contentKind")
  /** The columns `Curate.run` keeps in its extraction artifact. */
  val ARTIFACT_COLS = Seq("url", "warc_ts", "lang", "text", "contentKind")
  val CURATED_COLS = Seq("split", "url", "warc_ts", "lang", "contentKind", "n_tok", "text")

  /** The scalar oracle's documents for the staged pages. */
  def oracleDocs(pages: Dataset[Page]): DataFrame = {
    import pages.sparkSession.implicits._
    pages.map(ScalarExtract.extract).toDF()
  }

  def fold(df: DataFrame, cols: Seq[String]): Fingerprint = Fingerprint.of(df.select(cols.map(col): _*))

  private def attempt(what: String)(f: => Option[String]): Option[String] =
    try f catch { case e: Exception => Some(s"$what: ${e.getClass.getSimpleName}: ${e.getMessage}") }

  /** Written `ExtractedDoc` parquet equals the oracle's documents. */
  def extractOutput(spark: SparkSession, outDir: String, expected: Fingerprint): Option[String] =
    attempt("reading extract output") {
      val got = fold(spark.read.parquet(outDir), DOC_COLS)
      if (got == expected) None else Some(s"extract output ${got.json} != oracle ${expected.json}")
    }

  /** What one curate rep must reproduce: the funnel counts and the digest
    * of the written corpus.
    */
  case class CurateResult(report: Curate.Report, corpus: Fingerprint) {
    def asMap: Map[String, Any] = scala.collection.immutable.ListMap(
      "extracted" -> report.extracted, "nonEmpty" -> report.nonEmpty, "qualityKept" -> report.qualityKept,
      "uniqueKept" -> report.uniqueKept, "train" -> report.train, "val" -> report.`val`,
      "test" -> report.test, "corpus" -> corpus.asMap)
    def json: String = Json.value(asMap)
  }

  /** Reads back the curated corpus and checks it against the funnel report
    * and the curation invariants; returns the result to compare across reps.
    */
  def curateOutput(spark: SparkSession, outDir: String, report: Curate.Report, pages: Long,
                   expectedArtifact: Fingerprint): Either[String, CurateResult] =
    try {
      val corpus = spark.read.parquet(outDir)
      val fp = fold(corpus, CURATED_COLS)
      val r = corpus.agg(
        count(when(col("split") === "train", 1)), count(when(col("split") === "val", 1)),
        count(when(col("split") === "test", 1)), countDistinct(md5(col("text"))),
        coalesce(min(col("n_tok")), lit(Curate.MIN_TOKENS))).head()
      val artifact = fold(spark.read.parquet(s"$outDir-extracted"), ARTIFACT_COLS)
      val problems = Seq(
        (report.extracted != pages) -> s"extracted ${report.extracted} != $pages pages",
        (artifact != expectedArtifact) -> s"extraction artifact ${artifact.json} != oracle ${expectedArtifact.json}",
        (fp.rows != report.uniqueKept) -> s"corpus rows ${fp.rows} != uniqueKept ${report.uniqueKept}",
        ((r.getLong(0), r.getLong(1), r.getLong(2)) != ((report.train, report.`val`, report.test))) ->
          s"split counts ${(r.getLong(0), r.getLong(1), r.getLong(2))} != report",
        (r.getLong(3) != fp.rows) -> s"duplicate texts in corpus: ${r.getLong(3)} distinct of ${fp.rows}",
        (r.getLong(4) < Curate.MIN_TOKENS) -> s"a document with ${r.getLong(4)} tokens passed the gate",
        (report.uniqueKept == 0) -> "the funnel kept nothing"
      ).collect { case (true, msg) => msg }
      if (problems.isEmpty) Right(CurateResult(report, fp)) else Left(problems.mkString("; "))
    } catch { case e: Exception => Left(s"reading curate output: ${e.getClass.getSimpleName}: ${e.getMessage}") }
}
