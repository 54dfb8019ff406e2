package graft.perfbench

import graft.operators.{Curate, Extract}
import java.nio.file.Files
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** The benchmark's output checks are not vacuous: they pass on the
  * program's real output and fail on one corrupted row, on an empty output
  * and on a missing one.
  */
class ChecksSpec extends AnyFunSuite with BeforeAndAfterAll {
  private val dir = Files.createTempDirectory("perfbench-checks").toFile
  private lazy val spark = BenchMain.session(2, dir.getAbsolutePath)
  private def path(name: String) = s"${dir.getAbsolutePath}/$name"

  override def afterAll(): Unit = {
    spark.stop()
    BenchMain.deleteTree(dir)
  }

  private lazy val staged = Staging.stage(spark, Workload.CrawlMix, 7L, 300L, 2, path("pages"))
  private lazy val pages = Staging.read(spark, staged.dir)
  private lazy val expected = Checks.fold(Checks.oracleDocs(pages), Checks.DOC_COLS)

  test("extract check passes on the program's output") {
    Extract.extract(pages).write.mode("overwrite").parquet(path("out"))
    assert(Checks.extractOutput(spark, path("out"), expected).isEmpty)
  }

  test("extract check fails when one output row is corrupted") {
    val out = spark.read.parquet(path("out"))
    val victim = out.filter(length(col("text")) > 0).select("url").orderBy("url").head().getString(0)
    out.withColumn("text", when(col("url") === victim, concat(col("text"), lit("!"))).otherwise(col("text")))
      .write.mode("overwrite").parquet(path("corrupt"))
    val problem = Checks.extractOutput(spark, path("corrupt"), expected)
    assert(problem.exists(_.contains("!= oracle")), problem)
  }

  test("extract check fails when nothing was written") {
    assert(Checks.extractOutput(spark, path("never-written"), expected).isDefined)
    spark.read.parquet(path("out")).limit(0).write.mode("overwrite").parquet(path("empty"))
    assert(Checks.extractOutput(spark, path("empty"), expected).isDefined)
  }

  test("curate check passes on the funnel's output and fails on a duplicated row") {
    val out = path("cur")
    val report = Curate.run(spark, pages, out)
    val artifact = Checks.fold(Checks.oracleDocs(pages), Checks.ARTIFACT_COLS)
    assert(Checks.curateOutput(spark, out, report, 300L, artifact).isRight)
    val corpus = spark.read.parquet(out)
    corpus.limit(1).select(corpus.columns.filter(_ != "split").map(col) :+ col("split"): _*)
      .write.mode("append").partitionBy("split").parquet(out)
    assert(Checks.curateOutput(spark, out, report, 300L, artifact).isLeft)
    assert(Checks.curateOutput(spark, path("never-written"), report, 300L, artifact).isLeft)
  }

  test("staging is deterministic and the fingerprint sees a one-byte change") {
    val again = Staging.stage(spark, Workload.CrawlMix, 7L, 300L, 3, path("pages-again"))
    assert(again.fingerprint == staged.fingerprint && again.payloadBytes == staged.payloadBytes)
    val df = spark.read.parquet(staged.dir)
    val first = df.select("url").orderBy("url").head().getString(0)
    val changed = df.withColumn("lang", when(col("url") === first, lit("xx")).otherwise(col("lang")))
    assert(Fingerprint.of(changed) != Fingerprint.of(df))
  }
}
