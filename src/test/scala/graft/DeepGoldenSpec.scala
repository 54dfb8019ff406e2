package graft

import graft.sources.Corpus
import org.scalatest.funsuite.AnyFunSuite

/** Opt-in deep sweep over a much larger slice of the corpus space than
  * GoldenSpec's 600 docs, to shake out rare template × charset × lang ×
  * page-count interactions. Production is checked against two independent
  * formulations: the relational twin (per url) and the string-walking
  * reference kernels for sniff, decode and tokenize (per page). Off by
  * default (adds minutes); enable with:
  *
  *   GRAFT_DEEP=20000 sbt "testOnly graft.DeepGoldenSpec"
  */
class DeepGoldenSpec extends AnyFunSuite {
  private lazy val spark = SparkFixture.spark
  private val n = sys.env.get("GRAFT_DEEP").map(_.toLong).getOrElse(0L)
  private val seed = Corpus.DEFAULT_SEED

  test("deep sweep: production == relational twin and reference kernels over GRAFT_DEEP docs") {
    assume(n > 0, "set GRAFT_DEEP=<nDocs> to run the deep sweep")
    GoldenSpec.checkTwin(spark, n, seed, info(_))
    val html = (0L until n).count(i => ExtractKernelSpec.checkPage(Corpus.page(seed, i)))
    info(s"deep sweep: $n docs, $html html pages through the reference kernels")
  }
}
