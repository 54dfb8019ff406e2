package graft

import graft.operators.{Classify, Extract, RawBlock}
import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

/** Crafted block sequences for the Readability boost and the jusText
  * smoothing rules of [[Classify.classifyHtml]], which the synthetic corpus
  * barely reaches. Each case states its kept seqs, and both the scalar
  * classifier and the relational twin ([[Extract.classifiedBlocks]]) must
  * keep exactly those.
  */
class ClassifySpec extends AnyFunSuite {

  /** One candidate block: `len` chars of text, `links` of them inside links. */
  private def b(seq: Int, parent: Int, len: Int, links: Int = 0, tag: String = "p") =
    RawBlock(seq, tag, 2, "w" * len, len, links, 1, parent, 0)

  private val D = 40 // dense: at least DENSE_MIN_LEN chars, no links

  /** name -> (blocks, kept seqs) */
  private val cases: Seq[(String, Vector[RawBlock], Seq[Int])] = Seq(
    // a short clean block between two base blocks is smoothed in, from the
    // second candidate on; 24 chars is the longest it can be, as a clean
    // block of DENSE_MIN_LEN chars is dense (so smoothing needs no length cap)
    ("smooth-second", Vector(b(0, 1, D), b(1, 2, 15), b(2, 1, D)), Seq(0, 1, 2)),
    ("smooth-run", Vector(b(0, 1, D), b(1, 2, 15), b(2, 1, D), b(3, 2, 24), b(4, 1, D)),
      Seq(0, 1, 2, 3, 4)),
    // smoothing needs a base block on both sides, and a link-dense block is
    // never smoothed in
    ("smooth-needs-both", Vector(b(0, 2, 15), b(1, 1, D), b(2, 2, 15), b(3, 2, 15), b(4, 1, D),
      b(5, 2, 15)), Seq(1, 4)),
    ("smooth-link-dense", Vector(b(0, 1, D), b(1, 2, 20, links = 10), b(2, 1, D)), Seq(0, 2)),
    // container score is textLen - 2*linkChars: parent 1 scores 100-2*30 = 40
    // and beats parent 2's 30, so parent 1's short block is boosted
    ("boost-link-weight", Vector(b(0, 1, 100, links = 30), b(1, 2, 30), b(2, 1, 15)), Seq(0, 1, 2)),
    ("boost-link-weight-rival", Vector(b(0, 1, 100, links = 30), b(1, 2, 30), b(2, 2, 15)), Seq(0, 1)),
    // a tie goes to the smaller parent; a boosted block needs BOOST_MIN_LEN
    // chars and a link density under the cap
    ("boost-tie", Vector(b(0, 2, 30), b(1, 1, 30), b(2, 3, 20, links = 10), b(3, 1, 15),
      b(4, 1, 9), b(5, 1, 20, links = 10), b(6, 2, 15)), Seq(0, 1, 3)),
    // a short heading is dense on its own
    ("heading", Vector(b(0, 1, 8, tag = "h2"), b(1, 2, 8), b(2, 3, 8, tag = "h3")), Seq(0, 1, 2))
  )

  test("crafted sequences: the scalar classifier keeps the stated blocks") {
    cases.foreach { case (name, blocks, want) =>
      assert(Classify.classifyHtml(blocks).map(_.seq) == want, name)
    }
  }

  test("crafted sequences: the relational twin keeps the stated blocks") {
    val spark = SparkFixture.spark
    import spark.implicits._
    val ts = java.sql.Timestamp.valueOf("2025-01-01 00:00:00")
    val rows = cases.flatMap { case (name, blocks, _) =>
      blocks.map(k => BlockRow(name, ts, "en", "html", k.seq, k.tag, k.depth, k.text, k.textLen,
        k.linkChars, k.wordCount, k.parentSeq, k.flags, 0, 0, 0, 0, 0, ""))
    }
    val kept = Extract.classifiedBlocks(spark.createDataset(rows))
      .filter(col("kept")).select("url", "seq").as[(String, Int)].collect()
      .groupBy(_._1).map { case (u, s) => u -> s.map(_._2).sorted.toSeq }
    cases.foreach { case (name, _, want) =>
      assert(kept.getOrElse(name, Seq.empty) == want, name)
    }
  }
}
