package graft

import graft.sources.{Clone, Compact, Corpus, PageTable, Snapshots}
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.Files

/** S25 table clone: metadata-cost (hard-linked) snapshot materialization
  * with full mutual isolation between source and clone.
  */
class CloneSpec extends AnyFunSuite {
  private val spark = SparkFixture.spark
  import spark.implicits._

  private val tmp = Files.createTempDirectory("graft-clone").toString

  private def urls(dir: String): Seq[String] =
    PageTable.read(spark, dir).select("url").as[String].collect().sorted.toSeq

  test("clone equals its source snapshot; no data bytes are copied " +
    "(hard links); histories are independent") {
    val src = s"$tmp/src"
    PageTable.write(Corpus.pages(spark, 120L), src, numBuckets = 4) // v1
    val before = urls(src)
    val (v, n) = Clone.run(spark, src, s"$tmp/c1")
    assert(v == 1 && n > 0)
    assert(urls(s"$tmp/c1") == before)
    // hard links: same inode -> zero copied bytes. Pin via Files.isSameFile
    val (_, rel) = Snapshots.files(src, 1).get
    rel.foreach { p =>
      assert(Files.isSameFile(
        new java.io.File(s"$src/data", p).toPath,
        new java.io.File(s"$tmp/c1/data", p).toPath), p)
    }
    // clone starts its OWN history at v1
    assert(Snapshots.allVersions(s"$tmp/c1") == Seq(1))
    // appending to the clone never touches the source
    PageTable.register(spark, "gclone", tmp)
    Corpus.pages(spark, 30L, seed = 99L).toDF().writeTo("gclone.c1").append()
    assert(urls(s"$tmp/c1").size == before.size + 30)
    assert(urls(src) == before)
  }

  test("clone of an older version / tag equals time travel; vacuuming the " +
    "source after compaction cannot corrupt the clone") {
    val src = s"$tmp/src2"
    PageTable.write(Corpus.pages(spark, 100L), src, numBuckets = 4) // v1
    Snapshots.tag(src, "drop1", 1)
    PageTable.register(spark, "gclone2", tmp)
    Corpus.pages(spark, 40L, seed = 7L).toDF().writeTo("gclone2.src2").append() // v2
    val v1Urls = Corpus.pages(spark, 100L).select("url")
      .as[String].collect().sorted.toSeq
    // by tag: the v1 corpus exactly
    Clone.run(spark, src, s"$tmp/c2", ref = Some("drop1"))
    assert(urls(s"$tmp/c2") == v1Urls)
    // compact + vacuum the SOURCE: its old small files are rewritten and
    // GC'd, but the clone holds hard links — shared inodes survive
    Snapshots.untag(src, "drop1") // release the pin so vacuum may collect
    Compact.run(spark, src)
    Compact.vacuum(spark, src, minAgeMs = 0L)
    assert(urls(s"$tmp/c2") == v1Urls, "clone must survive source GC")
    // and the source still reads its full content
    assert(urls(src).size == 140)
  }

  test("refusals: cloning onto an existing table; cloning a snapshot whose " +
    "files were moved aside") {
    val src = s"$tmp/src3"
    PageTable.write(Corpus.pages(spark, 50L), src, numBuckets = 2) // v1
    Clone.run(spark, src, s"$tmp/c3")
    intercept[IllegalArgumentException](Clone.run(spark, src, s"$tmp/c3"))
    // rollback moves post-v1 files aside; a clone of the SUPERSEDED v2 must
    // fail loudly, never link a partial corpus
    PageTable.register(spark, "gclone3", tmp)
    Corpus.pages(spark, 20L, seed = 3L).toDF().writeTo("gclone3.src3").append() // v2
    Snapshots.rollback(src, 1) // v3 = v1 state; v2-only files moved aside
    intercept[IllegalArgumentException](Clone.run(spark, src, s"$tmp/c3b", version = Some(2)))
  }
}
