package graft

import graft.sources.{Branches, Compact, Corpus, PageTable, Snapshots}
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.Files

/** S20 — Write-Audit-Publish branches.
  *
  * Pinned: staged rows are INVISIBLE to every live read path (catalog scan,
  * PageTable.read, snapshot log) until publish; publish adopts the staged
  * files atomically under one snapshot with rows byte-equal to what was
  * staged; time travel to the pre-publish version still excludes the drop;
  * discard leaves no trace; crash windows inside publish roll FORWARD
  * (replay from the intent file is idempotent and vacuum cannot GC a
  * half-adopted file); refusals (duplicate create, unknown branch, empty
  * publish, concurrent publish, unknown columns) are loud.
  */
class BranchSpec extends AnyFunSuite {
  private val spark = SparkFixture.spark

  private val N = 100L
  private val tmp = Files.createTempDirectory("graft-branch").toString

  private def mkTable(dirName: String): String = {
    val dir = s"$tmp/$dirName"
    PageTable.write(Corpus.pages(spark, N), dir, numBuckets = 8)
    dir
  }

  private def drop(n: Long, prefix: String) =
    Corpus.pages(spark, n)
      .withColumnRenamed("url", "u")
      .selectExpr(s"concat('https://$prefix.example/', u) AS url",
        "warc_ts", "html", "text", "lang")

  test("branch: stage → audit (isolated) → publish (atomic) → time travel excludes") {
    val dir = mkTable("wap")
    PageTable.register(spark, "pcatb", tmp)
    val v1 = Snapshots.latestVersion(dir).get

    Branches.create(dir, "drop-2025-02")
    Branches.append(spark, dir, "drop-2025-02", drop(30, "d1"))
    Branches.append(spark, dir, "drop-2025-02", drop(10, "d2"))

    // isolation: every live read path is blind to the staged rows, and no
    // snapshot was committed by staging
    assert(spark.table("pcatb.wap").count() == N)
    assert(PageTable.read(spark, dir).count() == N)
    assert(Snapshots.latestVersion(dir).contains(v1))

    // audit view: staged rows alone, and staged ∪ live
    val staged = Branches.read(spark, dir, "drop-2025-02")
    assert(staged.count() == 40)
    assert(staged.columns.contains("bucket") && staged.columns.contains("day"))
    assert(Branches.read(spark, dir, "drop-2025-02", withMain = true).count() == N + 40)
    // staged rows landed in the TABLE's bucket layout (8, not the default 32)
    val badBucket = staged
      .where("bucket != pmod(xxhash64(url), 8)").count()
    assert(badBucket == 0)
    assert(Branches.list(dir).map(_._1) == Seq("drop-2025-02"))

    val stagedRows = staged
      .selectExpr("url", "cast(warc_ts as string) ts", "md5(text) h")
      .collect().map(_.toString).sorted

    val (v2, nFiles) = Branches.publish(dir, "drop-2025-02")
    assert(v2 == v1 + 1 && nFiles > 0)
    assert(spark.table("pcatb.wap").count() == N + 40)
    // the adopted rows are byte-equal to what was audited
    val liveNew = spark.table("pcatb.wap")
      .where("url like 'https://d%.example/%'")
      .selectExpr("url", "cast(warc_ts as string) ts", "md5(text) h")
      .collect().map(_.toString).sorted
    assert(liveNew.toSeq == stagedRows.toSeq)
    // pre-publish version still excludes the drop; branch is gone
    assert(spark.sql(s"SELECT count(*) FROM pcatb.wap VERSION AS OF $v1")
      .head().getLong(0) == N)
    assert(Branches.list(dir).isEmpty)
    assert(!Branches.exists(dir, "drop-2025-02"))
  }

  test("branch: discard leaves no trace; refusals are loud") {
    val dir = mkTable("wap2")
    val v1 = Snapshots.latestVersion(dir).get

    Branches.create(dir, "bad-drop")
    Branches.append(spark, dir, "bad-drop", drop(15, "bad"))
    assert(Branches.discard(dir, "bad-drop"))
    assert(PageTable.read(spark, dir).count() == N)
    assert(Snapshots.latestVersion(dir).contains(v1))
    assert(!Branches.discard(dir, "bad-drop")) // idempotent-false, not a throw

    Branches.create(dir, "b1")
    intercept[IllegalArgumentException](Branches.create(dir, "b1"))
    intercept[IllegalArgumentException](Branches.create(dir, "9starts-with-digit"))
    intercept[IllegalArgumentException](Branches.append(spark, dir, "ghost", drop(1, "g")))
    intercept[IllegalArgumentException](Branches.read(spark, dir, "ghost"))
    // empty publish refused (discard is the verb for an empty/failed branch)
    intercept[IllegalArgumentException](Branches.publish(dir, "b1"))
    // unknown columns refused: they would silently vanish under the table schema
    intercept[IllegalArgumentException](
      Branches.append(spark, dir, "b1",
        drop(1, "x").selectExpr("*", "1 AS not_in_schema")))
    Branches.discard(dir, "b1")
  }

  test("branch publish crash windows: replay rolls forward; vacuum cannot GC half-adopted files") {
    val dir = mkTable("wap3")
    val v1 = Snapshots.latestVersion(dir).get
    Branches.create(dir, "crashy")
    Branches.append(spark, dir, "crashy", drop(25, "c"))

    // Reproduce publish's crash window by hand: write the intent (exactly
    // what publish hard-links), then move only HALF the staged files — the
    // state a kill -9 mid-adoption leaves behind.
    val bData = new java.io.File(dir, "branches/crashy/data")
    val base = bData.toPath
    val rel = Snapshots.walkData(bData)
      .map(f => base.relativize(f.toPath).toString).sorted
    assert(rel.size >= 2, s"need >=2 staged files to split, got ${rel.size}")
    val intent = new java.io.File(dir, "_publish_pending")
    java.nio.file.Files.write(intent.toPath,
      ((s"branch=crashy" +: rel.map(r => s"mv\t$r")).mkString("\n")).getBytes("UTF-8"))
    val live = new java.io.File(dir, "data").toPath
    rel.take(rel.size / 2).foreach { r =>
      val dst = live.resolve(r)
      java.nio.file.Files.createDirectories(dst.getParent)
      java.nio.file.Files.move(base.resolve(r), dst)
    }

    // vacuum with a zero age floor runs the replay prelude FIRST, so the
    // half-adopted (snapshot-less) files are committed, not collected
    val (gc, _) = Compact.vacuum(spark, dir, minAgeMs = 0L)
    assert(gc == 0, s"vacuum collected $gc half-published files")
    assert(Snapshots.latestVersion(dir).contains(v1 + 1))
    assert(PageTable.read(spark, dir).count() == N + 25)
    assert(!intent.isFile && !Branches.exists(dir, "crashy"))

    // replay is idempotent at rest: nothing pending -> no-op
    Branches.replayPublish(dir)
    assert(Snapshots.latestVersion(dir).contains(v1 + 1))

    // a second crash shape: intent fully applied except the intent delete
    // (crash after record) — replay must not commit a duplicate snapshot
    Branches.create(dir, "crashy2")
    Branches.append(spark, dir, "crashy2", drop(5, "c2"))
    val b2 = new java.io.File(dir, "branches/crashy2/data")
    val rel2 = Snapshots.walkData(b2)
      .map(f => b2.toPath.relativize(f.toPath).toString).sorted
    java.nio.file.Files.write(intent.toPath,
      ((s"branch=crashy2" +: rel2.map(r => s"mv\t$r")).mkString("\n")).getBytes("UTF-8"))
    rel2.foreach { r =>
      val dst = live.resolve(r)
      java.nio.file.Files.createDirectories(dst.getParent)
      java.nio.file.Files.move(b2.toPath.resolve(r), dst)
    }
    Snapshots.record(dir) // the crash happened right after this line
    val vAfter = Snapshots.latestVersion(dir).get
    Branches.replayPublish(dir)
    assert(Snapshots.latestVersion(dir).contains(vAfter)) // no duplicate commit
    assert(!intent.isFile && !Branches.exists(dir, "crashy2"))
    assert(PageTable.read(spark, dir).count() == N + 30)

    // a stale intent from a DEAD publisher is rolled forward (here: a
    // zero-move no-op) before a new publish starts, never left to collide
    Branches.create(dir, "b3")
    Branches.append(spark, dir, "b3", drop(3, "c3"))
    java.nio.file.Files.write(intent.toPath, "branch=someone-else".getBytes("UTF-8"))
    val vBefore = Snapshots.latestVersion(dir).get
    val (v3, _) = Branches.publish(dir, "b3")
    assert(v3 == vBefore + 1)
    assert(!intent.isFile)
    assert(PageTable.read(spark, dir).count() == N + 33)
  }
}
