package graft

import graft.sources.{Compact, Corpus, PageTable, Rebucket, Recovery, RowLevelCommit, Snapshots}
import org.scalatest.funsuite.AnyFunSuite
import java.io.File
import java.nio.file.Files

/** A commit that crashed after some of its moves leaves files that are live
  * but in no snapshot yet. Every table operation must roll such a commit
  * forward before it reads the live file set; otherwise vacuum collects the
  * moved files as orphans and compaction folds replaced rows into the new
  * layout. A replay that records a snapshot must first put back a leaf a
  * crashed compaction left aside, and a replay of a commit that already
  * recorded must not record it again. The vacuum cases and the MERGE
  * replay case are plain files and a snapshot log.
  */
class CrashRecoverySpec extends AnyFunSuite {

  private val tmp = Files.createTempDirectory("graft-crash").toString
  private val leaf = "bucket=0/day=2025-01-01"
  private val dayAgo = System.currentTimeMillis() - 24L * 3600 * 1000

  /** A table dir holding `rels` as data files, recorded as v1. */
  private def table(name: String, rels: String*): String = {
    val dir = s"$tmp/$name"
    rels.foreach(r => put(new File(s"$dir/data/$r")))
    Snapshots.record(dir)
    dir
  }

  private def put(f: File): Unit = {
    f.getParentFile.mkdirs()
    Files.write(f.toPath, f.getName.getBytes("UTF-8"))
    f.setLastModified(dayAgo)
  }

  private def latestFiles(dir: String): Seq[String] =
    Snapshots.files(dir, Snapshots.latestVersion(dir).get).get._2

  test("vacuum after a MERGE crashed mid-rename keeps the renamed file live") {
    val dir = table("merge", s"$leaf/a.parquet", s"$leaf/b.parquet")
    Files.write(new File(dir, "_merge_pending").toPath,
      (s"mv\t$leaf/.merge-x.parquet\t$leaf/merge-x.parquet\n" +
        s"rm\t$leaf/a.parquet").getBytes("UTF-8"))
    put(new File(s"$dir/data/$leaf/merge-x.parquet")) // the rename that ran

    Compact.vacuum(SparkFixture.spark, dir, 0L)
    RowLevelCommit.replay(dir)
    assert(new File(s"$dir/data/$leaf/merge-x.parquet").isFile, "merged file was vacuumed")
    assert(latestFiles(dir).sorted == Seq(s"$leaf/b.parquet", s"$leaf/merge-x.parquet"))
    assert(!new File(dir, "_merge_pending").exists())
  }

  test("a MERGE replayed after its snapshot was recorded commits no second version") {
    val dir = table("merge-once", s"$leaf/a.parquet", s"$leaf/b.parquet") // v1
    val ops = Seq(Seq("mv", s"$leaf/.merge-x.parquet", s"$leaf/merge-x.parquet"),
      Seq("rm", s"$leaf/a.parquet"))
    put(new File(s"$dir/data/$leaf/merge-x.parquet")) // every step ran
    new File(s"$dir/data/$leaf/a.parquet").delete()
    val merged = Seq(s"$leaf/b.parquet", s"$leaf/merge-x.parquet")

    // crashed before its record: the replay records v2
    Recovery.commit(dir, Recovery.MERGE, Seq("base" -> "1"), ops)
    Recovery.recover(dir)
    assert(Snapshots.latestVersion(dir).contains(2) && latestFiles(dir).sorted == merged)
    // crashed after its record, before clearing the intent: nothing to record
    Recovery.commit(dir, Recovery.MERGE, Seq("base" -> "1"), ops)
    Recovery.recover(dir)
    assert(Snapshots.latestVersion(dir).contains(2), "the replay recorded the MERGE twice")
    assert(!new File(dir, "_merge_pending").exists())
    // an intent without the header (older writer) records, as it always did
    Recovery.commit(dir, Recovery.MERGE, Nil, ops)
    Recovery.recover(dir)
    assert(Snapshots.latestVersion(dir).contains(3) && latestFiles(dir).sorted == merged)
    // a MERGE that changed no file still commits its own version
    RowLevelCommit.run(dir, Nil, Nil)
    assert(Snapshots.latestVersion(dir).contains(4))
  }

  test("vacuum after a rebucket crashed mid-adoption keeps the adopted file; replay adopts both") {
    val old = Seq(s"$leaf/old1.parquet", s"$leaf/old2.parquet")
    val dir = table("rebucket", old: _*)
    val adopt = Seq("bucket=1/day=2025-01-01/new1.parquet", "bucket=3/day=2025-01-01/new2.parquet")
    Files.write(new File(dir, "_rebucket_pending").toPath,
      (Seq("newBuckets=4", "aside=rebucket-aside-v1") ++ adopt.map(r => s"adopt\t$r") ++
        old.map(r => s"mv\t$r")).mkString("\n").getBytes("UTF-8"))
    // the crash: the old layout is aside, the first staged file adopted
    old.foreach { r =>
      new File(s"$dir/rebucket-aside-v1/$r").getParentFile.mkdirs()
      Files.move(new File(s"$dir/data/$r").toPath, new File(s"$dir/rebucket-aside-v1/$r").toPath)
    }
    put(new File(s"$dir/data/${adopt(0)}"))
    put(new File(s"$dir/_rebucket_stage/${adopt(1)}"))

    Compact.vacuum(SparkFixture.spark, dir, 0L)
    Rebucket.replay(dir)
    adopt.foreach(r => assert(new File(s"$dir/data/$r").isFile, s"$r not adopted"))
    assert(latestFiles(dir).sorted == adopt)
    assert(PageTable.readBucketMeta(dir).contains(4))
    assert(!new File(dir, "_rebucket_pending").exists())
  }

  test("compaction after a MERGE crashed mid-rename shows each url once") {
    val spark = SparkFixture.spark
    import spark.implicits._
    val wh = s"$tmp/wh"
    val dir = s"$wh/pages"
    PageTable.register(spark, "pcrash", wh)
    PageTable.write(Corpus.pages(spark, 60L), dir, numBuckets = 2)
    val urls = spark.read.table("pcrash.pages").select("url").as[String].collect().sorted.toSeq
    // the crashed MERGE rewrote one file byte-identically: its replacement
    // is renamed in, the replaced file not yet deleted
    val dataDir = new File(dir, "data")
    val victim = Snapshots.walkData(dataDir).head
    val vicRel = dataDir.toPath.relativize(victim.toPath).toString
    val finRel = dataDir.toPath.relativize(victim.toPath.resolveSibling("merge-x-p0-0.parquet")).toString
    Files.copy(victim.toPath, new File(dataDir, finRel).toPath)
    Files.write(new File(dir, "_merge_pending").toPath,
      s"mv\t${finRel.replace("/merge-", "/.merge-")}\t$finRel\nrm\t$vicRel".getBytes("UTF-8"))

    Compact.run(spark, dir)
    val after = spark.read.table("pcrash.pages").select("url").as[String].collect().sorted.toSeq
    assert(after == urls)
    spark.sql("DROP TABLE pcrash.pages")
  }

  test("a catalog read that replays a crashed MERGE first puts back a crashed compaction's leaf") {
    val spark = SparkFixture.spark
    import spark.implicits._
    val wh = s"$tmp/wh2"
    val dir = s"$wh/pages"
    PageTable.register(spark, "pcrash2", wh)
    PageTable.write(Corpus.pages(spark, 60L), dir, numBuckets = 2)
    val urls = spark.read.table("pcrash2.pages").select("url").as[String].collect().sorted.toSeq
    val dataDir = new File(dir, "data")
    val files = Snapshots.walkData(dataDir)
    val victim = files.head
    val parked = files.map(_.getParentFile).find(_ != victim.getParentFile).get
    // a MERGE crashed after its rename, and a compaction crashed with one
    // leaf moved aside
    val vicRel = dataDir.toPath.relativize(victim.toPath).toString
    val finRel = dataDir.toPath.relativize(victim.toPath.resolveSibling("merge-y-p0-0.parquet")).toString
    Files.copy(victim.toPath, new File(dataDir, finRel).toPath)
    Files.write(new File(dir, "_merge_pending").toPath,
      s"mv\t${finRel.replace("/merge-", "/.merge-")}\t$finRel\nrm\t$vicRel".getBytes("UTF-8"))
    assert(parked.renameTo(new File(parked.getParentFile, s".graft-old-${parked.getName}")))

    val after = spark.read.table("pcrash2.pages").select("url").as[String].collect().sorted.toSeq
    assert(after == urls)
    val parkedRel = Snapshots.walkData(parked).map(f => dataDir.toPath.relativize(f.toPath).toString)
    assert(parkedRel.nonEmpty && parkedRel.forall(latestFiles(dir).contains))
    spark.sql("DROP TABLE pcrash2.pages")
  }

  test("a catalog append after a crashed compaction keeps the parked leaf's rows through vacuum") {
    val spark = SparkFixture.spark
    import spark.implicits._
    val wh = s"$tmp/wh3"
    val dir = s"$wh/pages"
    PageTable.register(spark, "pcrash3", wh)
    PageTable.write(Corpus.pages(spark, 60L), dir, numBuckets = 2)
    val drop = Corpus.pages(spark, 10L, seed = 7L)
    val urls = (spark.read.table("pcrash3.pages").select("url").as[String].collect() ++
      drop.map(_.url).collect()).sorted.toSeq
    val parked = Snapshots.walkData(new File(dir, "data")).head.getParentFile
    assert(parked.renameTo(new File(parked.getParentFile, s".graft-old-${parked.getName}")))

    drop.writeTo("pcrash3.pages").append()
    Compact.vacuum(spark, dir, 0L)
    val after = spark.read.table("pcrash3.pages").select("url").as[String].collect().sorted.toSeq
    assert(after == urls)
    spark.sql("DROP TABLE pcrash3.pages")
  }
}
