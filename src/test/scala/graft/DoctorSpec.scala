package graft

import graft.sources.{Corpus, Doctor, PageTable, Snapshots}
import org.scalatest.funsuite.AnyFunSuite

/** Pins for the integrity audit (`Main doctor`): a healthy table is clean;
  * each planted fault surfaces as exactly its finding code; the deep check
  * catches rows whose file lies about their bucket or their day.
  */
class DoctorSpec extends AnyFunSuite {
  private lazy val spark = SparkFixture.spark

  private def freshTable(): String = {
    val dir = java.nio.file.Files.createTempDirectory("doctor").toString
    PageTable.write(Corpus.pages(spark, 300L), dir, numBuckets = 4)
    dir
  }

  /** Both audit modes must agree exactly: the distributed (anti-join) path
    * a cluster runs and the driver-walk path no-session triage runs.
    */
  private def codes(dir: String, deep: Boolean = false): Set[String] = {
    val dist = Doctor.audit(dir, Some(spark), deep = deep).map(_.code).toSet
    val local = Doctor.audit(dir, None).map(_.code).toSet
    assert(local == (dist - "misplaced-rows" - "deep-scan-failed") || local == dist,
      s"driver-walk audit disagrees: dist=$dist local=$local")
    dist
  }

  test("doctor: healthy table is clean, including deep") {
    val dir = freshTable()
    assert(codes(dir, deep = true) == Set("clean"))
  }

  test("doctor: each planted fault surfaces as its code") {
    val dir = freshTable()
    val data = new java.io.File(dir, "data")

    // orphan: a parquet file no snapshot references
    val someFile = Snapshots.walkData(data).head
    val orphan = new java.io.File(someFile.getParentFile, "part-orphan.snappy.parquet")
    java.nio.file.Files.copy(someFile.toPath, orphan.toPath)
    assert(codes(dir).contains("orphan-files"))
    orphan.delete()

    // pending intent
    val intent = new java.io.File(dir, "_merge_pending")
    java.nio.file.Files.write(intent.toPath, "".getBytes)
    assert(codes(dir).contains("pending-intent"))
    intent.delete()

    // dangling tag (ref to a version that was never committed)
    val ref = new java.io.File(dir, "snapshots/ref-ghost.txt")
    java.nio.file.Files.write(ref.toPath, "99".getBytes)
    assert(codes(dir).contains("dangling-tag"))
    ref.delete()

    // manifest hole: delete a referenced file
    val victim = Snapshots.walkData(data).head
    val bytes = java.nio.file.Files.readAllBytes(victim.toPath)
    victim.delete()
    assert(codes(dir).contains("manifest-hole"))
    java.nio.file.Files.write(victim.toPath, bytes)

    // broken meta
    val meta = new java.io.File(dir, "_table")
    val metaBytes = java.nio.file.Files.readAllBytes(meta.toPath)
    meta.delete()
    assert(codes(dir).contains("broken-meta"))
    java.nio.file.Files.write(meta.toPath, metaBytes)

    assert(codes(dir, deep = true) == Set("clean"), "faults did not heal")
  }

  test("doctor --deep: a file parked in the wrong bucket dir surfaces as " +
    "misplaced rows") {
    val dir = freshTable()
    val data = new java.io.File(dir, "data")
    val src = Snapshots.walkData(data).head
    // park a copy under a DIFFERENT bucket (also an orphan — both surface)
    val wrongBucket = if (src.getAbsolutePath.contains("bucket=0")) 1 else 0
    val dstDir = new java.io.File(data,
      s"bucket=$wrongBucket/day=2025-01-01")
    dstDir.mkdirs()
    java.nio.file.Files.copy(src.toPath,
      new java.io.File(dstDir, "part-misplaced.snappy.parquet").toPath)
    val c = codes(dir, deep = true)
    assert(c.contains("misplaced-rows"))
    assert(c.contains("orphan-files"))
  }

  test("doctor --deep: a file moved under a wrong day leaf surfaces as misplaced rows") {
    val dir = freshTable()
    val src = Snapshots.walkData(new java.io.File(dir, "data")).head
    // same bucket, a day no row has; the move also leaves a manifest hole
    val dstDir = new java.io.File(src.getParentFile.getParentFile, "day=1999-01-01")
    dstDir.mkdirs()
    java.nio.file.Files.move(src.toPath, new java.io.File(dstDir, src.getName).toPath)
    val findings = Doctor.audit(dir, Some(spark), deep = true)
    val misplaced = findings.filter(_.code == "misplaced-rows")
    assert(misplaced.nonEmpty && misplaced.forall(_.detail.contains("/day=1999-01-01:")), findings)
    assert(findings.exists(_.code == "manifest-hole"), findings)
  }
}
