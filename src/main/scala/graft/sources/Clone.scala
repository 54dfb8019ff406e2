package graft.sources

/** Table clone over the snapshot log (Delta `CLONE` / Iceberg snapshot-ref
  * export shape): materialize a chosen snapshot of a source table as a NEW
  * independent table without copying data bytes.
  *
  * Mechanism: every data file the snapshot references is HARD-LINKED into
  * the clone's `data/` tree under the same bucket=/day= relative path, the
  * table-identity metadata (bucket count, evolved-schema extras) is copied,
  * and the linked tree is committed as the clone's snapshot v1. Hard links
  * make the clone metadata-cost (no bytes move) yet FULLY isolated: each
  * table's vacuum/compaction/rollback unlinks only its own directory entry,
  * and the shared inodes survive until both sides drop them — the property
  * the spec pins by vacuuming the source out from under a clone. On an
  * object store the same operation is a manifest copy (paths there are
  * table-root-relative keys); the hard link is the local-FS equivalent
  * with strictly stronger isolation.
  *
  * Refused loudly: cloning onto an existing table (or any dir with data
  * files), and cloning a snapshot whose files a rollback/vacuum already
  * moved aside — a silent partial clone is corruption deferred.
  */
object Clone {

  /** Clone `srcDir` at `version` / tag `ref` (default: latest snapshot)
    * into `dstDir`. Returns (source version cloned, files linked).
    *
    * The stat pass and the link pass each run as one executor job over the
    * snapshot manifest AS a table ([[Manifests.manifestDf]] — byte-range-
    * split text scan), and the clone's v1 manifest is the SOURCE manifest
    * re-stamped (identical file list by construction) — no driver walk at
    * any file count. Every referenced file is checked before the first
    * link. A crash mid-link leaves a snapshot-less link tree; the
    * target-not-a-table require refuses to build on it — delete and
    * re-clone.
    */
  def run(spark: org.apache.spark.sql.SparkSession,
          srcDir: String, dstDir: String,
          version: Option[Int] = None, ref: Option[String] = None): (Int, Int) = {
    import spark.implicits._
    val v = ref
      .map(r => Snapshots.resolveRef(srcDir, r).getOrElse(
        sys.error(s"clone: no tag '$r' on $srcDir")))
      .orElse(version)
      .orElse(Snapshots.latestVersion(srcDir))
      .getOrElse(sys.error(s"clone: $srcDir has no snapshots"))
    require(Snapshots.files(srcDir, v).isDefined,
      s"clone: $srcDir has no snapshot v$v")
    val dstData = new java.io.File(dstDir, "data")
    require(Snapshots.latestVersion(dstDir).isEmpty &&
      Snapshots.walkData(dstData).isEmpty,
      s"clone: target $dstDir is already a table (refusing to mix histories)")
    val srcData = new java.io.File(srcDir, "data").getAbsolutePath
    val dstDataPath = dstData.getAbsolutePath
    val rel = Manifests.manifestDf(spark, srcDir, v).as[String]

    // pass 1 (refuse before any link): every referenced file must exist
    val missing = rel.filter((p: String) =>
      !new java.io.File(srcData, p).isFile)
    val missEx = missing.take(6)
    require(missEx.isEmpty,
      s"clone: snapshot v$v references files no longer present " +
        s"(rollback/vacuum aside?): ${missEx.take(5).mkString(", ")}")

    // pass 2: hard-link every file, one task per manifest byte range
    val linked = rel.mapPartitions { it =>
      var n = 0L
      it.foreach { p =>
        val s = new java.io.File(srcData, p)
        val d = new java.io.File(dstDataPath, p)
        d.getParentFile.mkdirs()
        java.nio.file.Files.createLink(d.toPath, s.toPath)
        n += 1
      }
      Iterator.single(n)
    }.reduce(_ + _)

    PageTable.readBucketMeta(srcDir)
      .foreach(b => PageTable.writeBucketMeta(dstDir, b))
    val extras = PageTable.readSchemaMeta(srcDir)
    if (extras.nonEmpty) PageTable.writeSchemaMeta(dstDir, extras)
    // commit: the source manifest IS the clone's file list — re-stamp its
    // header instead of re-walking the linked tree
    val srcManifest = new java.io.File(srcDir, s"snapshots/v$v.txt").toPath
    val lines = java.nio.file.Files.readAllLines(srcManifest)
    lines.set(0, s"ts=${System.currentTimeMillis()}")
    Recovery.writeAtomic(new java.io.File(dstDir, "snapshots/v1.txt"),
      String.join("\n", lines).getBytes("UTF-8"))
    (v, linked.toInt)
  }
}
