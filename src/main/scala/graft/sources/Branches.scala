package graft.sources

import graft.Model
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import java.util.Locale

/** Write-Audit-Publish branches on the pages table (SURVEY.md §2.20 S20) —
  * the Iceberg WAP pattern: a crawl drop is staged on a named BRANCH, audited
  * by arbitrary queries over the staged rows (alone or unioned with the live
  * table), and then PUBLISHED atomically — readers of the live table never
  * see an unaudited row, and a failed audit discards the branch without a
  * trace in the table's history.
  *
  * Physical model: a branch is a parallel `branches/<name>/data/` layout
  * under the TABLE root using the table's own bucket/day layout function.
  * Because branch files live OUTSIDE `data/`, every live read path — the
  * DSv2 catalog scan, [[PageTable.read]], [[Snapshots.walkData]], vacuum,
  * compaction — is blind to them by construction; no read-side branch check
  * exists to forget. Publish moves each staged file into `data/` under the
  * SAME bucket=/day= relative path (file names are writer-UUID-unique, so
  * adoption never collides) and commits one snapshot: the drop appears in
  * the live table all-at-once, and time travel to the pre-publish version
  * still excludes it.
  *
  * Crash safety is the engine's standard write-ahead-intent device
  * ([[Snapshots.rollback]], RowLevelCommit): publish first hard-links a
  * `_publish_pending` intent (atomic, fails loudly if a publish is already
  * in flight), then moves files; a crash anywhere is rolled FORWARD by
  * [[replayPublish]] from the catalog's `loadTable` prelude — moves are
  * skip-if-done idempotent, the snapshot commits once, and the live dir is
  * never left in a state matching no recorded way out.
  *
  * Scale shape: staging cost is the drop's write (one exchange on bucket);
  * audit reads scan only the branch's files (a normal pruned parquet scan);
  * publish is metadata-only — #files-in-drop renames plus one snapshot
  * commit, independent of corpus size. Nothing here rescans the table.
  *
  * Durability note (same contract as tags/snapshots): a branch is staged
  * data, not a snapshot of the table — `VERSION AS OF` resolves tags and
  * versions, never branches; read staged rows with [[read]].
  */
object Branches {

  /** Same alphabet as snapshot tags: must start with a letter, so branch
    * names can never be confused with version numbers or hidden paths.
    */
  private val NAME = "[A-Za-z][A-Za-z0-9._-]*".r

  private def requireName(name: String): Unit =
    require(NAME.pattern.matcher(name).matches(),
      s"branch name '$name' must match ${NAME.regex}")

  private def branchRoot(tableDir: String) = new java.io.File(tableDir, "branches")

  private def branchDir(tableDir: String, name: String) =
    new java.io.File(branchRoot(tableDir), name)

  private def branchData(tableDir: String, name: String) =
    new java.io.File(branchDir(tableDir, name), "data")

  private def intentFile(tableDir: String) =
    new java.io.File(tableDir, "_publish_pending")

  /** Create an empty branch. Fails loudly if it exists (like tags, a name a
    * pipeline depends on must never be silently reused mid-flight).
    */
  def create(tableDir: String, name: String): Unit = {
    requireName(name)
    require(new java.io.File(tableDir, "data").isDirectory
      || new java.io.File(tableDir, "_table").isFile,
      s"$tableDir is not a pages table")
    val d = branchData(tableDir, name)
    branchRoot(tableDir).mkdirs()
    // mkdir of the branch dir itself is the atomic existence check
    if (!branchDir(tableDir, name).mkdir())
      throw new IllegalArgumentException(
        s"branch '$name' already exists (discard or publish it first)")
    d.mkdirs()
    ()
  }

  /** All branches, sorted, with their staged file counts. */
  def list(tableDir: String): Seq[(String, Int)] = {
    val root = branchRoot(tableDir)
    if (!root.isDirectory) Seq.empty
    else root.listFiles.toSeq
      .filter(f => f.isDirectory && NAME.pattern.matcher(f.getName).matches())
      .map(f => f.getName -> Snapshots.walkData(new java.io.File(f, "data")).size)
      .sortBy(_._1)
  }

  def exists(tableDir: String, name: String): Boolean =
    NAME.pattern.matcher(name).matches() && branchDir(tableDir, name).isDirectory

  /** Stage a drop onto the branch: derive bucket/day with the TABLE's own
    * recorded layout function (never a default — a branch row must land in
    * the same bucket a live read would locate it in) and append under
    * `branches/<name>/data/`. Accepts the five contract columns plus any
    * evolved extras; unknown columns are refused loudly (they would publish
    * files the table's read schema silently drops).
    */
  def append(spark: SparkSession, tableDir: String, name: String,
             drop: DataFrame): Unit = {
    requireName(name)
    require(exists(tableDir, name), s"no branch '$name' at $tableDir (create it first)")
    val missing = Model.PAGES.fieldNames.filterNot(drop.columns.contains)
    require(missing.isEmpty, s"branch append missing columns: ${missing.mkString(",")}")
    val known = PagesTable.fullFor(tableDir).fieldNames.map(_.toLowerCase(Locale.ROOT)).toSet
    val unknown = drop.columns.filterNot(c => known.contains(c.toLowerCase(Locale.ROOT)))
    require(unknown.isEmpty,
      s"branch append has columns not in the table schema: ${unknown.mkString(",")}")
    val numBuckets = PageTable.readBucketMeta(tableDir)
      .getOrElse(PageTable.DEFAULT_BUCKETS)
    drop
      .withColumn("bucket", PageTable.bucketCol(numBuckets))
      .withColumn("day", date_format(col("warc_ts"), "yyyy-MM-dd"))
      .repartition(col("bucket"))
      .write
      .mode(SaveMode.Append)
      .partitionBy("bucket", "day")
      .parquet(branchData(tableDir, name).toString)
  }

  /** Audit read: the branch's staged rows (schema-pinned to the table's LIVE
    * evolved schema, partition columns intact — same rule as every other
    * read of this layout). With `withMain` the frame is staged ∪ live — the
    * "what would the table look like after publish" audit view.
    */
  def read(spark: SparkSession, tableDir: String, name: String,
           withMain: Boolean = false): DataFrame = {
    requireName(name)
    require(exists(tableDir, name), s"no branch '$name' at $tableDir")
    val full = PagesTable.fullFor(tableDir)
    val bd = branchData(tableDir, name).toString
    val staged =
      if (Snapshots.walkData(branchData(tableDir, name)).isEmpty)
        spark.read.schema(full).option("basePath", bd).parquet(bd).limit(0)
      else spark.read.schema(full).option("basePath", bd).parquet(bd)
    if (!withMain) staged
    else {
      val live = s"$tableDir/data"
      staged.unionByName(
        spark.read.schema(full).option("basePath", live).parquet(live))
    }
  }

  /** Atomically adopt the branch into the live table: write-ahead intent →
    * per-file rename into `data/` (same bucket=/day= relative path) → one
    * snapshot commit → branch dir removed → intent cleared. A crash at ANY
    * point rolls forward via [[replayPublish]]; a stale intent from a dead
    * publisher is rolled forward before this publish starts. The hard-link
    * intent commit is atomic create-or-fail, so a LIVE concurrent publisher
    * racing between our replay and link fails loudly rather than
    * interleaving two move sets under one snapshot (the engine is
    * single-writer, like [[Snapshots.record]]; the link is the backstop).
    *
    * @return (committed snapshot version, files adopted)
    */
  def publish(tableDir: String, name: String): (Int, Int) = {
    requireName(name)
    replayPublish(tableDir) // finish any crashed publish before starting ours
    require(exists(tableDir, name), s"no branch '$name' at $tableDir")
    val bData = branchData(tableDir, name)
    val base = bData.toPath
    val rel = Snapshots.walkData(bData).map(f => base.relativize(f.toPath).toString).sorted
    require(rel.nonEmpty, s"branch '$name' has no staged files — discard it instead")
    val intent = intentFile(tableDir)
    val tmp = new java.io.File(tableDir, "._publish_pending.tmp")
    java.nio.file.Files.write(tmp.toPath,
      ((s"branch=$name" +: rel.map(r => s"mv\t$r")).mkString("\n")).getBytes("UTF-8"))
    try {
      // hard-link like tag(): atomic create-or-fail — two concurrent
      // publishes must not interleave move sets under one snapshot
      try java.nio.file.Files.createLink(intent.toPath, tmp.toPath)
      catch {
        case _: java.nio.file.FileAlreadyExistsException =>
          throw new IllegalStateException(
            s"another publish is in flight at $tableDir (_publish_pending exists)")
      }
    } finally java.nio.file.Files.deleteIfExists(tmp.toPath)
    val moved = applyPublish(tableDir, name, rel)
    moved
  }

  /** Roll FORWARD a crash-interrupted [[publish]] (no-op without the intent
    * file). Idempotent: moves skip already-adopted files; the snapshot
    * commits only if the live set does not already reflect the adoption.
    */
  def replayPublish(tableDir: String): Unit = {
    val intent = intentFile(tableDir)
    if (!intent.isFile) return
    val lines = new String(
      java.nio.file.Files.readAllBytes(intent.toPath), "UTF-8")
      .split("\n").toSeq.filter(_.nonEmpty)
    val name = lines.head.stripPrefix("branch=")
    val moves = lines.tail.collect { case l if l.startsWith("mv\t") => l.drop(3) }
    applyPublish(tableDir, name, moves)
    ()
  }

  private def applyPublish(
      tableDir: String, name: String, rel: Seq[String]): (Int, Int) = {
    val bData = branchData(tableDir, name).toPath
    val live = new java.io.File(tableDir, "data").toPath
    rel.foreach { r =>
      val src = bData.resolve(r)
      val dst = live.resolve(r)
      if (java.nio.file.Files.isRegularFile(src)) {
        java.nio.file.Files.createDirectories(dst.getParent)
        java.nio.file.Files.move(src, dst,
          java.nio.file.StandardCopyOption.ATOMIC_MOVE)
      } else if (!java.nio.file.Files.isRegularFile(dst))
        throw new IllegalStateException(
          s"publish of branch '$name' lost file $r (neither staged nor adopted)")
    }
    // a crash AFTER record but BEFORE intent delete must not commit twice:
    // only record when the latest snapshot doesn't already list the live set
    val dataDir = new java.io.File(tableDir, "data")
    val liveSet = Snapshots.walkData(dataDir)
      .map(f => dataDir.toPath.relativize(f.toPath).toString).sorted
    val v = Snapshots.latestVersion(tableDir) match {
      case Some(l) if Snapshots.files(tableDir, l).exists(_._2 == liveSet) => l
      case _ => Snapshots.record(tableDir)
    }
    if (branchDir(tableDir, name).isDirectory)
      Snapshots.deleteRecursively(branchDir(tableDir, name))
    intentFile(tableDir).delete()
    (v, rel.size)
  }

  /** Drop a branch and its staged files; the live table is untouched.
    * False if absent.
    */
  def discard(tableDir: String, name: String): Boolean = {
    requireName(name)
    val d = branchDir(tableDir, name)
    if (!d.isDirectory) false
    else { Snapshots.deleteRecursively(d); true }
  }
}
