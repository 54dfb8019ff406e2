package graft.sources

import graft.Model
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
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
  * Crash safety is the engine's write-ahead-intent device ([[Recovery]]):
  * publish commits its intent before the first move, and a crash anywhere
  * is rolled FORWARD by the next table operation.
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
    PageTable.place(drop, numBuckets)
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

  /** Atomically adopt the branch into the live table: a [[Recovery]] intent
    * (`branch=<name>`, then one `mv\t<path>` per staged file) → per-file
    * move into `data/` (same bucket=/day= relative path) → one snapshot
    * commit → branch dir removed → intent cleared. A stale intent from a
    * dead publisher is rolled forward before this publish starts, and the
    * intent commit fails loudly if a live publisher raced in meanwhile.
    *
    * @return (committed snapshot version, files adopted)
    */
  def publish(tableDir: String, name: String): (Int, Int) = {
    requireName(name)
    Recovery.recover(tableDir)
    require(exists(tableDir, name), s"no branch '$name' at $tableDir")
    val bData = branchData(tableDir, name)
    val base = bData.toPath
    val rel = Snapshots.walkData(bData).map(f => base.relativize(f.toPath).toString).sorted
    require(rel.nonEmpty, s"branch '$name' has no staged files — discard it instead")
    Recovery.commit(tableDir, Recovery.PUBLISH, Seq("branch" -> name), rel.map(r => Seq("mv", r)))
    applyPublish(tableDir, name, rel)
  }

  /** Roll FORWARD a crash-interrupted [[publish]] (no-op without its intent). */
  def replayPublish(tableDir: String): Unit =
    Recovery.read(tableDir, Recovery.PUBLISH).foreach(i =>
      applyPublish(tableDir, i("branch"), i.paths("mv")))

  private def applyPublish(
      tableDir: String, name: String, rel: Seq[String]): (Int, Int) = {
    val bData = branchData(tableDir, name).toPath
    val live = new java.io.File(tableDir, "data").toPath
    rel.foreach(r => Recovery.move(bData.resolve(r), live.resolve(r)))
    val v = Recovery.recordOnce(tableDir)
    if (branchDir(tableDir, name).isDirectory)
      Snapshots.deleteRecursively(branchDir(tableDir, name))
    Recovery.clear(tableDir, Recovery.PUBLISH)
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
