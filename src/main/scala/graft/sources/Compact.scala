package graft.sources

import java.io.File
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** Small-file compaction for the pages layout (the OPTIMIZE maintenance op):
  * streaming appends ([[graft.streaming.StreamingCurate]], catalog
  * `writeTo.append`) leave one file per batch per partition; at 100 TB that
  * is millions of sub-split files whose per-file open/footer cost dominates
  * scans. `Compact.run`:
  *
  *   1. driver-side listing picks the FRAGMENTED leaves only
  *      (`bucket=<b>/day=<d>` with more than one data file) — well-sized
  *      partitions are never rewritten or even read;
  *   2. ONE Spark job reads exactly those leaves and hash-repartitions by
  *      `(bucket, day)` — every leaf's rows land in exactly one task, so the
  *      partitioned write emits exactly ONE file per leaf (capped by
  *      `maxRecordsPerFile` if configured);
  *   3. leaves are swapped CRASH-SAFELY (single-writer): the old leaf is
  *      renamed aside to a hidden `.graft-old-…` sibling (hidden paths are
  *      invisible to scans and to [[Snapshots.walkData]]), the rewritten
  *      leaf renamed in, then the aside removed. A crash in any window
  *      loses nothing: [[repair]] restores an aside whose live leaf is
  *      missing and clears asides whose swap had completed. It is the first
  *      step of [[Recovery.recover]], which every maintenance entry point
  *      (this one, `zorder`, `vacuum`) runs before it lists the layout;
  *   4. a snapshot is committed — current reads see the compacted layout;
  *      older snapshots referencing the replaced files fail loudly per the
  *      [[Snapshots]] retention note.
  *
  * Returns (leaves compacted, files before, files after).
  */
object Compact {

  private val ASIDE_PREFIX = ".graft-old-"
  private val TMP_NAME = "data.compact.tmp"

  /** Heal the layout after a killed maintenance run: every `.graft-old-…`
    * aside either had its swap complete (live leaf exists → drop the aside)
    * or not (live leaf missing → rename the aside back); stale rewrite
    * output is removed. Idempotent; the first step of [[Recovery.recover]].
    */
  def repair(tableDir: String): Unit = {
    val dataDir = new File(tableDir, "data")
    if (dataDir.isDirectory) {
      for {
        bDir <- dataDir.listFiles.toSeq if bDir.isDirectory
        aside <- bDir.listFiles.toSeq if aside.getName.startsWith(ASIDE_PREFIX)
      } {
        val live = new File(bDir, aside.getName.stripPrefix(ASIDE_PREFIX))
        if (live.exists()) Snapshots.deleteRecursively(aside)
        else if (!aside.renameTo(live))
          throw new IllegalStateException(s"repair failed restoring $aside")
      }
    }
    val tmp = new File(tableDir, TMP_NAME)
    if (tmp.exists()) Snapshots.deleteRecursively(tmp)
  }

  /** Warn when a physical rewrite is about to replace files a tag still
    * references: tags protect against vacuum (debris GC) and give named
    * time travel, but rewrites delete the bytes — the affected tags will
    * fail loudly at scan afterwards. Maintenance should know BEFORE the
    * swap, not at the next read.
    */
  private def warnTaggedRewrite(
      tableDir: String, what: String, replacedRel: => Set[String]): Unit = {
    val ts = Snapshots.tags(tableDir)
    if (ts.isEmpty) return
    val replaced = replacedRel
    val hit = ts.filter { case (_, v) =>
      Snapshots.files(tableDir, v).exists(_._2.exists(replaced.contains))
    }
    if (hit.nonEmpty)
      System.err.println(s"[$what] WARNING: rewrite replaces files referenced " +
        s"by tag(s) ${hit.map { case (n, v) => s"$n(v$v)" }.mkString(", ")} — " +
        "those tagged snapshots will fail at scan (untag, or accept the loss)")
  }

  def run(spark: SparkSession, tableDir: String): (Int, Int, Int) = {
    val dataDir = new File(tableDir, "data")
    require(dataDir.isDirectory, s"no pages data under $tableDir")
    Recovery.recover(tableDir)

    val fragmented = leaves(dataDir).filter(_._2.length > 1)
    if (fragmented.isEmpty) return (0, 0, 0)
    // one job over just the fragmented leaves; basePath restores bucket/day
    val rows = spark.read
      .option("basePath", dataDir.toString)
      .schema(PagesTable.fullFor(tableDir))
      .parquet(fragmented.map(_._1.toString): _*)
      .repartition(col("bucket"), col("day"))
    val filesAfter = rewrite(tableDir, "compact", fragmented, rows, Map.empty)
    (fragmented.size, fragmented.map(_._2.length).sum, filesAfter)
  }

  /** `OPTIMIZE ZORDER BY (d1, d2)` — rewrite every leaf with rows sorted
    * along a Morton (Z-order) curve over two query dimensions, split into
    * bounded files, so each file covers a NARROW range of BOTH dimensions
    * and footer min/max stats skip most files for predicates on EITHER
    * (a single-column sort gives the second dimension world-wide ranges
    * per file; [[graft.operators.Relational.qZorder]] computes this job's
    * profile as a query).
    *
    * Dimension encoding is sample-based quantile binning — the same
    * range-binning a production OPTIMIZE uses instead of a global
    * per-column sort: a seeded ≤100k-row sample yields 255 cut points per
    * dimension (bounded driver state), each row's 8-bit bin is its cut
    * rank (monotone in the column's natural order, so locality is
    * preserved for strings and timestamps alike), and the two bins
    * interleave into a 16-bit z key. The rewrite itself is ONE job: hash-
    * repartition by (bucket, day) — each leaf lands in one task — sort
    * within task by (bucket, day, z), write with `maxRecordsPerFile`
    * splitting each leaf into z-contiguous files. Leaves swap through the
    * same crash-safe aside swap as [[run]]; a snapshot is committed.
    *
    * At 100 TB: sampling is one cheap scan-and-discard pass, the rewrite
    * shuffles each row once, and every leaf is rewritten independently —
    * no global sort, no driver state beyond 2×255 cut points.
    *
    * Supported dimension types: string (natural order) and anything
    * castable to BIGINT losslessly for ordering (ints, timestamps).
    * Returns (leaves rewritten, files after).
    */
  def zorder(spark: SparkSession, tableDir: String,
             dims: (String, String) = ("url", "warc_ts"),
             maxRecordsPerFile: Long = 0L): (Int, Int) = {
    import org.apache.spark.sql.Column
    import org.apache.spark.sql.types.StringType
    val dataDir = new File(tableDir, "data")
    require(dataDir.isDirectory, s"no pages data under $tableDir")
    Recovery.recover(tableDir)

    val full = spark.read
      .option("basePath", dataDir.toString)
      .schema(PagesTable.fullFor(tableDir))
      .parquet(dataDir.toString)

    // 255 cut points per dimension from a seeded sample; bin = cut rank
    // (size(filter(cuts, c <= x))) — 255 codegen'd comparisons per row, the
    // honest small-N stand-in for a binary-search expression
    val n = full.count()
    def binExpr(dim: String): Column = {
      val isStr = full.schema(dim).dataType == StringType
      val c = if (isStr) col(dim) else col(dim).cast("long")
      val frac = math.min(1.0, 100000.0 / math.max(n, 1L))
      val sampled = full.select(c.as("v")).where(col("v").isNotNull)
        .sample(withReplacement = false, frac, seed = 42L)
      def cutsOf[T: Ordering](vals: Seq[T]): Seq[T] = {
        val s = vals.sorted
        if (s.isEmpty) Seq.empty
        else (1 to 255).map(i => s(((i.toLong * s.size) / 256).toInt.min(s.size - 1))).distinct
      }
      val cutsArr: Column =
        if (isStr) {
          val cuts = cutsOf(sampled.collect().map(_.getString(0)).toSeq)
          typedlit(cuts)
        } else {
          val cuts = cutsOf(sampled.collect().map(_.getLong(0)).toSeq)
          typedlit(cuts)
        }
      when(c.isNull, lit(0L))
        .otherwise(size(filter(cutsArr, cut => cut <= c)).cast("long"))
    }

    val bx = binExpr(dims._1)
    val by = binExpr(dims._2)
    // Morton interleave of two 8-bit bins → 16-bit z (same fold as qZorder)
    val z = expr(
      "aggregate(sequence(0, 7), 0L, (acc, i) -> acc" +
        " + shiftleft((__zx div shiftleft(1L, i)) % 2, 2*i)" +
        " + shiftleft((__zy div shiftleft(1L, i)) % 2, 2*i+1))")

    val all = leaves(dataDir)
    val rows = full
      .withColumn("__zx", bx).withColumn("__zy", by)
      .withColumn("__z", z)
      .repartition(col("bucket"), col("day"))
      .sortWithinPartitions(col("bucket"), col("day"), col("__z"))
      .drop("__zx", "__zy", "__z")
    val filesAfter = rewrite(tableDir, "zorder", all, rows,
      Map("maxRecordsPerFile" -> maxRecordsPerFile.toString))
    (all.size, filesAfter)
  }

  private def dataFiles(d: File): Array[File] =
    if (!d.isDirectory) Array.empty
    else d.listFiles.filter(f => f.isFile && f.getName.endsWith(".parquet"))

  /** Every `bucket=<b>/day=<d>` leaf holding data files, with those files. */
  private def leaves(dataDir: File): Seq[(File, Array[File])] =
    for {
      bDir <- dataDir.listFiles.toSeq if bDir.getName.startsWith("bucket=")
      dDir <- bDir.listFiles.toSeq if dDir.getName.startsWith("day=")
      files = dataFiles(dDir) if files.nonEmpty
    } yield (dDir, files)

  /** Write `rows` (the rewritten content of exactly `targets`) partitioned
    * by bucket/day, swap each rewritten leaf in for its old one, commit a
    * snapshot and return the data-file count of the swapped leaves. Every
    * leaf is checked before the first swap: a leaf the rewrite produced no
    * output for is dropped only when the footers of its old files count
    * zero rows (aborted-batch debris); any other missing leaf means the
    * rewrite lost rows, and the run fails with the table untouched.
    */
  private def rewrite(tableDir: String, what: String, targets: Seq[(File, Array[File])],
                      rows: DataFrame, options: Map[String, String]): Int = {
    val dataDir = new File(tableDir, "data")
    def rel(f: File) = dataDir.toPath.relativize(f.toPath).toString
    warnTaggedRewrite(tableDir, what, targets.flatMap(_._2.map(rel)).toSet)
    val tmpOut = new File(tableDir, TMP_NAME)
    rows.write
      .mode(SaveMode.Overwrite)
      .options(options)
      .partitionBy("bucket", "day")
      .parquet(tmpOut.toString)

    val swaps = targets.map { case (oldLeaf, oldFiles) =>
      val newLeaf = new File(tmpOut, rel(oldLeaf))
      val empty = dataFiles(newLeaf).isEmpty
      if (empty && !TableStats.rowCount(oldFiles.toSeq.map(_.toPath)).contains(0L))
        throw new IllegalStateException(s"$what rewrite lost leaf ${rel(oldLeaf)}")
      (oldLeaf, if (empty) None else Some(newLeaf))
    }
    for ((oldLeaf, newLeaf) <- swaps) newLeaf match {
      case None => Snapshots.deleteRecursively(oldLeaf)
      case Some(nl) =>
        val aside = new File(oldLeaf.getParentFile, ASIDE_PREFIX + oldLeaf.getName)
        if (!oldLeaf.renameTo(aside))
          throw new IllegalStateException(s"$what aside failed for ${rel(oldLeaf)}")
        if (!nl.renameTo(oldLeaf)) {
          aside.renameTo(oldLeaf) // restore; nothing lost
          throw new IllegalStateException(s"$what swap failed for ${rel(oldLeaf)}")
        }
        Snapshots.deleteRecursively(aside)
    }
    Snapshots.deleteRecursively(tmpOut)
    Snapshots.record(tableDir)
    targets.map { case (leaf, _) => dataFiles(leaf).length }.sum
  }

  /** Age floor for [[vacuum]]: files younger than this are NEVER deleted
    * even when unreferenced (default 24 h). This is the Delta-VACUUM
    * retention rule, and it is what makes vacuum safe against the stale-
    * snapshot hazard: a run killed between its data swap and its
    * `Snapshots.record` leaves live files the latest snapshot does not
    * list — they are recent, so the floor protects them, and ANY subsequent
    * write/compact records a fresh snapshot that adopts them. Only lower
    * the floor (CLI arg) when no maintenance ran within the window.
    */
  val DEFAULT_VACUUM_MIN_AGE_MS: Long = 24L * 3600 * 1000

  /** VACUUM: delete data files NOT referenced by the latest snapshot or
    * any tag (the Iceberg ref-reachable retention rule) and older than
    * `minAgeMs` — the cleanup op for debris from failed/killed writes.
    * Snapshot-less tables (pre-log layouts) are refused rather than
    * guessed at. The live-set diff runs ON EXECUTORS: the on-disk listing
    * is one walk task per top-level partition dir ([[Manifests.listingDf]]),
    * the live set (latest ∪ every tag) is a manifest text scan, and
    * candidates = listing ANTI-JOIN live with the age floor applied
    * executor-side. Only the debris-sized delete list is collected; the
    * deletes themselves stay driver-side (single mutator, like every commit
    * in this table layer). Returns (files removed, bytes removed).
    */
  def vacuum(spark: SparkSession, tableDir: String,
             minAgeMs: Long = DEFAULT_VACUUM_MIN_AGE_MS): (Int, Long) = {
    // a half-applied commit's files (moved, pre-snapshot) must be rolled
    // FORWARD before the latest version is read, or its snapshot would land
    // after the live-set read and vacuum would GC the moved files
    Recovery.recover(tableDir)
    val latest = Snapshots.latestVersion(tableDir).getOrElse(
      throw new IllegalStateException(
        s"$tableDir has no snapshot log; vacuum needs one to know what is live"))
    val liveVersions = (latest +: Snapshots.tags(tableDir).map(_._2)).distinct
    val dataDir = new File(tableDir, "data")
    val horizon = System.currentTimeMillis() - minAgeMs
    val orphans = Manifests.listingDf(spark, dataDir)
      .filter(col("mtime_ms") <= lit(horizon))
      .join(Manifests.manifestsDf(spark, tableDir, liveVersions), Seq("path"), "left_anti")
      .select("path", "size_bytes")
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    orphans.foreach { case (rel, _) => new File(dataDir, rel).delete() }
    Recovery.pruneEmpty(dataDir)
    (orphans.size, orphans.map(_._2).sum)
  }

  /** Snapshot history: (version, epoch millis, file count) ascending. */
  def history(tableDir: String): Seq[(Int, Long, Int)] =
    (1 to Snapshots.latestVersion(tableDir).getOrElse(0)).flatMap { v =>
      Snapshots.files(tableDir, v).map { case (ts, fs) => (v, ts, fs.size) }
    }
}
