package graft.sources

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Table integrity audit (`Main doctor <tableDir> [--deep]`) — the check an
  * operator runs before trusting a 10^12-row table after an incident, and
  * the one a maintenance cron alerts on. Metadata checks are driver-side
  * O(files) listing work; the opt-in `--deep` check is ONE distributed scan.
  *
  * Findings, most severe first:
  *  - ERROR broken-meta: `_table` missing/unparseable (readers can't derive
  *    the layout function).
  *  - ERROR manifest-hole: a file referenced by the LATEST snapshot (or by
  *    any TAGGED snapshot) is absent on disk — scans of that ref WILL fail.
  *  - ERROR dangling-tag: a tag resolves to a version with no snapshot file.
  *  - WARN pending-intent: a [[Recovery]] write-ahead intent exists — a
  *    crash happened mid-commit; the next table operation replays it
  *    ([[Recovery.recover]]), but until then raw-path readers see the old
  *    tree.
  *  - WARN orphan-files: data files referenced by NO snapshot — debris from
  *    crashed writes or pre-snapshot tooling; vacuum's candidates, counted
  *    with bytes so the operator can judge urgency.
  *  - INFO stale-bloom: `_bloom` sidecars exist but newer data files lack
  *    one — point lookups on those files degrade to scans (correct, slower).
  *  - DEEP misplaced-rows (`--deep`): every row's url re-hashed against the
  *    layout function and compared to its file's bucket= directory, and its
  *    warc_ts compared to its file's day= directory ([[PageTable.place]]'s
  *    two expressions) — zero is the invariant bucket and day pruning and
  *    `lookup` rely on. Distributed; returns ONE count per misplaced
  *    (bucket, day) leaf, never rows.
  */
object Doctor {

  case class Finding(severity: String, code: String, detail: String)

  /** Run the audit. With a SparkSession the file-count-bounded checks
    * (manifest holes, orphans, bloom staleness) run as DISTRIBUTED jobs —
    * the on-disk listing is one walk task per top-level partition dir
    * ([[Manifests.listingDf]]), the manifests are text scans, and the
    * hole/orphan diffs are anti-joins; only findings-sized results reach
    * the driver. Without a session (no-cluster triage) the same checks run
    * as a driver walk. `deep` additionally re-derives every ROW's bucket and
    * day (one data scan; requires the session).
    */
  def audit(tableDir: String,
            spark: Option[SparkSession] = None,
            deep: Boolean = false): Seq[Finding] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[Finding]
    val dataDir = new java.io.File(tableDir, "data")

    // ---- layout meta
    val buckets = PageTable.readBucketMeta(tableDir)
    if (buckets.isEmpty)
      out += Finding("ERROR", "broken-meta",
        s"$tableDir/_table missing or unparseable — layout function unknown")

    // ---- snapshot refs vs disk
    val versions = Snapshots.allVersions(tableDir)
    if (versions.isEmpty)
      out += Finding("WARN", "no-snapshots",
        "no committed snapshots — table predates the log or was hand-built")

    // on-disk paths: distributed listing when a session is available (the
    // 10^5-file shape); lazy driver walk otherwise. The distributed listing
    // is cached once and shared by every check below.
    lazy val listing: Option[org.apache.spark.sql.DataFrame] =
      spark.map(s => Manifests.listingDf(s, dataDir).cache())
    lazy val onDisk: Set[String] = Snapshots.walkData(dataDir)
      .map(f => dataDir.toPath.relativize(f.toPath).toString).toSet

    def holeCheck(version: Int, ref: String): Unit = (spark, listing) match {
      case (Some(s), Some(disk)) =>
        val missing = Manifests.manifestDf(s, tableDir, version)
          .join(disk, Seq("path"), "left_anti")
        val ex = missing.select("path").limit(4)
          .collect().map(_.getString(0)).toSeq
        if (ex.nonEmpty)
          out += Finding("ERROR", "manifest-hole",
            s"$ref (v$version) references ${missing.count()} absent file(s), " +
              s"e.g. ${ex.take(3).mkString(", ")}")
      case _ =>
        Snapshots.files(tableDir, version).foreach { case (_, files) =>
          val missing = files.filterNot(onDisk.contains)
          if (missing.nonEmpty)
            out += Finding("ERROR", "manifest-hole",
              s"$ref (v$version) references ${missing.size} absent file(s), " +
                s"e.g. ${missing.take(3).mkString(", ")}")
        }
    }
    versions.lastOption.foreach(v => holeCheck(v, "latest"))

    val tagDir = new java.io.File(tableDir, "snapshots")
    val tags =
      if (!tagDir.isDirectory) Seq.empty[String]
      else tagDir.listFiles.toSeq.map(_.getName)
        .collect { case n if n.startsWith("ref-") && n.endsWith(".txt") =>
          n.stripPrefix("ref-").stripSuffix(".txt") }
    tags.foreach { t =>
      Snapshots.resolveRef(tableDir, t) match {
        case Some(v) if Snapshots.files(tableDir, v).isDefined =>
          holeCheck(v, s"tag '$t'")
        case _ => out += Finding("ERROR", "dangling-tag",
          s"tag '$t' resolves to no committed snapshot")
      }
    }

    // ---- crashed-commit intents
    Recovery.pending(tableDir).foreach { n =>
      out += Finding("WARN", "pending-intent",
        s"$n present — crashed commit; the next catalog read or write, " +
          "rollback, rebucket, compact, zorder, vacuum or branch publish replays it")
    }

    // ---- orphans (referenced by NO snapshot and NO tag)
    if (versions.nonEmpty) {
      // every non-latest snapshot's files are still legitimate history —
      // only files in NO snapshot at all are debris (vacuum keeps the
      // latest+tags union; doctor only REPORTS, never deletes)
      (spark, listing) match {
        case (Some(s), Some(disk)) =>
          val inAny = Manifests.manifestsDf(s, tableDir, versions)
          val orph = disk.join(inAny, Seq("path"), "left_anti").cache()
          val ex = orph.select("path").limit(3)
            .collect().map(_.getString(0)).toSeq
          if (ex.nonEmpty) {
            val st = orph.agg(count(lit(1)), coalesce(sum(col("size_bytes")), lit(0L)))
              .collect()(0)
            out += Finding("WARN", "orphan-files",
              s"${st.getLong(0)} data file(s) / ${st.getLong(1)} bytes in no snapshot " +
                s"(vacuum candidates), e.g. ${ex.mkString(", ")}")
          }
          orph.unpersist()
        case _ =>
          val inAnySnapshot: Set[String] =
            versions.flatMap(v => Snapshots.files(tableDir, v).map(_._2).getOrElse(Seq.empty)).toSet
          val orphans = onDisk -- inAnySnapshot
          if (orphans.nonEmpty) {
            val bytes = orphans.toSeq.map(p => new java.io.File(dataDir, p).length()).sum
            out += Finding("WARN", "orphan-files",
              s"${orphans.size} data file(s) / $bytes bytes in no snapshot " +
                s"(vacuum candidates), e.g. ${orphans.take(3).mkString(", ")}")
          }
      }
    }

    // ---- bloom sidecar staleness
    val bloomDir = new java.io.File(tableDir, "_bloom")
    if (bloomDir.isDirectory) {
      val indexed = bloomDir.listFiles.toSeq.map(_.getName)
        .filter(_.endsWith(".bf")).map(_.stripSuffix(".bf")).toSet
      val unindexed: Long = listing match {
        case Some(disk) =>
          // the indexed-name set is sidecar-count-bounded; ship it in the
          // task closure and count executor-side over the cached listing
          import org.apache.spark.sql.Row
          disk.select("path").filter((r: Row) =>
            !indexed.contains(r.getString(0).replaceAll("[/\\\\]", "__"))).count()
        case None =>
          onDisk.count(p => !indexed.contains(p.replaceAll("[/\\\\]", "__"))).toLong
      }
      if (unindexed > 0)
        out += Finding("INFO", "stale-bloom",
          s"$unindexed data file(s) lack a bloom sidecar — lookups degrade to scans there")
    }

    // ---- deep: layout-function placement (one distributed scan)
    (spark, buckets) match {
      case (Some(s), Some(nb)) if deep =>
        // a diagnosis tool must REPORT an unreadable table, never crash on
        // it; the expected bucket and day are PageTable's own placement
        // expressions, so the two can never silently drift apart
        try {
          val day = col("day").cast("string")
          val misplaced = s.read.parquet(s"$tableDir/data")
            .filter(col("bucket") =!= PageTable.bucketCol(nb) || !(day <=> PageTable.dayCol))
            .groupBy(col("bucket"), day.as("day")).count().collect()
          misplaced.foreach { r =>
            out += Finding("ERROR", "misplaced-rows",
              s"bucket=${r.getAs[Int]("bucket")}/day=${r.getAs[String]("day")}: " +
                s"${r.getAs[Long]("count")} row(s) belong in another leaf — " +
                "bucket/day pruning and lookup would miss them")
          }
        } catch {
          case e: Exception =>
            out += Finding("ERROR", "deep-scan-failed",
              s"deep scan of $tableDir/data unreadable: " +
                s"${e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse("").linesIterator.take(1).mkString}")
        }
      case _ => ()
    }

    listing.foreach(_.unpersist())
    if (out.isEmpty) out += Finding("OK", "clean", "no findings")
    out.toSeq
  }
}
