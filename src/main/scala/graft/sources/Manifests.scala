package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Executor-side views of the table-layer metadata — the one path the
  * metadata tables (`$files`, `$partitions`, `$snapshots`), doctor's
  * distributed manifest-hole/orphan audit, vacuum's live-set diff and
  * clone's stat and link passes read it through.
  *
  * Two primitives:
  *
  *  - [[manifestDf]] / [[manifestsDf]]: a snapshot manifest AS a table. The
  *    `snapshots/v<N>.txt` log is line-oriented text, so `spark.read
  *    .textFile` splits it by byte ranges and each executor parses its own
  *    lines — at 10^6 manifest entries the parse is a distributed scan, the
  *    driver never holds the list (the `fmt_footer` pattern applied to the
  *    metadata layer).
  *  - [[listingDf]]: the on-disk file listing, one TASK per top-level
  *    partition directory. The driver lists only the data-dir root
  *    (O(#buckets) — bounded by the layout, not the file count); executors
  *    walk their subtree with [[Snapshots.walkEntry]] (the ONE shared
  *    definition of "what counts as a data file") and stat files there. At
  *    10^5–10^6 files the stat/LIST round-trips — the real wall on an
  *    object store — happen on the cluster, in parallel.
  *
  * Everything downstream is relational: holes = manifest ANTI-JOIN listing,
  * orphans = listing ANTI-JOIN all-manifests, live-set diff = listing
  * ANTI-JOIN (latest ∪ tags). Only findings-sized results (counts, a few
  * example paths, the debris delete list) ever reach the driver.
  */
object Manifests {

  /** Committed manifest `v<version>.txt` as a one-column table of dataDir-
    * relative paths (the `ts=` header line dropped). Distributed by byte
    * range like any text scan.
    */
  def manifestDf(spark: SparkSession, tableDir: String, version: Int): DataFrame = {
    import spark.implicits._
    spark.read.textFile(s"$tableDir/snapshots/v$version.txt")
      .filter((l: String) => l.nonEmpty && !l.startsWith("ts="))
      .toDF("path")
  }

  /** The DISTINCT union of several versions' manifests (vacuum's live set,
    * doctor's any-snapshot membership) — one multi-file text scan, one
    * distinct, no driver set.
    */
  def manifestsDf(spark: SparkSession, tableDir: String, versions: Seq[Int]): DataFrame = {
    import spark.implicits._
    if (versions.isEmpty)
      return spark.emptyDataset[String].toDF("path")
    val paths = versions.distinct.sorted.map(v => s"$tableDir/snapshots/v$v.txt")
    spark.read.textFile(paths: _*)
      .filter((l: String) => l.nonEmpty && !l.startsWith("ts="))
      .distinct()
      .toDF("path")
  }

  /** Distributed on-disk listing of a table's data dir:
    * (path relative to dataDir, size_bytes, mtime_ms), one walk task per
    * top-level entry. Hidden/maintenance paths skipped by the shared
    * [[Snapshots.walkEntry]] rule.
    */
  def listingDf(spark: SparkSession, dataDir: java.io.File): DataFrame = {
    import spark.implicits._
    val root = dataDir.getAbsolutePath
    val tops: Seq[String] =
      if (!dataDir.isDirectory) Seq.empty
      else dataDir.listFiles.toSeq.map(_.getName)
        .filterNot(n => n.startsWith(".") || n.startsWith("_")).sorted
    if (tops.isEmpty)
      return spark.emptyDataset[(String, Long, Long)]
        .toDF("path", "size_bytes", "mtime_ms")
    spark.createDataset(tops)
      .repartition(math.min(tops.size, 64))
      .flatMap { top =>
        val base = java.nio.file.Paths.get(root)
        Snapshots.walkEntry(new java.io.File(root, top)).map { f =>
          (base.relativize(f.toPath).toString, f.length(), f.lastModified())
        }
      }
      .toDF("path", "size_bytes", "mtime_ms")
  }
}
