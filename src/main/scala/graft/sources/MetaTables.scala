package graft.sources

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability}
import org.apache.spark.sql.connector.read.{Batch, InputPartition, LocalScan, PartitionReader, PartitionReaderFactory, Scan, ScanBuilder}
import org.apache.spark.sql.types.{BooleanType, IntegerType, LongType, StringType, StructType, TimestampType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

import java.util

/** Iceberg-style metadata tables over the snapshot log (S21): the catalog
  * resolves `SELECT * FROM cat.`pages$snapshots`` (and `$files`, `$refs`) to
  * a tiny read-only table computed from the same manifests every maintenance
  * op already reads — the operational introspection surface of a lakehouse
  * (how many snapshots, what files does the live scan plan, which tags pin
  * what), queryable with plain SQL instead of the CLI.
  *
  *   pages$snapshots — one row per committed version: commit time, file
  *                     count, bytes still on disk, and how many referenced
  *                     files no longer exist (the S11 retention caveat made
  *                     visible: a non-zero n_missing marks a snapshot that
  *                     compaction/overwrite has invalidated).
  *   pages$files     — one row per LIVE data file (exactly [[Snapshots
  *                     .walkData]], the set a table scan plans): parsed
  *                     bucket/day partition values, size, and whether the
  *                     latest snapshot references it (false = debris a crash
  *                     left behind; what `Main vacuum` would delete).
  *   pages$refs      — one row per tag: pinned version, its commit time and
  *                     file count (S19).
  *
  * Scale shape: `$snapshots`/`$refs` are log-bounded (one row per version /
  * tag) and materialize driver-side via [[LocalScan]]; `$snapshots` takes
  * its file sizes from the distributed [[Manifests.listingDf]]. `$files` and
  * `$partitions` are FILE-COUNT-bounded, so they plan a real DISTRIBUTED
  * batch scan: one [[InputPartition]] per top-level partition directory,
  * carrying that directory's shard of the latest manifest; executors walk
  * their subtree ([[Snapshots.walkEntry]]) and stat files there, and only
  * result rows reach the driver. At 10^5–10^6 files the listing/stat
  * round-trips — the first wall an operator hits on an object store —
  * parallelize across the cluster (see [[Manifests]] for the same shape
  * serving doctor and vacuum). Built fresh at every scan, so a query always
  * sees the current log.
  */
object MetaTables {

  /** Names this module owns: `<base>$<suffix>`. */
  private val SUFFIXES = Set("snapshots", "files", "refs", "partitions")

  /** Split `base$meta` table names; None when `name` is a plain table. */
  def parse(name: String): Option[(String, String)] = {
    val i = name.lastIndexOf('$')
    if (i <= 0) None
    else {
      val base = name.substring(0, i)
      val meta = name.substring(i + 1)
      if (SUFFIXES.contains(meta)) Some((base, meta)) else None
    }
  }

  private val SNAPSHOTS_SCHEMA = new StructType()
    .add("version", IntegerType, nullable = false)
    .add("committed_at", TimestampType, nullable = false)
    .add("n_files", IntegerType, nullable = false)
    .add("n_bytes", LongType, nullable = false)
    .add("n_missing", IntegerType, nullable = false)

  private val FILES_SCHEMA = new StructType()
    .add("path", StringType, nullable = false)
    .add("bucket", IntegerType, nullable = true)
    .add("day", StringType, nullable = true)
    .add("size_bytes", LongType, nullable = false)
    .add("in_snapshot", BooleanType, nullable = false)

  private val REFS_SCHEMA = new StructType()
    .add("name", StringType, nullable = false)
    .add("version", IntegerType, nullable = false)
    .add("committed_at", TimestampType, nullable = true)
    .add("n_files", IntegerType, nullable = true)

  private val PARTITIONS_SCHEMA = new StructType()
    .add("bucket", IntegerType, nullable = true)
    .add("day", StringType, nullable = true)
    .add("n_files", IntegerType, nullable = false)
    .add("n_bytes", LongType, nullable = false)

  private val BUCKET_RE = "(?:^|/)bucket=(\\d+)/".r
  private val DAY_RE = "(?:^|/)day=([^/]+)/".r

  def table(name: String, meta: String, tableDir: String): Table = meta match {
    case "snapshots"  => new MetaTable(name, SNAPSHOTS_SCHEMA, () => snapshotRows(tableDir))
    case "files"      => new DistMetaTable(name, FILES_SCHEMA, tableDir, "files")
    case "refs"       => new MetaTable(name, REFS_SCHEMA, () => refRows(tableDir))
    case "partitions" => new DistMetaTable(name, PARTITIONS_SCHEMA, tableDir, "partitions")
  }

  private def snapshotRows(tableDir: String): Array[InternalRow] = {
    // ONE on-disk size map for every version's bytes/missing columns: the
    // stat syscalls (the 10^5-file wall) run in the distributed listing of
    // the session planning the scan; the per-version work is then hash
    // lookups. Result rows stay log-bounded.
    val sizes: Map[String, Long] =
      Manifests.listingDf(SparkSession.active, new java.io.File(tableDir, "data")).collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
    Snapshots.allVersions(tableDir).map { v =>
      val (ts, files) = Snapshots.files(tableDir, v).get
      new GenericInternalRow(Array[Any](
        v, ts * 1000L, files.size,
        files.flatMap(sizes.get).sum,
        files.count(!sizes.contains(_)))): InternalRow
    }.toArray
  }

  /** One shard = one top-level entry under `data/` (a `bucket=N` dir, or a
    * loose root file), plus that entry's slice of the latest manifest. The
    * planning work is O(#top-level entries) driver-side; everything under
    * the entry — the recursive walk, per-file stat, manifest membership —
    * runs in the shard's task. Because every partition-path component
    * (bucket=, day=) lives UNDER one top-level entry, per-shard
    * `$partitions` aggregation is globally complete with no shuffle.
    */
  private[sources] case class MetaShard(
      dataDir: String, top: String, manifest: Array[String])
      extends InputPartition

  private[sources] def planShards(tableDir: String, kind: String): Array[InputPartition] = {
    val dataDir = new java.io.File(tableDir, "data")
    val latest: Seq[String] = Snapshots.latestVersion(tableDir)
      .flatMap(v => Snapshots.files(tableDir, v)).map(_._2).getOrElse(Seq.empty)
    def topOf(rel: String): String = {
      val i = rel.indexOf('/'); if (i < 0) rel else rel.substring(0, i)
    }
    val byTop: Map[String, Seq[String]] = latest.groupBy(topOf)
    val tops: Seq[String] = kind match {
      // $files lists what is ON DISK (debris included) — shard by the real
      // directory tree; $partitions rolls up the LATEST SNAPSHOT — shard by
      // the manifest's own top-level components (a referenced-but-deleted
      // dir must still produce its group, sized 0)
      case "files" =>
        if (!dataDir.isDirectory) Seq.empty
        else dataDir.listFiles.toSeq.map(_.getName)
          .filterNot(n => n.startsWith(".") || n.startsWith("_")).sorted
      case _ => byTop.keys.toSeq.sorted
    }
    tops.map(t => MetaShard(dataDir.getAbsolutePath, t,
      byTop.getOrElse(t, Seq.empty).toArray): InputPartition).toArray
  }

  /** Executor-side: the shard's on-disk files, rel path / partition values /
    * size / latest-snapshot membership.
    */
  private[sources] def fileShardRows(s: MetaShard): Iterator[InternalRow] = {
    val base = java.nio.file.Paths.get(s.dataDir)
    val inLatest = s.manifest.toSet
    Snapshots.walkEntry(new java.io.File(s.dataDir, s.top))
      .map(f => (base.relativize(f.toPath).toString, f.length()))
      .sortBy(_._1)
      .iterator
      .map { case (rel, len) =>
        val bucket = BUCKET_RE.findFirstMatchIn(rel).map(_.group(1).toInt)
        val day = DAY_RE.findFirstMatchIn(rel).map(_.group(1))
        new GenericInternalRow(Array[Any](
          UTF8String.fromString(rel),
          bucket.map(Int.box).orNull,
          day.map(UTF8String.fromString).orNull,
          len, inLatest.contains(rel))): InternalRow
      }
  }

  /** Executor-side: the shard's manifest slice rolled up to (bucket, day)
    * groups — the skew/size profile a maintenance planner reads before
    * compaction. Complete per shard (groups never span top-level entries).
    */
  private[sources] def partitionShardRows(s: MetaShard): Iterator[InternalRow] = {
    s.manifest.toSeq
      .map { rel =>
        val f = new java.io.File(s.dataDir, rel)
        val bucket = BUCKET_RE.findFirstMatchIn(rel).map(_.group(1).toInt)
        val day = DAY_RE.findFirstMatchIn(rel).map(_.group(1))
        ((bucket, day), if (f.isFile) f.length() else 0L)
      }
      .groupBy(_._1).toSeq
      .map { case ((b, d), xs) => (b, d, xs.size, xs.map(_._2).sum) }
      .sortBy { case (b, d, _, _) => (b.getOrElse(Int.MaxValue), d.getOrElse("")) }
      .iterator
      .map { case (b, d, nf, nb) =>
        new GenericInternalRow(Array[Any](
          b.map(Int.box).orNull,
          d.map(UTF8String.fromString).orNull,
          nf, nb)): InternalRow
      }
  }

  private def refRows(tableDir: String): Array[InternalRow] =
    Snapshots.tags(tableDir).map { case (name, v) =>
      val snap = Snapshots.files(tableDir, v)
      new GenericInternalRow(Array[Any](
        UTF8String.fromString(name), v,
        snap.map(s => Long.box(s._1 * 1000L)).orNull,
        snap.map(s => Int.box(s._2.size)).orNull)): InternalRow
    }.toArray
}

/** A read-only DSv2 table whose rows are computed driver-side at scan build
  * — metadata-sized by construction (see [[MetaTables]]).
  */
private[sources] class MetaTable(
    tableName: String,
    schemaDef: StructType,
    build: () => Array[InternalRow])
    extends Table with SupportsRead {

  override def name(): String = tableName
  override def schema(): StructType = schemaDef
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ)

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new ScanBuilder {
      override def build(): Scan = new LocalScan {
        override def rows(): Array[InternalRow] = MetaTable.this.build()
        override def readSchema(): StructType = schemaDef
        override def description(): String = s"GraftMetaTable $tableName"
      }
    }
}

/** The file-count-bounded metadata tables (`$files`, `$partitions`) as a
  * real distributed DSv2 batch scan: planInputPartitions shards by
  * top-level data-dir entry (manifest slice attached), and the reader
  * factory walks/stats/aggregates ON EXECUTORS — the plan shows a
  * BatchScan with one task per shard, not a LocalTableScan.
  */
private[sources] class DistMetaTable(
    tableName: String,
    schemaDef: StructType,
    tableDir: String,
    kind: String)
    extends Table with SupportsRead {

  override def name(): String = tableName
  override def schema(): StructType = schemaDef
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ)

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new ScanBuilder {
      override def build(): Scan = new Scan with Batch {
        override def readSchema(): StructType = schemaDef
        override def description(): String =
          s"GraftMetaTable $tableName distributed $kind"
        override def toBatch: Batch = this
        override def planInputPartitions(): Array[InputPartition] =
          MetaTables.planShards(tableDir, kind)
        override def createReaderFactory(): PartitionReaderFactory =
          new MetaShardReaderFactory(kind)
      }
    }
}

private[sources] class MetaShardReaderFactory(kind: String)
    extends PartitionReaderFactory {
  override def createReader(p: InputPartition): PartitionReader[InternalRow] = {
    val shard = p.asInstanceOf[MetaTables.MetaShard]
    val it =
      if (kind == "files") MetaTables.fileShardRows(shard)
      else MetaTables.partitionShardRows(shard)
    new PartitionReader[InternalRow] {
      private var cur: InternalRow = _
      override def next(): Boolean =
        if (it.hasNext) { cur = it.next(); true } else false
      override def get(): InternalRow = cur
      override def close(): Unit = ()
    }
  }
}
