package graft.sources

import graft.Model
import org.apache.spark.sql.{DataFrame, SaveMode}
import org.apache.spark.sql.catalyst.analysis.{NoSuchNamespaceException, NoSuchTableException, TableAlreadyExistsException}
import org.apache.spark.sql.connector.catalog.{Identifier, SupportsRead, SupportsWrite, Table, TableCapability, TableCatalog, TableChange, TableInfo}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.expressions.{Expressions, Transform}
import org.apache.spark.sql.connector.read.{Batch, HasPartitionKey, InputPartition, PartitionReaderFactory, Scan, ScanBuilder, SupportsReportPartitioning}
import org.apache.spark.sql.connector.read.partitioning.{KeyGroupedPartitioning, Partitioning}
import org.apache.spark.sql.execution.datasources.FilePartition
import org.apache.spark.sql.connector.write.{LogicalWriteInfo, SupportsTruncate, V1Write, Write, WriteBuilder}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.execution.datasources.v2.parquet.ParquetTable
import org.apache.spark.sql.sources.InsertableRelation
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import java.util
import java.util.Locale

/** DataSource-v2 catalog for pages tables (SURVEY.md §1.2: the promise that
  * `spark.read.table("pages")` works and a real Iceberg catalog later drops
  * in without touching callers). A `TableCatalog` plugin over the existing
  * bucket/day Parquet layout:
  *
  *   spark.sql.catalog.graft           = graft.sources.GraftCatalog
  *   spark.sql.catalog.graft.warehouse = /path/to/warehouse
  *
  * Each table is `warehouse/<name>/` in exactly the [[PageTable]] layout
  * (`data/bucket=<b>/day=<yyyy-MM-dd>/` parquet files), so a directory written by
  * `PageTable.write` IS a catalog table and vice versa. The split of labor is
  * the one every production table format uses: the catalog owns identity and
  * metadata; the read data plane delegates to Spark's built-in v2 Parquet
  * source (vectorized reader, filter pushdown, bucket/day directory pruning
  * — pinned in PageTableSpec), and the write plane is a `V1Write` that
  * derives the bucket/day partition columns ([[PageTable.place]]) and
  * routes through the dynamic-partition Parquet writer the rest of the
  * engine already uses.
  */
class GraftCatalog extends TableCatalog {

  private var catalogName: String = _
  private var warehouse: String = _

  override def initialize(name: String, options: CaseInsensitiveStringMap): Unit = {
    catalogName = name
    warehouse = options.get("warehouse")
    require(warehouse != null && warehouse.nonEmpty,
      s"catalog $name needs spark.sql.catalog.$name.warehouse")
  }

  override def name(): String = catalogName

  /** Column defaults are how narrow (5-column) writes resolve against the
    * 7-column schema — bucket/day default to NULL and the write derives
    * them (see [[PagesTable.FULL]]).
    */
  override def capabilities(): util.Set[org.apache.spark.sql.connector.catalog.TableCatalogCapability] =
    util.EnumSet.of(
      org.apache.spark.sql.connector.catalog.TableCatalogCapability.SUPPORT_COLUMN_DEFAULT_VALUE)

  private def tableDir(ident: Identifier): java.io.File = {
    require(ident.namespace.isEmpty || ident.namespace.sameElements(Array("default")),
      s"single-level namespace only: $ident")
    new java.io.File(warehouse, ident.name)
  }

  override def listTables(namespace: Array[String]): Array[Identifier] = {
    if (!(namespace.isEmpty || namespace.sameElements(Array("default"))))
      throw new NoSuchNamespaceException(namespace)
    val w = new java.io.File(warehouse)
    if (!w.isDirectory) Array.empty
    else
      w.listFiles.filter(f => new java.io.File(f, "data").isDirectory || new java.io.File(f, "_table").isFile)
        .map(f => Identifier.of(namespace, f.getName))
        .sortBy(_.name)
  }

  override def tableExists(ident: Identifier): Boolean = {
    val d = tableDir(ident)
    new java.io.File(d, "data").isDirectory || new java.io.File(d, "_table").isFile
  }

  override def loadTable(ident: Identifier): Table = {
    // metadata tables (S21): `SELECT * FROM cat.`pages$snapshots`` etc.
    // resolve against the BASE table's dir
    val meta = MetaTables.parse(ident.name)
    val baseIdent = meta.fold(ident) { case (base, _) => Identifier.of(ident.namespace, base) }
    if (!tableExists(baseIdent)) throw new NoSuchTableException(ident)
    val dir = tableDir(baseIdent).toString
    // roll FORWARD any commit a crash left half-applied before anyone plans
    // a scan over the dir (so `$files` can never show a half-published
    // branch as debris). With nothing pending a read leaves the dir as it
    // is: a compaction aside may belong to a maintenance run still in
    // flight. Writes recover unconditionally (PagesTable's write builders).
    if (Recovery.pending(dir).nonEmpty) Recovery.recover(dir)
    meta match {
      case Some((_, m)) => MetaTables.table(ident.name, m, dir)
      case None =>
        // the bucket count recorded at write time is authoritative —
        // deriving bucket with any other modulus on append would silently
        // break the layout function readers use to locate a url
        val buckets = PageTable.readBucketMeta(dir).getOrElse(PageTable.DEFAULT_BUCKETS)
        new PagesTable(ident.name, dir, buckets, extras = PageTable.readSchemaMeta(dir))
    }
  }

  /** Time travel: `SELECT ... FROM cat.t VERSION AS OF n` (also
    * `spark.read.option("versionAsOf", n).table(...)`). Every catalog write
    * records a snapshot (full file list, [[Snapshots]]); the pinned table
    * plans exactly that snapshot's files.
    */
  override def loadTable(ident: Identifier, version: String): Table = {
    if (!tableExists(ident)) throw new NoSuchTableException(ident)
    val dir = tableDir(ident).toString
    // integers are versions; anything else resolves as a tag name (S19) —
    // tag names must start with a letter, so the two can never collide
    val v = try version.toInt catch {
      case _: NumberFormatException =>
        Snapshots.resolveRef(dir, version).getOrElse(
          throw new IllegalArgumentException(
            s"table ${ident.name} has no tag '$version' (and graft snapshot " +
              s"versions are integers); tags: " +
              Snapshots.tags(dir).map(_._1).mkString(", ")))
    }
    val (_, files) = Snapshots.files(dir, v).getOrElse(
      throw new IllegalArgumentException(
        s"table ${ident.name} has no snapshot v$v " +
          s"(latest: ${Snapshots.latestVersion(dir).getOrElse("none")})"))
    val buckets = PageTable.readBucketMeta(dir).getOrElse(PageTable.DEFAULT_BUCKETS)
    // the CURRENT schema applies to every snapshot (schema is table
    // metadata, not snapshot state): files written before an ADD COLUMN
    // simply null-fill it, exactly like the live scan
    new PagesTable(ident.name, dir, buckets, pinned = Some((v, files)),
      extras = PageTable.readSchemaMeta(dir))
  }

  /** Time travel by wall clock: `TIMESTAMP AS OF ts` (micros from Spark) —
    * resolves to the newest snapshot recorded at or before `ts`.
    */
  override def loadTable(ident: Identifier, timestamp: Long): Table = {
    if (!tableExists(ident)) throw new NoSuchTableException(ident)
    val dir = tableDir(ident).toString
    val v = Snapshots.versionAt(dir, timestamp / 1000L).getOrElse(
      throw new IllegalArgumentException(
        s"table ${ident.name}: no snapshot at or before timestamp " +
          s"${timestamp / 1000L} ms"))
    loadTable(ident, v.toString)
  }

  override def createTable(
      ident: Identifier,
      schema: StructType,
      partitions: Array[Transform],
      properties: util.Map[String, String]): Table = {
    if (tableExists(ident)) throw new TableAlreadyExistsException(ident)
    val d = tableDir(ident)
    d.mkdirs()
    // `_table` marks an empty table as existing AND pins its bucket count
    val buckets = Option(properties.get("numBuckets")).map(_.toInt)
      .getOrElse(PageTable.DEFAULT_BUCKETS)
    PageTable.writeBucketMeta(d.toString, buckets)
    new PagesTable(ident.name, d.toString, buckets)
  }

  override def createTable(ident: Identifier, info: TableInfo): Table =
    createTable(ident, info.schema(), info.partitions(), info.properties())

  /** Schema evolution (S18) — the append-only subset: `ALTER TABLE ... ADD
    * COLUMNS (c type, ...)` appends nullable data columns ahead of the
    * bucket/day partition columns. Everything else (drop/rename/retype, and
    * any touch of the five contract columns or the layout columns) is
    * refused loudly — the contract schema (B:15) and the layout function are
    * the table's identity. Old data files never rewrite: scans null-fill
    * the new column (parquet read-schema projection), narrow writers keep
    * resolving through the NULL column default, and compaction / row-level
    * rewrites carry the evolved columns (they read and write [[PagesTable
    * .fullFor]]).
    */
  override def alterTable(ident: Identifier, changes: TableChange*): Table = {
    if (!tableExists(ident)) throw new NoSuchTableException(ident)
    val dir = tableDir(ident).toString
    val fixed = PagesTable.FULL.fieldNames.map(_.toLowerCase(Locale.ROOT)).toSet
    val updated = changes.foldLeft(PageTable.readSchemaMeta(dir)) { (acc, ch) =>
      ch match {
        case add: TableChange.AddColumn =>
          require(add.fieldNames.length == 1,
            s"pages tables: only top-level ADD COLUMN is supported, got " +
              add.fieldNames.mkString("."))
          val n = add.fieldNames.head
          require(add.position() == null,
            s"pages tables: ADD COLUMN $n supports only appending (no FIRST/AFTER)")
          require(!fixed.contains(n.toLowerCase(Locale.ROOT)),
            s"column $n is part of the fixed contract/layout schema (B:15)")
          require(!acc.fieldNames.exists(_.equalsIgnoreCase(n)),
            s"column $n already exists")
          require(add.isNullable,
            s"ADD COLUMN $n must be nullable: existing rows carry no value for it")
          acc.add(org.apache.spark.sql.types.StructField(n, add.dataType, nullable = true))
        case other =>
          throw new UnsupportedOperationException(
            s"pages tables support only nullable ADD COLUMN; the contract " +
              s"columns (B:15) and bucket/day layout are fixed (got $other)")
      }
    }
    PageTable.writeSchemaMeta(dir, updated)
    loadTable(ident)
  }

  override def dropTable(ident: Identifier): Boolean = {
    val d = tableDir(ident)
    if (!tableExists(ident)) false
    else {
      Snapshots.deleteRecursively(d)
      true
    }
  }

  override def renameTable(from: Identifier, to: Identifier): Unit = {
    if (!tableExists(from)) throw new NoSuchTableException(from)
    if (tableExists(to)) throw new TableAlreadyExistsException(to)
    if (!tableDir(from).renameTo(tableDir(to)))
      throw new IllegalStateException(s"rename $from -> $to failed")
  }
}

object PagesTable {
  /** Contract columns (B:15) plus the two physical partition columns.
    * bucket/day carry a NULL column DEFAULT (catalog capability
    * `SUPPORT_COLUMN_DEFAULT_VALUE`): a 5-column append or MERGE INSERT
    * resolves cleanly against the 7-column schema — the analyzer pads the
    * partition columns with NULL and the write derives them from url /
    * warc_ts (hidden partitioning without `ACCEPT_ANY_SCHEMA`, which would
    * block MergeIntoTable resolution entirely).
    */
  private def dfltMeta: org.apache.spark.sql.types.Metadata =
    new org.apache.spark.sql.types.MetadataBuilder()
      .putString("CURRENT_DEFAULT", "NULL").putString("EXISTS_DEFAULT", "NULL").build()

  /** Contract columns + evolved extras + the two physical partition columns.
    * Extras carry the same NULL column default as bucket/day: a narrow
    * (5-column) append or MERGE INSERT written before the evolution still
    * resolves against the widened schema — the analyzer pads, and old data
    * files simply lack the column (the parquet reader null-fills).
    */
  def fullWith(extras: StructType): StructType = {
    import org.apache.spark.sql.types.{IntegerType, StructField}
    val withExtras = extras.fields.foldLeft(Model.PAGES)((s, f) =>
      s.add(StructField(f.name, f.dataType, nullable = true, metadata = dfltMeta)))
    withExtras
      .add(StructField("bucket", IntegerType, nullable = true, metadata = dfltMeta))
      .add(StructField("day", org.apache.spark.sql.types.StringType, nullable = true, metadata = dfltMeta))
  }

  val FULL: StructType = fullWith(new StructType())

  /** The live full schema of the table at `tableDir` (contract + persisted
    * extras + partition columns) — what every reader of the layout that
    * pins a schema must use, or evolved columns silently vanish.
    */
  def fullFor(tableDir: String): StructType =
    fullWith(PageTable.readSchemaMeta(tableDir))
}

/** Snapshot log for catalog time travel: after every successful catalog
  * write, `snapshots/v<N>.txt` records the table's FULL data-file list
  * (header `ts=<epoch millis>`, then one dataDir-relative path per line,
  * sorted). `VERSION AS OF n` plans exactly v<n>'s files; `TIMESTAMP AS OF`
  * resolves to the newest snapshot at or before the time.
  *
  * Retention caveat (documented, Iceberg-grade GC is out of scope): appends
  * keep history valid forever, but `INSERT OVERWRITE`/`TRUNCATE` delete data
  * files, so older snapshots referencing them fail loudly at scan time with
  * the missing paths — history is append-only-durable, like a format without
  * a file pool. Writes outside the catalog ([[PageTable.write]],
  * `Main append-pages`) record a snapshot the same way.
  *
  * Operations that move files before they record (MERGE, [[rollback]],
  * branch publish, rebucket) commit through [[Recovery]], which rolls a
  * crashed one forward before the next operation reads the log.
  */
object Snapshots {
  private def snapDir(tableDir: String) = new java.io.File(tableDir, "snapshots")

  private val VFILE = "v(\\d+)\\.txt".r

  /** Committed versions only: the match is ANCHORED (whole file name), so
    * crash leftovers like `.v3.txt.tmp` are never counted as versions.
    */
  private def versions(d: java.io.File): Seq[Int] =
    if (!d.isDirectory) Seq.empty
    else d.listFiles.toSeq.map(_.getName).collect { case VFILE(n) => n.toInt }.sorted

  def latestVersion(tableDir: String): Option[Int] =
    versions(snapDir(tableDir)).lastOption

  /** Every committed version, ascending (the `$snapshots` metadata table). */
  def allVersions(tableDir: String): Seq[Int] =
    versions(snapDir(tableDir))

  /** All data files under a table's data dir, skipping hidden/maintenance
    * paths (`.`/`_` prefixes — the same rule Spark's file index applies).
    * The ONE definition of "what counts as a data file", shared by
    * [[record]] and [[Compact.vacuum]] so they can never disagree.
    */
  def walkData(dataDir: java.io.File): Seq[java.io.File] =
    if (dataDir.isDirectory) dataDir.listFiles.toSeq.flatMap(walkEntry)
    else Seq.empty

  /** The same walk applied to ONE root entry (file or directory) — the unit
    * [[Manifests.listingDf]] ships to executors so a 10^5-file listing is
    * one task per top-level partition dir instead of one driver loop.
    */
  def walkEntry(f: java.io.File): Seq[java.io.File] = {
    def hidden(n: String) = n.startsWith(".") || n.startsWith("_")
    def walk(g: java.io.File): Seq[java.io.File] =
      if (hidden(g.getName)) Seq.empty
      else if (g.isDirectory) g.listFiles.toSeq.flatMap(walk)
      else if (g.getName.endsWith(".parquet")) Seq(g)
      else Seq.empty
    walk(f)
  }

  /** Shared recursive delete (maintenance paths only — never reachable from
    * user input without a tableDir the caller already owns).
    */
  def deleteRecursively(f: java.io.File): Unit = {
    if (f.isDirectory) f.listFiles.foreach(deleteRecursively)
    f.delete()
  }

  /** (recorded epoch millis, dataDir-relative file paths) of snapshot v. */
  def files(tableDir: String, version: Int): Option[(Long, Seq[String])] = {
    val f = new java.io.File(snapDir(tableDir), s"v$version.txt")
    if (!f.isFile) None
    else {
      val lines = new String(java.nio.file.Files.readAllBytes(f.toPath), "UTF-8")
        .split("\n").toSeq.filter(_.nonEmpty)
      val ts = lines.head.stripPrefix("ts=").toLong
      Some((ts, lines.tail))
    }
  }

  /** Newest version recorded at or before `tsMillis`. */
  def versionAt(tableDir: String, tsMillis: Long): Option[Int] =
    versions(snapDir(tableDir))
      .filter(v => files(tableDir, v).exists(_._1 <= tsMillis))
      .lastOption

  // ---- named refs (S19: Iceberg-style tags) --------------------------------

  private val REF_NAME = "[A-Za-z][A-Za-z0-9._-]*".r

  private def refFile(tableDir: String, name: String) =
    new java.io.File(snapDir(tableDir), s"ref-$name.txt")

  /** Pin a human name to a snapshot version (`snapshots/ref-<name>.txt`) —
    * the Iceberg tag semantic: IMMUTABLE once created (re-pinning a name a
    * consumer depends on silently changes what "train-v1" means; delete and
    * recreate to move it deliberately) and resolvable anywhere a version is
    * (`VERSION AS OF 'name'`). Durability is exactly the numbered-snapshot
    * contract: [[Compact.vacuum]] keeps the union of files referenced by
    * the latest snapshot and every tag (debris GC never claims a tagged
    * corpus), but compaction / row-level rewrites / overwrites still
    * physically replace files — a tag over files they replace fails LOUDLY
    * at scan with the missing paths (and [[Compact.run]]/`zorder` warn at
    * maintenance time when they are about to invalidate a tag). Names must
    * not look like bare version numbers (must start with a letter), keeping
    * `VERSION AS OF` resolution unambiguous.
    */
  def tag(tableDir: String, name: String, version: Int): Unit = {
    require(REF_NAME.pattern.matcher(name).matches(),
      s"tag name '$name' must match ${REF_NAME.regex}")
    require(files(tableDir, version).isDefined,
      s"$tableDir has no snapshot v$version to tag")
    // create-or-fail: a check-then-rename would let two concurrent tag()
    // calls both pass the check and the last writer silently win
    if (!Recovery.createAtomic(refFile(tableDir, name), version.toString.getBytes("UTF-8")))
      throw new IllegalArgumentException(
        s"tag '$name' already exists (tags are immutable; untag first to move it)")
  }

  /** Remove a tag; the snapshot itself stays. False if absent. */
  def untag(tableDir: String, name: String): Boolean =
    REF_NAME.pattern.matcher(name).matches() && refFile(tableDir, name).delete()

  /** The version a tag points at, if it exists and is committed. */
  def resolveRef(tableDir: String, name: String): Option[Int] = {
    val f = refFile(tableDir, name)
    if (!REF_NAME.pattern.matcher(name).matches() || !f.isFile) None
    else scala.util.Try(
      new String(java.nio.file.Files.readAllBytes(f.toPath), "UTF-8").trim.toInt).toOption
  }

  /** All tags, (name, version) sorted by name. The listing pattern is
    * DERIVED from [[REF_NAME]]: a second hand-written charset here would
    * drift if the allowed names ever change, silently hiding tags from
    * this listing — and from vacuum's protection loop that iterates it.
    */
  def tags(tableDir: String): Seq[(String, Int)] = {
    val d = snapDir(tableDir)
    val R = s"ref-(${REF_NAME.regex})\\.txt".r
    if (!d.isDirectory) Seq.empty
    else d.listFiles.toSeq.map(_.getName).collect { case R(n) => n }.sorted
      .flatMap(n => resolveRef(tableDir, n).map(n -> _))
  }

  /** Restore the table's LIVE state to snapshot `version` (Delta
    * `RESTORE TABLE ... VERSION AS OF` semantics): data files the target
    * snapshot does not reference are moved aside into a hidden
    * `rollback-aside-v<new>` directory under the TABLE root (never under
    * `data/`, so directory scans and [[walkData]] cannot see them), and the
    * restored file list is committed as a NEW snapshot — history stays
    * append-only, and rolling back a rollback works. Fails loudly when the
    * target references files that no longer exist (vacuumed after a
    * compaction/overwrite). Snapshots BETWEEN the target and the rollback
    * that reference moved files fail at scan time with the missing paths —
    * the same documented retention caveat as INSERT OVERWRITE; the aside
    * directory preserves the bytes for manual recovery until deleted. The
    * moves commit through a [[Recovery]] intent (`target=`, `aside=`, then
    * `mv\t<path>` lines), so a crash mid-move is rolled forward.
    *
    * @return (new committed version, number of files moved aside)
    */
  def rollback(tableDir: String, version: Int): (Int, Int) = {
    Recovery.recover(tableDir)
    val want = files(tableDir, version).getOrElse(
      throw new IllegalArgumentException(s"$tableDir has no snapshot v$version"))._2
    val dataDir = new java.io.File(tableDir, "data")
    val base = dataDir.toPath
    val live = walkData(dataDir).map(f => base.relativize(f.toPath).toString)
    val wantSet = want.toSet
    val missing = wantSet -- live.toSet
    if (missing.nonEmpty)
      throw new IllegalStateException(
        s"cannot roll back to v$version: ${missing.size} referenced files no " +
          s"longer exist (vacuumed?), e.g. ${missing.take(3).mkString(", ")}")
    val extra = live.filterNot(wantSet)
    val aside = s"rollback-aside-v${latestVersion(tableDir).getOrElse(0) + 1}"
    Recovery.commit(tableDir, Recovery.ROLLBACK,
      Seq("target" -> version.toString, "aside" -> aside), extra.map(r => Seq("mv", r)))
    (applyRollback(tableDir, aside, extra), extra.size)
  }

  /** Complete a crash-interrupted [[rollback]] (no-op without its intent). */
  def replayRollback(tableDir: String): Unit =
    Recovery.read(tableDir, Recovery.ROLLBACK).foreach(i =>
      applyRollback(tableDir, i("aside"), i.paths("mv")))

  private def applyRollback(tableDir: String, aside: String, extra: Seq[String]): Int = {
    val dataDir = new java.io.File(tableDir, "data")
    val asideRoot = new java.io.File(tableDir, aside).toPath
    extra.foreach(rel => Recovery.move(dataDir.toPath.resolve(rel), asideRoot.resolve(rel)))
    val v = Recovery.recordOnce(tableDir)
    Recovery.clear(tableDir, Recovery.ROLLBACK)
    Recovery.pruneEmpty(dataDir)
    v
  }

  /** Record the table's current full file list as the next version
    * ([[Recovery.writeAtomic]], single-writer like the rest of the engine).
    */
  def record(tableDir: String): Int = {
    val dataDir = new java.io.File(tableDir, "data")
    val base = dataDir.toPath
    val rel = walkData(dataDir).map(f => base.relativize(f.toPath).toString).sorted
    val v = latestVersion(tableDir).getOrElse(0) + 1
    Recovery.writeAtomic(new java.io.File(snapDir(tableDir), s"v$v.txt"),
      (s"ts=${System.currentTimeMillis()}" +: rel).mkString("\n").getBytes("UTF-8"))
    v
  }
}

/** One input split per storage bucket, keyed for Spark's storage-partitioned
  * join: `partitionKey` is the bucket value, so two pages tables with the
  * same bucket count join with ZERO exchange (each task reads matching
  * bucket directories from both sides).
  */
case class BucketInputPartition(key: InternalRow, filePart: FilePartition)
    extends InputPartition with HasPartitionKey {
  override def partitionKey(): InternalRow = key
  override def preferredLocations(): Array[String] = filePart.preferredLocations
}

/** JVM-wide cache of exact parquet footer row counts keyed by
  * (path, size, mtime) — the ANALYZE a lakehouse persists per snapshot,
  * amortized here per file: a footer is a metadata-only read, and an
  * immutable-file layout (append/replace, never in-place edit) makes the
  * cache key exact. Any failure degrades to "row count unknown", never to
  * a wrong count.
  */
object TableStats {
  private val cache =
    new java.util.concurrent.ConcurrentHashMap[(String, Long, Long), java.lang.Long]()

  def rowCount(paths: Seq[java.nio.file.Path]): Option[Long] =
    try {
      var total = 0L
      paths.map(_.toString).distinct.foreach { p =>
        val f = new java.io.File(p)
        val key = (p, f.length(), f.lastModified())
        total += cache.computeIfAbsent(key, _ => {
          val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
            new org.apache.hadoop.fs.Path(p),
            new org.apache.hadoop.conf.Configuration())
          val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
          try java.lang.Long.valueOf(r.getRecordCount) finally r.close()
        })
      }
      Some(total)
    } catch { case _: Exception => None }
}

/** Storage-partitioned-join scan over the bucket/day layout: the delegate
  * parquet scan's file splits are regrouped into ONE input partition per
  * bucket (carrying the bucket as its partition key) and the scan reports
  * `KeyGroupedPartitioning(identity(bucket))` — with
  * `spark.sql.sources.v2.bucketing.enabled`, a bucket-keyed join of two
  * such scans plans with no Exchange on either side (pinned by test). This
  * is the DSv2 answer to Hive bucketing: layout cost paid once at write,
  * every co-keyed join free thereafter.
  */
class BucketedPagesScan(delegate: Scan, numBuckets: Int)
    extends Scan with SupportsReportPartitioning
    with org.apache.spark.sql.connector.read.SupportsReportStatistics {
  override def readSchema(): StructType = delegate.readSchema()
  override def description(): String = s"bucketed(${delegate.description()})"

  /** ANALYZE-shaped statistics: sizeInBytes forwarded from the delegate
    * parquet scan (sum of planned file lengths) and an EXACT rowCount from
    * the parquet footers of the planned files — metadata-only reads, cached
    * per (path, size, mtime) in [[TableStats]], so repeated planning pays
    * nothing. Without this the SPJ scan fell back to
    * `spark.sql.defaultSizeInBytes` (Long.MaxValue) and poisoned every
    * sizing decision downstream of a bucketed read.
    */
  override def estimateStatistics(): org.apache.spark.sql.connector.read.Statistics = {
    val size: java.util.OptionalLong = delegate match {
      case s: org.apache.spark.sql.connector.read.SupportsReportStatistics =>
        s.estimateStatistics().sizeInBytes()
      case _ => java.util.OptionalLong.empty()
    }
    val rows = TableStats.rowCount(
      planned.flatMap(_.asInstanceOf[BucketInputPartition].filePart.files)
        .map(f => java.nio.file.Paths.get(f.pathUri)).toSeq)
    new org.apache.spark.sql.connector.read.Statistics {
      override def sizeInBytes(): java.util.OptionalLong = size
      override def numRows(): java.util.OptionalLong =
        rows.fold(java.util.OptionalLong.empty())(java.util.OptionalLong.of)
    }
  }

  private lazy val delegateBatch: Batch = delegate.toBatch
  private lazy val planned: Array[InputPartition] = {
    val files = delegateBatch.planInputPartitions()
      .flatMap(_.asInstanceOf[FilePartition].files)
    // partition schema is (bucket INT, day STRING): group splits per bucket.
    // Every DECLARED bucket gets a partition — a bucket with no files yet
    // (or an empty table) still reports its key, so two tables with the
    // same bucket count always present identical partition-value sets and
    // the zero-exchange join contract cannot silently degrade to a shuffle
    // when one side is missing a bucket directory.
    val byBucket = files.groupBy(_.partitionValues.getInt(0))
    (0 until numBuckets).toArray.map { b =>
      BucketInputPartition(InternalRow(b),
        FilePartition(b, byBucket.getOrElse(b, Array.empty)))
    }
  }

  override def toBatch: Batch = new Batch {
    override def planInputPartitions(): Array[InputPartition] = planned
    override def createReaderFactory(): PartitionReaderFactory = {
      val inner = delegateBatch.createReaderFactory()
      new PartitionReaderFactory {
        private def unwrap(p: InputPartition) =
          p.asInstanceOf[BucketInputPartition].filePart
        override def createReader(p: InputPartition) = inner.createReader(unwrap(p))
        override def createColumnarReader(p: InputPartition) =
          inner.createColumnarReader(unwrap(p))
        override def supportColumnarReads(p: InputPartition) =
          inner.supportColumnarReads(unwrap(p))
      }
    }
  }

  override def outputPartitioning(): Partitioning =
    new KeyGroupedPartitioning(Array(Expressions.identity("bucket")), planned.length)
}

/** One pages table: `SupportsRead` via the built-in v2 Parquet scan over the
  * partitioned layout, `SupportsWrite` via a V1 fallback write that computes
  * `bucket`/`day` from `url`/`warc_ts` when the incoming frame carries only
  * the five contract columns (`ACCEPT_ANY_SCHEMA` — partition columns are
  * derived, exactly like hidden partitioning in a real table format).
  */
class PagesTable(tableName: String, dir: String,
    numBuckets: Int = PageTable.DEFAULT_BUCKETS,
    pinned: Option[(Int, Seq[String])] = None,
    extras: StructType = new StructType())
    extends Table with SupportsRead with SupportsWrite
    with org.apache.spark.sql.connector.catalog.SupportsDelete
    with org.apache.spark.sql.connector.catalog.SupportsRowLevelOperations {

  private[sources] val tableDir = dir
  private[sources] val dataDir = s"$dir/data"
  private[sources] def bucketCount = numBuckets
  private[sources] val fullSchema: StructType = PagesTable.fullWith(extras)

  override def name(): String =
    pinned.fold(tableName) { case (v, _) => s"$tableName@v$v" }

  override def schema(): StructType = fullSchema

  override def partitioning(): Array[Transform] =
    Array(Expressions.identity("bucket"), Expressions.identity("day"))

  override def properties(): util.Map[String, String] = {
    val m = new util.HashMap[String, String]()
    m.put(TableCatalog.PROP_LOCATION, dir)
    m.put(TableCatalog.PROP_PROVIDER, "parquet")
    m.put("numBuckets", numBuckets.toString)
    m
  }

  // NO ACCEPT_ANY_SCHEMA: that capability makes the analyzer skip
  // MergeIntoTable expression resolution entirely (the merge fails as
  // "unresolved t.url"). Narrow appends resolve through the bucket/day
  // NULL column defaults instead (see PagesTable.FULL).
  override def capabilities(): util.Set[TableCapability] =
    if (pinned.isDefined) util.EnumSet.of(TableCapability.BATCH_READ)
    else util.EnumSet.of(
      TableCapability.BATCH_READ,
      TableCapability.BATCH_WRITE,
      TableCapability.V1_BATCH_WRITE,
      TableCapability.TRUNCATE)

  /** The raw delegate parquet ScanBuilder over the live table's data dir —
    * the row-level MERGE/UPDATE/DELETE scan builds on this WITHOUT the
    * pushdown surface (copy-on-write must read every row of an affected
    * group; see [[GraftRowLevelOperation]]).
    */
  private[sources] def delegateScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder = {
    val spark = org.apache.spark.sql.SparkSession.active
    new java.io.File(dataDir).mkdirs()
    ParquetTable(name(), spark, options, Seq(dataDir),
      Some(fullSchema), classOf[ParquetFileFormat]).newScanBuilder(options)
  }

  override def newRowLevelOperationBuilder(
      info: org.apache.spark.sql.connector.write.RowLevelOperationInfo)
      : org.apache.spark.sql.connector.write.RowLevelOperationBuilder = {
    require(pinned.isEmpty,
      s"cannot run row-level ${info.command} on time-travel snapshot ${name()}")
    Recovery.recover(dir)
    () => new GraftRowLevelOperation(this, info.command)
  }

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder = {
    val spark = org.apache.spark.sql.SparkSession.active
    if (!new java.io.File(dataDir).isDirectory) {
      // empty table (created, never written): scan an empty relation through
      // the same code path by pointing at the (existing, empty) table dir
      new java.io.File(dataDir).mkdirs()
    }
    // Time travel: plan exactly the pinned snapshot's files. basePath keeps
    // bucket/day partition-column discovery identical to the live-table scan
    // (pruning and pushdown still apply — same v2 parquet source).
    val (paths, opts) = pinned match {
      case None => (Seq(dataDir), options)
      case Some((v, rel)) =>
        val abs = rel.map(r => s"$dataDir/$r")
        val missing = abs.filterNot(p => new java.io.File(p).isFile)
        require(missing.isEmpty,
          s"snapshot v$v of $tableName references files deleted by a later " +
            s"overwrite/truncate (history is append-only-durable): " +
            missing.take(3).mkString(", "))
        val m = new util.HashMap[String, String](options.asCaseSensitiveMap())
        m.put("basePath", dataDir)
        (abs, new CaseInsensitiveStringMap(m))
    }
    val delegate = ParquetTable(name(), spark, opts, paths,
      Some(fullSchema), classOf[ParquetFileFormat]).newScanBuilder(opts)
    if (!options.getBoolean("bucketedScan", false)) delegate
    else new ScanBuilder {
      // opt-in storage-partitioned-join scan (see BucketedPagesScan). The
      // bare wrapper intentionally exposes no pushdown traits: the SPJ use
      // case is a co-located full-bucket join, where partition grouping —
      // not filter pushdown — is the lever. The default path above keeps
      // the full pushdown/pruning surface (pinned by PageTableSpec).
      override def build(): Scan = new BucketedPagesScan(delegate.build(), numBuckets)
    }
  }

  // ---- DELETE FROM (retention): partition-scoped row-level delete --------
  //
  // `DELETE FROM cat.pages WHERE day < '2025-06-01'` (or bucket predicates)
  // removes whole bucket=/day= directories — the metadata-only delete every
  // table format runs for retention/GDPR-by-partition. Predicates touching
  // data columns are REFUSED via canDeleteWhere, so Spark raises the standard
  // "cannot delete" analysis error instead of a silent partial delete
  // (rewriting data files copy-on-write is a format concern out of scope).
  // Deletes commit a snapshot; like overwrite, they invalidate OLDER
  // snapshots referencing the removed files (loud at scan, see [[Snapshots]]).

  import org.apache.spark.sql.sources._

  private def deletable(f: Filter): Boolean = f match {
    case And(l, r) => deletable(l) && deletable(r)
    case Or(l, r) => deletable(l) && deletable(r)
    case Not(c) => deletable(c)
    case EqualTo(a, _) => a == "bucket" || a == "day"
    case EqualNullSafe(a, _) => a == "bucket" || a == "day"
    case LessThan(a, _) => a == "bucket" || a == "day"
    case LessThanOrEqual(a, _) => a == "bucket" || a == "day"
    case GreaterThan(a, _) => a == "bucket" || a == "day"
    case GreaterThanOrEqual(a, _) => a == "bucket" || a == "day"
    case In(a, _) => a == "bucket" || a == "day"
    case IsNull(a) => a == "bucket" || a == "day"
    case IsNotNull(a) => a == "bucket" || a == "day"
    case StringStartsWith(a, _) => a == "day"
    case _: AlwaysTrue => true
    case _: AlwaysFalse => true
    case _ => false
  }

  private def evalPart(f: Filter, b: Int, d: String): Boolean = {
    // null comparands (e.g. `day <=> NULL`, `IN (.., NULL)`) match nothing:
    // partition values are never null in this layout — without the guard the
    // compare would NPE mid-delete after some directories were already gone
    def cmp(attr: String, v: Any): Option[Int] =
      if (v == null) None
      else Some(attr match {
        case "bucket" => java.lang.Integer.compare(b, v.asInstanceOf[Number].intValue())
        case "day" => d.compareTo(v.toString) // yyyy-MM-dd sorts chronologically
      })
    f match {
      case EqualTo(a, v) => cmp(a, v).contains(0)
      case EqualNullSafe(a, v) => cmp(a, v).contains(0)
      case LessThan(a, v) => cmp(a, v).exists(_ < 0)
      case LessThanOrEqual(a, v) => cmp(a, v).exists(_ <= 0)
      case GreaterThan(a, v) => cmp(a, v).exists(_ > 0)
      case GreaterThanOrEqual(a, v) => cmp(a, v).exists(_ >= 0)
      case In(a, vs) => vs.exists(v => cmp(a, v).contains(0))
      case IsNull(_) => false // partition values are never null in this layout
      case IsNotNull(_) => true
      case And(l, r) => evalPart(l, b, d) && evalPart(r, b, d)
      case Or(l, r) => evalPart(l, b, d) || evalPart(r, b, d)
      case Not(c) => !evalPart(c, b, d)
      case StringStartsWith(_, v) => d.startsWith(v)
      case _: AlwaysTrue => true
      case _: AlwaysFalse => false
      case other => throw new UnsupportedOperationException(s"delete filter $other")
    }
  }

  override def canDeleteWhere(filters: Array[Filter]): Boolean =
    pinned.isEmpty && filters.forall(deletable)

  override def deleteWhere(filters: Array[Filter]): Unit = {
    Recovery.recover(dir)
    val data = new java.io.File(dataDir)
    if (data.isDirectory) {
      val rm = Snapshots.deleteRecursively _
      for {
        bDir <- data.listFiles.toSeq if bDir.getName.startsWith("bucket=")
        b = bDir.getName.stripPrefix("bucket=").toInt
        dDir <- bDir.listFiles.toSeq if dDir.getName.startsWith("day=")
        d = dDir.getName.stripPrefix("day=")
        if filters.forall(evalPart(_, b, d)) // AND semantics, like scans
      } rm(dDir)
      Recovery.pruneEmpty(data)
    }
    Snapshots.record(dir)
  }

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder = {
    if (pinned.isDefined)
      throw new UnsupportedOperationException(
        s"cannot write to time-travel snapshot ${name()}")
    Recovery.recover(dir)
    new WriteBuilder with SupportsTruncate {
      private var overwriteAll = false
      override def truncate(): WriteBuilder = { overwriteAll = true; this }
      override def build(): Write = new V1Write {
        override def toInsertableRelation: InsertableRelation =
          new InsertableRelation {
            override def insert(data: DataFrame, overwrite: Boolean): Unit = {
              val missing = Model.PAGES.fieldNames.filterNot(data.columns.contains)
              require(missing.isEmpty, s"pages insert missing columns: ${missing.mkString(",")}")
              // partition columns are always DERIVED (hidden partitioning):
              // a supplied bucket/day — NULL padding for narrow appends, or
              // another table's layout — is replaced, like the MERGE writer
              PageTable.place(data, numBuckets)
                .write
                .mode(if (overwriteAll || overwrite) SaveMode.Overwrite else SaveMode.Append)
                .partitionBy("bucket", "day")
                .parquet(dataDir)
              // commit the snapshot AFTER the data lands: a failed write
              // leaves the log pointing at the previous consistent version
              Snapshots.record(dir)
            }
          }
      }
    }
  }
}
