package graft.sources

import graft.{Model, Page}
import org.apache.spark.sql.{DataFrame, Dataset, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** Iceberg-*shaped* pages table over plain Parquet (SURVEY.md §1.2): no
  * Iceberg runtime jar exists offline, so the layout mirrors what an Iceberg
  * catalog would maintain — hash-bucket + day partitioning for pruning, plus
  * a manifest table carrying per-partition lineage and metrics. The API is
  * kept narrow (read/write/buckets) so a real `spark.read.table("pages")` on
  * an Iceberg catalog drops in without touching callers — and since round 3
  * that path exists offline too: [[GraftCatalog]] is a DataSource-v2
  * `TableCatalog` over this exact layout ([[register]] +
  * `spark.read.table("<catalog>.<name>")`).
  *
  * Layout: `dir/data/bucket=<b>/day=<yyyy-MM-dd>/` parquet files, where
  * `b = pmod(xxhash64(url), numBuckets)` — at 10^12-document scale the bucket
  * is the unit of work, retry, and resume (B:14).
  */
object PageTable {

  val DEFAULT_BUCKETS = 32

  /** Register a [[GraftCatalog]] under `catalog`, serving every PageTable
    * layout directly under `warehouse` as `<catalog>.<dirname>`.
    */
  def register(spark: SparkSession, catalog: String, warehouse: String): Unit = {
    spark.conf.set(s"spark.sql.catalog.$catalog", classOf[GraftCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$catalog.warehouse", warehouse)
  }

  def bucketCol(numBuckets: Int) =
    pmod(xxhash64(col("url")), lit(numBuckets.toLong)).cast("int")

  /** The `day` partition value of a row, from its `warc_ts`. */
  def dayCol = date_format(col("warc_ts"), "yyyy-MM-dd")

  /** Place NEW pages rows in the layout: `bucket` from the layout function
    * and `day` from `warc_ts`, each replacing any value the caller supplied
    * (readers locate a url by the layout function alone), clustered by
    * bucket so a bucket's rows land in one write task. Every writer of new
    * rows uses it: [[write]], catalog inserts, branch appends and
    * `Main append-pages`; the MERGE writer ([[CowDataWriter]]) applies the
    * same function per row.
    */
  def place(rows: DataFrame, numBuckets: Int): DataFrame =
    rows
      .withColumn("bucket", bucketCol(numBuckets))
      .withColumn("day", dayCol)
      .repartition(col("bucket"))

  def write(pages: Dataset[Page], dir: String,
            numBuckets: Int = DEFAULT_BUCKETS): Unit = {
    place(pages.toDF(), numBuckets)
      .write
      .mode(SaveMode.Overwrite)
      .partitionBy("bucket", "day")
      .parquet(s"$dir/data")
    writeBucketMeta(dir, numBuckets)
    // every write path commits a snapshot: CLI-built tables are immediately
    // time-travelable (VERSION AS OF) and vacuum-able, same as catalog writes
    Snapshots.record(dir)
  }

  /** The bucket count is part of the table's identity (the layout function
    * `b = pmod(xxhash64(url), numBuckets)` is how readers LOCATE a url):
    * persist it next to the data so catalog appends and resume runs derive
    * the SAME bucket for new rows as the original writer did.
    */
  def writeBucketMeta(dir: String, numBuckets: Int): Unit = {
    val f = new java.io.File(dir, "_table")
    f.getParentFile.mkdirs()
    java.nio.file.Files.write(f.toPath,
      s"""{"numBuckets": $numBuckets}""".getBytes("UTF-8"))
  }

  /** numBuckets recorded at write time; None for pre-metadata layouts. */
  def readBucketMeta(dir: String): Option[Int] = {
    val f = new java.io.File(dir, "_table")
    if (!f.isFile) None
    else
      "\"numBuckets\"\\s*:\\s*(\\d+)".r
        .findFirstMatchIn(new String(java.nio.file.Files.readAllBytes(f.toPath), "UTF-8"))
        .map(_.group(1).toInt)
  }

  /** Schema-evolution metadata (S18): the EXTRA data columns appended by
    * `ALTER TABLE ... ADD COLUMNS`, persisted as a StructType JSON in
    * `_schema` next to the data — the five contract columns (B:15) and the
    * bucket/day layout stay fixed; evolution is append-only, like Iceberg's
    * safest subset. Committed atomically (tmp+rename): a crash mid-ALTER
    * leaves the previous schema, never a torn one. Schema lives OUTSIDE the
    * snapshot log on purpose (rollback restores data, not schema — the
    * Iceberg/Delta RESTORE contract).
    */
  def writeSchemaMeta(dir: String, extras: org.apache.spark.sql.types.StructType): Unit = {
    Recovery.writeAtomic(new java.io.File(dir, "_schema"), extras.json.getBytes("UTF-8"))
  }

  /** Extra columns added after table creation; empty for unevolved tables. */
  def readSchemaMeta(dir: String): org.apache.spark.sql.types.StructType = {
    val f = new java.io.File(dir, "_schema")
    if (!f.isFile) new org.apache.spark.sql.types.StructType()
    else org.apache.spark.sql.types.DataType
      .fromJson(new String(java.nio.file.Files.readAllBytes(f.toPath), "UTF-8"))
      .asInstanceOf[org.apache.spark.sql.types.StructType]
  }

  /** Typed read; partition columns are re-derivable, so callers get exactly
    * the contract schema back. Filters on url/lang push to Parquet; filters
    * on bucket/day prune whole directories (verified in PageTableSpec).
    */
  def read(spark: SparkSession, dir: String): Dataset[Page] = {
    import spark.implicits._
    spark.read
      .schema(Model.PAGES.add("bucket", "int").add("day", "string"))
      .parquet(s"$dir/data")
      .select("url", "warc_ts", "html", "text", "lang")
      .as[Page]
  }

  /** Raw frame including partition columns (for pruning / resume joins). */
  def readRaw(spark: SparkSession, dir: String): DataFrame =
    spark.read.parquet(s"$dir/data")

  /** Incremental snapshot scan (the Iceberg incremental-read / CDC-append
    * shape): the rows ADDED between snapshot `fromV` (exclusive; -1 = from
    * the beginning) and `toV` (inclusive; latest if omitted) — i.e. exactly
    * the files present in `toV`'s manifest but not in `fromV`'s. This is the
    * consumption primitive an incremental pipeline wants from a 100 TB pages
    * table: each cycle reads ONLY the new crawl drop's files (planned as a
    * normal pruned parquet scan with partition columns intact via basePath),
    * never rescans the corpus, and is exact under concurrent appends because
    * snapshot manifests are immutable once committed. Files REMOVED between
    * the snapshots (compaction rewrites, deletes) are ignored — this is an
    * append-changes read, not a row-level diff; a compaction between the two
    * versions rewrites survivors into new files and would surface them
    * again, so consumers checkpoint (version) pairs across maintenance
    * windows, exactly as Iceberg documents for its incremental scans.
    */
  def readChanges(spark: SparkSession, dir: String,
                  fromV: Int, toV: Int = -1): DataFrame = {
    val to = if (toV >= 0) toV else Snapshots.latestVersion(dir).getOrElse(
      throw new IllegalArgumentException(s"$dir has no snapshots — nothing to read"))
    val (_, toFiles) = Snapshots.files(dir, to).getOrElse(
      throw new IllegalArgumentException(s"$dir has no snapshot v$to"))
    val fromFiles: Set[String] =
      if (fromV < 0) Set.empty
      else Snapshots.files(dir, fromV).getOrElse(
        throw new IllegalArgumentException(s"$dir has no snapshot v$fromV"))._2.toSet
    val added = toFiles.filterNot(fromFiles)
    val data = s"$dir/data"
    // schema PINNED like [[read]]: without it, partition-type inference
    // turns day=yyyy-MM-dd into DateType and the delta frame's schema
    // silently disagrees with every other read of the same table. The pin
    // is the LIVE evolved schema (fullFor), not the contract constant —
    // a delta read that pinned Model.PAGES would silently drop columns
    // added by ALTER TABLE from the incremental/CDC path
    val full = PagesTable.fullFor(dir)
    if (added.isEmpty)
      spark.read.schema(full).option("basePath", data).parquet(data).limit(0)
    else
      spark.read.schema(full).option("basePath", data)
        .parquet(added.map(f => s"$data/$f"): _*)
  }
}

/** Per-partition lineage + metrics manifest (SURVEY.md §2.1 S5): one row per
  * completed bucket per run. Append-only Parquet; the resume path anti-joins
  * pages against it (J5), so a killed run re-processes only missing buckets.
  */
object Manifest {

  def append(spark: SparkSession, manifestDir: String, rows: Seq[ManifestRow]): Unit = {
    import spark.implicits._
    rows.toDS().coalesce(1).write.mode(SaveMode.Append).parquet(manifestDir)
  }

  def doneBuckets(spark: SparkSession, manifestDir: String): DataFrame = {
    import spark.implicits._
    if (!exists(spark, manifestDir)) Seq.empty[Int].toDF("bucket")
    else
      spark.read.parquet(manifestDir).select("bucket").distinct()
  }

  def read(spark: SparkSession, manifestDir: String): DataFrame =
    spark.read.parquet(manifestDir)

  def exists(spark: SparkSession, dir: String): Boolean = {
    val p = new org.apache.hadoop.fs.Path(dir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.exists(p) && fs.listStatus(p).exists(_.getPath.getName.endsWith(".parquet"))
  }
}

case class ManifestRow(
    bucket: Int,
    runId: String,
    nDocs: Long,
    nChars: Long,
    nBlocks: Long,
    nDropped: Long,
    completedAtMs: Long
)
