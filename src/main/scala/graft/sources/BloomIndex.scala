package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.util.sketch.BloomFilter

/** Per-file URL bloom sidecars — the point-lookup file-skipping index
  * (Delta bloom-filter index / Iceberg file-level bloom shape).
  *
  * The bucket layout already prunes a url lookup to ONE bucket directory,
  * but a bucket holds every day's files; min/max zone maps can't help on a
  * hashed key. A KB-sized bloom per data file closes the gap: a lookup
  * probes the candidate files' sidecars and scans only the (usually one)
  * file that might contain the url.
  *
  * Build is ONE distributed pass over the latest snapshot (url +
  * `input_file_name`, grouped per file, bloom built executor-side); the
  * driver only lands the finished KB-sized sidecars next to the snapshot
  * log (`_bloom/`, hidden from data scans by the `_` rule). At 10^12 rows /
  * 10^6 files the same pass shards by file exactly the same way, sidecars
  * land on the object store, and a lookup reads bucket-dir sidecars only —
  * a few MB of index for any single-url probe.
  *
  * Correctness is never delegated to the index: files WITHOUT a sidecar
  * (appended after the last build) are scanned unconditionally — index
  * staleness degrades performance, not results. Rebuild with `Main
  * bloomindex` after appends/compaction.
  */
object BloomIndex {

  /** Per-item false-positive rate: at 1e-3, a one-bucket candidate set of
    * ~30 files sees a spurious extra scan in ~3 % of lookups.
    */
  val FPP = 0.001

  private def bloomDir(tableDir: String) = new java.io.File(tableDir, "_bloom")

  /** Sidecar path for a dataDir-relative file path (flattened: the rel path
    * is the identity, directories would just mirror the data tree).
    */
  private def sidecar(tableDir: String, rel: String) =
    new java.io.File(bloomDir(tableDir), rel.replaceAll("[/\\\\]", "__") + ".bf")

  /** Build sidecars for every file of the LATEST snapshot. Returns the
    * number of files indexed.
    */
  def build(spark: SparkSession, tableDir: String): Int = {
    val v = Snapshots.latestVersion(tableDir).getOrElse(
      sys.error(s"bloomindex: $tableDir has no snapshots"))
    val (_, rel) = Snapshots.files(tableDir, v).getOrElse(
      sys.error(s"bloomindex: $tableDir has no snapshot v$v"))
    val base = new java.io.File(tableDir, "data").getAbsolutePath
    import spark.implicits._
    val perFile = spark.read.parquet(rel.map(p => s"$base/$p"): _*)
      .select(input_file_name().as("f"), col("url"))
      .as[(String, String)]
      .groupByKey(_._1)
      .mapGroups { (f, it) =>
        val urls = it.map(_._2).toArray
        val bf = BloomFilter.create(math.max(urls.length, 64).toLong, FPP)
        urls.foreach(bf.putString)
        val bos = new java.io.ByteArrayOutputStream()
        bf.writeTo(bos)
        (f, bos.toByteArray)
      }
      .collect()
    bloomDir(tableDir).mkdirs()
    perFile.foreach { case (uri, bytes) =>
      val path = new java.net.URI(uri).getPath
      require(path.startsWith(base + "/"), s"unexpected file uri $uri")
      val relPath = path.stripPrefix(base + "/")
      Recovery.writeAtomic(sidecar(tableDir, relPath), bytes)
    }
    perFile.length
  }

  /** Point lookup: rows of the latest snapshot matching any of `urls`,
    * scanning only bucket-matching files whose bloom might contain one (or
    * that have no sidecar — the staleness fallback). Returns
    * (rows, filesScanned, filesInSnapshot).
    */
  def lookup(spark: SparkSession, tableDir: String, urls: Seq[String])
      : (DataFrame, Int, Int) = {
    require(urls.nonEmpty, "lookup needs at least one url")
    val v = Snapshots.latestVersion(tableDir).getOrElse(
      sys.error(s"lookup: $tableDir has no snapshots"))
    val (_, rel) = Snapshots.files(tableDir, v).get
    val base = new java.io.File(tableDir, "data").getAbsolutePath
    // bucket pruning via the table's OWN layout function (computed by the
    // same Spark expression the writer used — never a reimplementation)
    import spark.implicits._
    val nb = PageTable.readBucketMeta(tableDir).getOrElse(
      sys.error(s"lookup: $tableDir has no bucket meta"))
    val buckets = urls.toDF("url")
      .select(PageTable.bucketCol(nb).cast("long")).as[Long].collect().toSet
    val cand = rel.filter(p =>
      buckets.exists(b => p.startsWith(s"bucket=$b/")))
    val survivors = cand.filter { p =>
      val sc = sidecar(tableDir, p)
      if (!sc.isFile) true // unindexed (post-build append): must scan
      else {
        val in = new java.io.FileInputStream(sc)
        try { val bf = BloomFilter.readFrom(in); urls.exists(bf.mightContainString) }
        finally in.close()
      }
    }
    val df =
      if (survivors.isEmpty)
        spark.read.parquet(base).filter(lit(false))
      else
        spark.read.option("basePath", base)
          .parquet(survivors.map(p => s"$base/$p"): _*)
          .filter(col("url").isin(urls: _*))
    (df, survivors.size, rel.size)
  }
}
