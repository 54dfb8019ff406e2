package graft.streaming

import graft.{Model, Page}
import graft.operators.{Curate, Extract}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

/** Incremental curation loop (SURVEY.md §2.9 ST12) — the daily-ingest shape
  * of the curate pipeline at 10^12-document scale: each microbatch of FRESH
  * pages is extracted, quality-gated, and exact-deduped both within the
  * batch and against the ACCUMULATED fingerprint history, then appended.
  * The corpus is never re-scanned:
  *
  *   - per-batch cost scales with the batch — the history side of the
  *     anti-join is a fingerprint-only table (one md5 per kept doc ever);
  *     at extreme history sizes the join pre-filters with the batch-side
  *     bloom exactly as [[graft.operators.Dedup.bloomIncr]] demonstrates;
  *   - crash-replay is idempotent: a replayed batch carries the same
  *     batchId over the same checkpointed file list, rewrites exactly its
  *     own `batch_id` partitions in BOTH sinks, and the history read
  *     EXCLUDES its own and later partitions (`batch_id < current`), so a
  *     half-written batch cannot anti-join itself away on retry;
  *   - the quality gate (length floor) is per-row map-side; within-batch
  *     dedup is one fp-keyed window; the history anti-join shares that
  *     fp partitioning;
  *   - both sinks write [[graft.operators.Curate.CODEC]] (zstd), as the
  *     batch pipeline does: the corpus is the bytes a run leaves behind and
  *     every later batch reads the fingerprint history back.
  */
object StreamingCurate {

  /** @param filesPerTrigger batch size in FILES: semantics are batch-size-
    *                         independent (the test runs multi-batch at 8),
    *                         but per-batch fixed cost is real — a drop
    *                         should fold in, in as few batches as fit
    *                         executor memory.
    */
  def start(
      spark: SparkSession,
      pagesDir: String,
      outDir: String,
      checkpointDir: String,
      fpDir: String,
      filesPerTrigger: Int = 1024
  ): StreamingQuery = {
    import spark.implicits._
    val pages = spark.readStream
      .schema(Model.PAGES)
      .option("maxFilesPerTrigger", filesPerTrigger.toString)
      .parquet(s"$pagesDir/data")
      .select("url", "warc_ts", "html", "text", "lang")
      .as[Page]

    pages.writeStream
      .queryName("graft-stream-curate")
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[Page], batchId: Long) =>
        val spark = batch.sparkSession
        import org.apache.spark.sql.expressions.Window
        val gated = Extract.extract(batch).toDF()
          .filter(col("contentKind") =!= "empty" && length(col("text")) > 0)
          .withColumn("n_tok", Curate.nTokCol)
          .filter(col("n_tok") >= Curate.MIN_TOKENS)
          .withColumn("fp", md5(col("text")))
        val w = Window.partitionBy("fp").orderBy("url")
        val batchUnique = gated
          .withColumn("rn", row_number().over(w))
          .filter(col("rn") === 1).drop("rn")
        // history = fingerprints of STRICTLY EARLIER batches (partition
        // pruning on batch_id): replay-safe by construction
        val fresh =
          if (!new java.io.File(fpDir).exists()) batchUnique
          else {
            // explicit schema: an all-gated-out batch leaves an empty
            // partition dir, and schema INFERENCE over it would fail the
            // next batch — the history table's shape is ours to pin
            val hist = spark.read.schema("fp STRING, batch_id BIGINT")
              .parquet(fpDir)
              .filter(col("batch_id") < batchId)
              .select("fp")
            batchUnique.join(hist, Seq("fp"), "left_anti")
          }
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
        val out = fresh
          .withColumn("batch_id", lit(batchId))
          .select("batch_id", "url", "warc_ts", "lang", "contentKind",
            "n_tok", "fp", "text")
          .localCheckpoint() // one computation feeds both sinks
        out.write.mode("overwrite").option("compression", Curate.CODEC)
          .partitionBy("batch_id").parquet(outDir)
        out.select("batch_id", "fp")
          .write.mode("overwrite").option("compression", Curate.CODEC)
          .partitionBy("batch_id").parquet(fpDir)
        ()
      }
      .start()
  }

  /** Stable fingerprint of the input file set (name+size per data file,
    * sorted). Written after a successful run; compared before the next one:
    * when the listing is unchanged there is nothing to ingest and the
    * stream (whose no-data AvailableNow cycle still costs a ~30 s microbatch
    * bootstrap) is skipped entirely — the no-op rerun's cost drops to one
    * directory listing. A REPLACED file (compaction) changes the listing,
    * so the stream runs and its checkpoint does the exact accounting.
    */
  def listingFingerprint(pagesDir: String): String = {
    val root = java.nio.file.Paths.get(pagesDir, "data")
    if (!java.nio.file.Files.isDirectory(root)) return ""
    val walk = java.nio.file.Files.walk(root)
    try {
      import scala.jdk.CollectionConverters._
      walk.iterator().asScala
        .filter(p => java.nio.file.Files.isRegularFile(p) && {
          val n = p.getFileName.toString
          !n.startsWith(".") && !n.startsWith("_")
        })
        // path RELATIVE to the table (partition dirs included) + size: a
        // file appended into any bucket/day partition changes the print
        .map(p => s"${root.relativize(p)}:${java.nio.file.Files.size(p)}")
        .toSeq.sorted.mkString("\n")
    } finally walk.close()
  }

  private def markerFile(checkpointDir: String) =
    new java.io.File(checkpointDir, "graft-input-listing")

  /** The committed marker's content, if any. Exposed so a caller can walk
    * the (possibly huge) input tree ONCE and reuse the same fingerprint for
    * both the up-to-date check and the post-run commit.
    */
  def committedListing(checkpointDir: String): Option[String] = {
    val m = markerFile(checkpointDir)
    if (!m.isFile) None
    else Some(new String(java.nio.file.Files.readAllBytes(m.toPath),
      java.nio.charset.StandardCharsets.UTF_8))
  }

  /** True when the checkpointed listing equals the current one — i.e. a
    * rerun with zero new files. Missing marker (first run, or a crash
    * before the marker commit) reads as "maybe new": the stream runs and
    * its own checkpoint guarantees idempotence.
    */
  def upToDate(pagesDir: String, checkpointDir: String): Boolean =
    committedListing(checkpointDir).contains(listingFingerprint(pagesDir))

  /** Commit a listing fingerprint after a successful run
    * ([[graft.sources.Recovery.writeAtomic]] — a crash mid-write must never
    * leave a corrupt marker; none at all only costs one redundant no-data
    * stream cycle).
    *
    * IMPORTANT: commit the fingerprint captured BEFORE the stream started,
    * never a fresh one — a file appended mid-run is NOT in the stream's
    * planned batch, and fingerprinting it at commit time would mark it
    * processed and skip it forever. With the start-time print, a mid-run
    * append mismatches at the next rerun and the stream ingests it (a file
    * landing between capture and stream start costs one redundant cycle —
    * the checkpoint keeps that idempotent).
    */
  def commitListing(listingAtStart: String, checkpointDir: String): Unit = {
    graft.sources.Recovery.writeAtomic(markerFile(checkpointDir),
      listingAtStart.getBytes(java.nio.charset.StandardCharsets.UTF_8))
  }

  /** Run to completion and return the curated table so far. */
  def runOnce(spark: SparkSession, pagesDir: String, outDir: String,
              checkpointDir: String, fpDir: String,
              filesPerTrigger: Int = 1024): DataFrame = {
    val q = start(spark, pagesDir, outDir, checkpointDir, fpDir, filesPerTrigger)
    q.awaitTermination()
    spark.read.parquet(outDir)
  }
}
