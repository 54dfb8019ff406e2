package graft

import graft.operators.{ResumableExtract, ScalarExtract}
import graft.sources.{Corpus, Manifest, PageTable}
import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

/** PageTable façade + manifest lineage + kill-and-resume (SURVEY.md M4). */
class PageTableSpec extends AnyFunSuite {
  private val spark = SparkFixture.spark
  import spark.implicits._

  private val N = 200L
  private val tmp = Files.createTempDirectory("graft-pt").toString

  test("write/read round-trips the pages table; partition pruning works") {
    val pages = Corpus.pages(spark, N)
    PageTable.write(pages, s"$tmp/pages", numBuckets = 8)

    val back = PageTable.read(spark, s"$tmp/pages")
    assert(back.count() == N)
    assert(back.columns.toSeq == Seq("url", "warc_ts", "html", "text", "lang"))
    // content identical
    val origUrls = pages.select("url").as[String].collect().sorted.toSeq
    val backUrls = back.select("url").as[String].collect().sorted.toSeq
    assert(origUrls == backUrls)

    // partition pruning: filter on bucket appears as PartitionFilters
    val pruned = PageTable.readRaw(spark, s"$tmp/pages").filter(col("bucket") === 3)
    val plan = pruned.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("bucket"), plan)
    assert(pruned.count() > 0)
  }

  test("DSv2 catalog: spark.read.table works with partition pruning") {
    val wh = s"$tmp/warehouse"
    PageTable.write(Corpus.pages(spark, N), s"$wh/pages", numBuckets = 8)
    PageTable.register(spark, "pcat", wh)

    // a PageTable layout under the warehouse IS a catalog table
    val t = spark.read.table("pcat.pages")
    assert(t.count() == N)
    assert(t.columns.toSeq ==
      Seq("url", "warc_ts", "html", "text", "lang", "bucket", "day"))

    // SQL resolution through the catalog; bucket filter prunes directories
    val pruned = spark.sql("SELECT url FROM pcat.pages WHERE bucket = 3")
    assert(pruned.count() > 0)
    val scans = pruned.queryExecution.executedPlan.collectLeaves()
    val scanStr = scans.mkString("\n")
    assert(scanStr.contains("BatchScan") || scanStr.contains("Scan parquet"), scanStr)
    // pruning proof: the PLANNED file partitions contain only bucket=3 files,
    // while the table layout holds other buckets
    val batchScan = scans.collectFirst {
      case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec => b
    }.get
    val allFiles = batchScan.scan match {
      case f: org.apache.spark.sql.execution.datasources.v2.FileScan =>
        f.fileIndex.inputFiles.toSeq // the full layout, before pruning
      case _ => Nil
    }
    assert(allFiles.exists(!_.contains("bucket=3")), "layout has other buckets")
    val plannedFiles = batchScan.partitions.flatten.flatMap {
      case fp: org.apache.spark.sql.execution.datasources.FilePartition =>
        fp.files.map(_.filePath.toString)
      case _ => Nil
    }
    assert(plannedFiles.nonEmpty)
    assert(plannedFiles.forall(_.contains("bucket=3")),
      s"unpruned files planned: ${plannedFiles.filterNot(_.contains("bucket=3")).take(3)}")

    // catalog surface: list / exists / load
    assert(spark.sql("SHOW TABLES IN pcat").collect().map(_.getString(1)).contains("pages"))
  }

  test("metadata tables: $snapshots / $files / $refs query the snapshot log via SQL") {
    val wh = s"$tmp/warehouse-meta"
    PageTable.register(spark, "pmeta", wh)
    spark.sql(
      """CREATE TABLE pmeta.pages (
        |  url string, warc_ts timestamp, html binary, text string, lang string,
        |  bucket int, day string
        |) PARTITIONED BY (bucket, day)""".stripMargin)
    Corpus.pages(spark, 30L).writeTo("pmeta.pages").append() // -> v1
    Corpus.pages(spark, 20L, seed = 42L).writeTo("pmeta.pages").append() // -> v2
    graft.sources.Snapshots.tag(s"$wh/pages", "train-v1", 1)

    // $snapshots: one row per committed version, nothing missing yet
    val snaps = spark.sql(
      "SELECT * FROM pmeta.`pages$snapshots` ORDER BY version").collect()
    assert(snaps.map(_.getInt(0)).toSeq == Seq(1, 2))
    assert(snaps.forall(_.getInt(4) == 0), "no files missing yet")
    assert(snaps(0).getInt(2) < snaps(1).getInt(2), "v2 references more files")
    assert(snaps(0).getTimestamp(1).getTime <= snaps(1).getTimestamp(1).getTime)
    assert(snaps.forall(_.getLong(3) > 0L), "bytes on disk counted")

    // $files: exactly the live walk, partition values parsed, all snapshot-
    // referenced — then planted debris (a crash-orphan copy) shows up as
    // in_snapshot=false, which is precisely vacuum's delete set
    val files0 = spark.sql("SELECT * FROM pmeta.`pages$files`").collect()
    val walked = graft.sources.Snapshots.walkData(new java.io.File(s"$wh/pages/data"))
    assert(files0.length == walked.size && files0.nonEmpty)
    assert(files0.forall(_.getBoolean(4)), "all live files are referenced")
    assert(files0.forall(r => !r.isNullAt(1) && !r.isNullAt(2)), "bucket/day parsed")
    assert(files0.forall(_.getLong(3) > 0L))
    val victim = walked.head
    val orphan = new java.io.File(victim.getParentFile, "part-orphan-test.parquet")
    java.nio.file.Files.copy(victim.toPath, orphan.toPath)
    val debris = spark.sql(
      "SELECT path FROM pmeta.`pages$files` WHERE NOT in_snapshot").collect()
    assert(debris.map(_.getString(0)).toSeq.exists(_.contains("part-orphan-test")))
    assert(orphan.delete())

    // $refs: the tag row points at v1 with its commit time + file count
    val refs = spark.sql("SELECT * FROM pmeta.`pages$refs`").collect()
    assert(refs.length == 1)
    assert(refs(0).getString(0) == "train-v1" && refs(0).getInt(1) == 1)
    assert(refs(0).getInt(3) == snaps(0).getInt(2))

    // $partitions: (bucket, day) rollup of the LATEST snapshot — totals
    // must reconcile exactly with $snapshots' latest row, and every live
    // file's partition must appear (the skew profile compaction reads)
    val parts = spark.sql(
      "SELECT * FROM pmeta.`pages$partitions` ORDER BY bucket, day").collect()
    assert(parts.nonEmpty && parts.forall(_.getInt(2) > 0))
    assert(parts.map(_.getInt(2)).sum == snaps(1).getInt(2), "file totals reconcile")
    assert(parts.map(_.getLong(3)).sum == snaps(1).getLong(3), "byte totals reconcile")
    val partKeys = parts.map(r => (r.getInt(0), r.getString(1))).toSet
    assert(files0.map(r => (r.getInt(1), r.getString(2))).toSet == partKeys)

    // overwrite deletes v1/v2's files: $snapshots now surfaces the S11
    // retention caveat as non-zero n_missing instead of a surprise at scan
    Corpus.pages(spark, 10L, seed = 7L).toDF().writeTo("pmeta.pages")
      .overwrite(lit(true)) // -> v3
    val after = spark.sql(
      "SELECT version, n_missing FROM pmeta.`pages$snapshots` ORDER BY version")
      .collect()
    assert(after.map(_.getInt(0)).toSeq == Seq(1, 2, 3))
    assert(after(0).getInt(1) > 0 && after(2).getInt(1) == 0)

    // unknown base table fails loudly; metadata names never shadow real ones
    val e = intercept[Exception](spark.sql("SELECT * FROM pmeta.`nope$files`").collect())
    assert(e.getMessage.toLowerCase.contains("table"), e.getMessage)
    spark.sql("DROP TABLE pmeta.pages")
  }

  test("DSv2 catalog time travel: VERSION/TIMESTAMP AS OF over the snapshot log") {
    val wh = s"$tmp/warehouse3"
    PageTable.register(spark, "pcat3", wh)
    spark.sql(
      """CREATE TABLE pcat3.pages (
        |  url string, warc_ts timestamp, html binary, text string, lang string,
        |  bucket int, day string
        |) PARTITIONED BY (bucket, day)""".stripMargin)

    Corpus.pages(spark, 30L).writeTo("pcat3.pages").append() // -> v1
    val tsMid = System.currentTimeMillis()
    Thread.sleep(15)
    Corpus.pages(spark, 20L, seed = 42L).writeTo("pcat3.pages").append() // -> v2

    val batch1Urls = Corpus.pages(spark, 30L).select("url").as[String].collect().sorted.toSeq
    assert(spark.read.table("pcat3.pages").count() == 50)
    // VERSION AS OF: v1 is exactly the first batch, v2 the union
    val v1 = spark.sql("SELECT url FROM pcat3.pages VERSION AS OF 1")
    assert(v1.as[String].collect().sorted.toSeq == batch1Urls)
    assert(spark.sql("SELECT * FROM pcat3.pages VERSION AS OF 2").count() == 50)
    // reader-option path resolves the same way
    assert(spark.read.option("versionAsOf", "1").table("pcat3.pages").count() == 30)
    // TIMESTAMP AS OF between the writes resolves to v1
    assert(spark.sql(
      s"SELECT * FROM pcat3.pages TIMESTAMP AS OF timestamp_millis(${tsMid}L)")
      .count() == 30)
    // partition pruning still applies on the pinned-file scan
    val prunedPlan = spark.sql(
      "SELECT url FROM pcat3.pages VERSION AS OF 1 WHERE bucket = 3")
      .queryExecution.executedPlan.toString
    assert(prunedPlan.contains("PartitionFilters") && prunedPlan.contains("bucket"),
      prunedPlan)
    // unknown version fails loudly, naming the latest
    val e = intercept[Exception](
      spark.sql("SELECT * FROM pcat3.pages VERSION AS OF 99").collect())
    assert(e.getMessage.contains("no snapshot v99"), e.getMessage)
    // a snapshot table is read-only
    val cat = spark.sessionState.catalogManager.catalog("pcat3")
      .asInstanceOf[org.apache.spark.sql.connector.catalog.TableCatalog]
    val pin = cat.loadTable(
      org.apache.spark.sql.connector.catalog.Identifier.of(Array.empty, "pages"), "1")
    assert(pin.capabilities().size() == 1) // BATCH_READ only
    // truncate-overwrite commits v3 and (documented) invalidates older
    // snapshots whose files it deleted — the error names the snapshot
    Corpus.pages(spark, 10L, seed = 7L).toDF().writeTo("pcat3.pages")
      .overwrite(lit(true)) // -> v3
    assert(spark.sql("SELECT * FROM pcat3.pages VERSION AS OF 3").count() == 10)
    val gone = intercept[Exception](
      spark.sql("SELECT * FROM pcat3.pages VERSION AS OF 1").collect())
    assert(gone.getMessage.contains("snapshot v1"), gone.getMessage)
    spark.sql("DROP TABLE pcat3.pages")
  }

  test("incremental snapshot scan: readChanges returns exactly the appended rows") {
    val wh = s"$tmp/warehouse-chg"
    PageTable.register(spark, "pcatc", wh)
    spark.sql(
      """CREATE TABLE pcatc.pages (
        |  url string, warc_ts timestamp, html binary, text string, lang string,
        |  bucket int, day string
        |) PARTITIONED BY (bucket, day)""".stripMargin)
    Corpus.pages(spark, 30L).writeTo("pcatc.pages").append()               // v1
    Corpus.pages(spark, 20L, seed = 42L).writeTo("pcatc.pages").append()   // v2
    Corpus.pages(spark, 10L, seed = 7L).writeTo("pcatc.pages").append()    // v3
    val dir = s"$wh/pages"
    // v1→v2 delta is exactly batch 2
    val b2 = Corpus.pages(spark, 20L, seed = 42L)
      .select("url").as[String].collect().sorted.toSeq
    val d12 = PageTable.readChanges(spark, dir, 1, 2)
    assert(d12.select("url").as[String].collect().sorted.toSeq == b2)
    // partition columns survive the delta scan (basePath) AND keep the
    // pinned types — without the schema pin, inference turns day into
    // DateType and the delta frame disagrees with every other table read
    assert(d12.schema("day").dataType.typeName == "string", d12.schema.treeString)
    assert(d12.schema("bucket").dataType.typeName == "integer", d12.schema.treeString)
    // open-ended reads everything after the checkpointed version
    assert(PageTable.readChanges(spark, dir, 1).count() == 30)
    // from the beginning = the whole table; an empty window is empty
    assert(PageTable.readChanges(spark, dir, -1).count() == 60)
    assert(PageTable.readChanges(spark, dir, 3, 3).count() == 0)
    // partition pruning reaches the delta scan
    val plan = PageTable.readChanges(spark, dir, 1, 2)
      .filter(col("bucket") === 3).queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters"), plan)
    // unknown versions fail loudly
    val e = intercept[IllegalArgumentException](
      PageTable.readChanges(spark, dir, 1, 99))
    assert(e.getMessage.contains("no snapshot v99"), e.getMessage)
    spark.sql("DROP TABLE pcatc.pages")
  }

  test("incremental extract: snapshot delta extracts byte-identical to the drop itself") {
    // the product composition S16 exists for: a crawl drop appends (-> new
    // snapshot), extraction consumes ONLY the delta — and must produce
    // exactly what extracting the drop directly produces
    val wh = s"$tmp/warehouse-incx"
    PageTable.register(spark, "pcatx", wh)
    spark.sql(
      """CREATE TABLE pcatx.pages (
        |  url string, warc_ts timestamp, html binary, text string, lang string,
        |  bucket int, day string
        |) PARTITIONED BY (bucket, day)""".stripMargin)
    Corpus.pages(spark, 30L).writeTo("pcatx.pages").append()             // v1
    Corpus.pages(spark, 20L, seed = 42L).writeTo("pcatx.pages").append() // v2
    val delta = PageTable.readChanges(spark, s"$wh/pages", 1, 2)
      .select("url", "warc_ts", "html", "text", "lang").as[graft.Page]
    val inc = graft.operators.Extract.extract(delta)
      .collect().map(_.toString).sorted.toSeq
    val ref = graft.operators.Extract.extract(Corpus.pages(spark, 20L, seed = 42L))
      .collect().map(_.toString).sorted.toSeq
    assert(inc == ref)
    spark.sql("DROP TABLE pcatx.pages")
  }

  test("DSv2 catalog DELETE FROM: partition-scoped retention, data predicates refused") {
    val wh = s"$tmp/warehouse4"
    PageTable.register(spark, "pcat4", wh)
    PageTable.write(Corpus.pages(spark, 300L), s"$wh/pages", numBuckets = 8)
    // a later crawl day, so the retention leg has something to expire
    Corpus.pages(spark, 80L, seed = 9L).toDF()
      .withColumn("warc_ts", expr("warc_ts + INTERVAL 1 DAY"))
      .writeTo("pcat4.pages").append()

    val before = spark.read.table("pcat4.pages")
    val total = before.count()
    val inB3 = before.filter(col("bucket") === 3).count()
    assert(inB3 > 0 && inB3 < total)
    val days = before.select("day").distinct().as[String].collect().sorted
    assert(days.length >= 2, s"need >=2 days for the retention leg, got ${days.toSeq}")

    // bucket-scoped delete removes exactly that bucket's rows (and its dirs)
    spark.sql("DELETE FROM pcat4.pages WHERE bucket = 3")
    val afterB = spark.read.table("pcat4.pages")
    assert(afterB.count() == total - inB3)
    assert(afterB.filter(col("bucket") === 3).count() == 0)
    assert(!new java.io.File(s"$wh/pages/data/bucket=3").exists())

    // day-scoped retention: drop everything before the last day
    val lastDay = days.last
    val keep = afterB.filter(col("day") === lastDay).count()
    spark.sql(s"DELETE FROM pcat4.pages WHERE day < '$lastDay'")
    val afterD = spark.read.table("pcat4.pages")
    assert(afterD.count() == keep)
    assert(afterD.select("day").distinct().as[String].collect().toSeq == Seq(lastDay))

    // the delete committed a snapshot: current version readable, and the
    // post-bucket-delete state is version-addressable
    val v = graft.sources.Snapshots.latestVersion(s"$wh/pages").get
    assert(spark.sql(s"SELECT * FROM pcat4.pages VERSION AS OF $v").count() == keep)

    // predicates on DATA columns rewrite copy-on-write since round 4
    // (SupportsRowLevelOperations): only the affected groups are rewritten,
    // survivors read back byte-identically
    val en = spark.read.table("pcat4.pages").filter(col("lang") === "en").count()
    assert(en > 0 && en < keep)
    spark.sql("DELETE FROM pcat4.pages WHERE lang = 'en'")
    val afterEn = spark.read.table("pcat4.pages")
    assert(afterEn.filter(col("lang") === "en").count() == 0)
    assert(afterEn.count() == keep - en)
    // null comparands match nothing (partition values are never null) —
    // must not NPE mid-delete
    spark.sql("DELETE FROM pcat4.pages WHERE day <=> NULL")
    spark.sql(s"DELETE FROM pcat4.pages WHERE day IN ('1900-01-01', NULL)")
    assert(spark.read.table("pcat4.pages").count() == keep - en)
    spark.sql("DROP TABLE pcat4.pages")
  }

  test("MERGE INTO: copy-on-write upsert rewrites only affected groups; UPDATE relocates rows") {
    val wh = s"$tmp/whmerge"
    PageTable.register(spark, "pcatm", wh)
    PageTable.write(Corpus.pages(spark, N), s"$wh/pages", numBuckets = 8)

    val beforeMap = spark.read.table("pcatm.pages")
      .select("url", "text").as[(String, String)].collect().toMap
    def leafFiles: Set[String] = {
      val base = java.nio.file.Paths.get(s"$wh/pages/data")
      graft.sources.Snapshots.walkData(new java.io.File(s"$wh/pages/data"))
        .map(f => base.relativize(f.toPath).toString).toSet
    }
    val filesBefore = leafFiles
    val v0 = graft.sources.Snapshots.latestVersion(s"$wh/pages").get

    // source: update 3 existing urls' text + insert 2 brand-new urls.
    // Materialized to a LOCAL dataset first: a temp view whose body scans
    // the TARGET table leaves Spark 4.1's lazy V2TableReference unresolved
    // inside the runtime group-filter subquery (upstream edge); a real
    // upsert feed is independent data anyway.
    val srcRows = spark.sql(
      """SELECT url, warc_ts, html, CONCAT('UPDATED::', url) AS text, lang
        |FROM pcatm.pages ORDER BY url LIMIT 3""".stripMargin)
      .union(spark.sql(
        """SELECT CONCAT('https://merge-new.example/', id) AS url,
          |       TIMESTAMP'2025-07-01 00:00:00' AS warc_ts,
          |       CAST(NULL AS BINARY) AS html,
          |       CONCAT('NEWDOC-', id) AS text, 'en' AS lang
          |FROM RANGE(2)""".stripMargin))
      .collect().toSeq
    spark.createDataFrame(
      new java.util.ArrayList(scala.jdk.CollectionConverters.SeqHasAsJava(srcRows).asJava),
      spark.table("pcatm.pages").drop("bucket", "day").schema)
      .createOrReplaceTempView("merge_src")
    val srcUrls = spark.table("merge_src").select("url").as[String].collect().toSet

    spark.sql(
      """MERGE INTO pcatm.pages t USING merge_src s ON t.url = s.url
        |WHEN MATCHED THEN UPDATE SET text = s.text
        |WHEN NOT MATCHED THEN INSERT (url, warc_ts, html, text, lang)
        |  VALUES (s.url, s.warc_ts, s.html, s.text, s.lang)""".stripMargin)

    val after = spark.read.table("pcatm.pages")
    assert(after.count() == N + 2)
    val afterMap = after.select("url", "text").as[(String, String)].collect().toMap
    // updated rows carry the new text; every untouched row is byte-identical
    val updated = beforeMap.keySet.intersect(srcUrls)
    assert(updated.size == 3)
    updated.foreach(u => assert(afterMap(u) == s"UPDATED::$u"))
    (beforeMap.keySet -- updated).foreach(u => assert(afterMap(u) == beforeMap(u), u))
    // inserted rows landed in the LAYOUT-correct bucket (recomputed, never
    // trusted from the incoming row — readers locate urls by this function)
    assert(spark.sql(
      """SELECT count(*) FROM pcatm.pages
        |WHERE url LIKE 'https://merge-new.example/%'""".stripMargin)
      .head().getLong(0) == 2)
    assert(spark.sql(
      """SELECT count(*) FROM pcatm.pages
        |WHERE url LIKE 'https://merge-new.example/%'
        |  AND bucket != pmod(xxhash64(url), 8)""".stripMargin).head().getLong(0) == 0)

    // group-level rewrite: runtime group filtering confines the rewrite to
    // partitions containing matches — every file in an UNTOUCHED bucket
    // survives the merge byte-for-byte (same physical file)
    val touchedBuckets = srcUrls.map(u =>
      spark.sql(s"SELECT pmod(xxhash64('$u'), 8)").head().getLong(0))
    val filesAfter = leafFiles
    val untouched = filesBefore.filterNot(f =>
      touchedBuckets.exists(b => f.startsWith(s"bucket=$b/")))
    assert(untouched.nonEmpty, "test corpus degenerate: every bucket touched")
    assert(untouched.subsetOf(filesAfter),
      s"merge rewrote untouched groups: ${(untouched -- filesAfter).take(3)}")
    assert(filesAfter != filesBefore)
    // no stray hidden/merge-staging files or pending intent left behind
    assert(new java.io.File(s"$wh/pages/_merge_pending").isFile == false)

    // the merge committed a snapshot; the new state is version-addressable
    val v1 = graft.sources.Snapshots.latestVersion(s"$wh/pages").get
    assert(v1 > v0)
    assert(spark.sql(s"SELECT count(*) FROM pcatm.pages VERSION AS OF $v1")
      .head().getLong(0) == N + 2)

    // UPDATE that rewrites the url MOVES the row to its new layout bucket
    val moved = "https://moved.example/relocated"
    val victim = updated.head
    spark.sql(s"UPDATE pcatm.pages SET url = '$moved' WHERE url = '$victim'")
    assert(spark.read.table("pcatm.pages").count() == N + 2)
    val row = spark.sql(
      s"SELECT bucket, pmod(xxhash64(url), 8) FROM pcatm.pages WHERE url = '$moved'")
      .head()
    assert(row.getInt(0) == row.getLong(1).toInt,
      s"relocated row in wrong bucket: $row")
    assert(spark.sql(s"SELECT count(*) FROM pcatm.pages WHERE url = '$victim'")
      .head().getLong(0) == 0)
    spark.sql("DROP TABLE pcatm.pages")
  }

  test("merge commit intent is rolled forward by the next loadTable (crash recovery)") {
    val wh = s"$tmp/whmergecrash"
    PageTable.register(spark, "pcatmc", wh)
    PageTable.write(Corpus.pages(spark, 50L), s"$wh/pages", numBuckets = 4)
    val dataDir = new java.io.File(s"$wh/pages/data")
    // simulate a crash mid-commit: a staged hidden replacement file + an
    // intent that renames it and deletes one existing file
    val victim = graft.sources.Snapshots.walkData(dataDir).head
    val vicRel = dataDir.toPath.relativize(victim.toPath).toString
    val stagedDir = victim.getParentFile
    val hidden = new java.io.File(stagedDir, ".merge-deadbeef-p0-0.parquet")
    java.nio.file.Files.copy(victim.toPath, hidden.toPath)
    val hidRel = dataDir.toPath.relativize(hidden.toPath).toString
    val finRel = hidRel.replace("/.merge-", "/merge-")
    java.nio.file.Files.write(
      new java.io.File(s"$wh/pages", "_merge_pending").toPath,
      s"mv\t$hidRel\t$finRel\nrm\t$vicRel".getBytes("UTF-8"))
    val vBefore = graft.sources.Snapshots.latestVersion(s"$wh/pages").get

    // next catalog access replays the intent: rename applied, victim gone,
    // a fresh snapshot committed, intent cleared — and the table still holds
    // exactly 50 rows (the staged file IS the victim's content)
    assert(spark.read.table("pcatmc.pages").count() == 50)
    assert(!new java.io.File(s"$wh/pages", "_merge_pending").exists())
    assert(!victim.exists() && !hidden.exists())
    assert(new java.io.File(dataDir, finRel).isFile)
    assert(graft.sources.Snapshots.latestVersion(s"$wh/pages").get > vBefore)
    spark.sql("DROP TABLE pcatmc.pages")
  }

  test("DSv2 catalog: CREATE TABLE + append derives partition columns") {
    val wh = s"$tmp/warehouse2"
    PageTable.register(spark, "pcat2", wh)
    spark.sql(
      """CREATE TABLE pcat2.pages (
        |  url string, warc_ts timestamp, html binary, text string, lang string,
        |  bucket int, day string
        |) PARTITIONED BY (bucket, day)""".stripMargin)
    assert(spark.read.table("pcat2.pages").count() == 0)

    // append the five contract columns only: bucket/day must be derived
    Corpus.pages(spark, 50L).writeTo("pcat2.pages").append()
    val back = spark.read.table("pcat2.pages")
    assert(back.count() == 50)
    // derived bucket matches the canonical layout function
    val bad = back
      .filter(col("bucket") =!=
        pmod(xxhash64(col("url")), lit(PageTable.DEFAULT_BUCKETS.toLong)).cast("int"))
      .count()
    assert(bad == 0)

    // appending to a table WRITTEN WITH A DIFFERENT BUCKET COUNT must honor
    // the table's recorded count, not the default — otherwise the layout
    // function readers use to locate a url silently breaks
    PageTable.write(Corpus.pages(spark, 40L), s"$wh/pages8", numBuckets = 8)
    Corpus.pages(spark, 20L, seed = 5L).writeTo("pcat2.pages8").append()
    val b8 = spark.read.table("pcat2.pages8")
    assert(b8.count() == 60)
    assert(b8.filter(col("bucket") =!=
      pmod(xxhash64(col("url")), lit(8L)).cast("int")).count() == 0)
    assert(b8.agg(max(col("bucket"))).collect()(0).getInt(0) < 8)
    // and the physical layout is the PageTable layout (dir-partitioned)
    assert(new java.io.File(s"$wh/pages/data").listFiles.exists(_.getName.startsWith("bucket=")))

    // idempotent re-read through a fresh table resolution after more data
    Corpus.pages(spark, 10L, seed = 99L).writeTo("pcat2.pages").append()
    assert(spark.read.table("pcat2.pages").count() == 60)
    spark.sql("DROP TABLE pcat2.pages")
    assert(spark.sql("SHOW TABLES IN pcat2").collect()
      .map(_.getString(1)).toSeq == Seq("pages8")) // only the 8-bucket table remains
  }

  test("DSv2 catalog: parquet aggregate pushdown answers COUNT from footers") {
    val wh = s"$tmp/warehouse5"
    PageTable.register(spark, "pcat5", wh)
    PageTable.write(Corpus.pages(spark, 150L), s"$wh/pages", numBuckets = 4)
    val prev = spark.conf.getOption("spark.sql.parquet.aggregatePushdown")
    spark.conf.set("spark.sql.parquet.aggregatePushdown", "true")
    try {
      val agg = spark.sql("SELECT count(*) AS n FROM pcat5.pages")
      val plan = agg.queryExecution.executedPlan.toString
      // the scan itself answers the aggregate from parquet footer metadata —
      // zero data pages (in particular zero html bytes) are read
      assert(plan.contains("PushedAggregation: [COUNT(*)]"), plan)
      assert(agg.collect().head.getLong(0) == 150L)
    } finally {
      prev.fold(spark.conf.unset("spark.sql.parquet.aggregatePushdown"))(
        spark.conf.set("spark.sql.parquet.aggregatePushdown", _))
    }
  }

  test("DSv2 catalog: dynamic partition pruning reaches the v2 scan at runtime") {
    val wh = s"$tmp/warehouse6"
    PageTable.register(spark, "pcat6", wh)
    PageTable.write(Corpus.pages(spark, 200L), s"$wh/pages", numBuckets = 4)
    Corpus.pages(spark, 60L, seed = 9L).toDF()
      .withColumn("warc_ts", expr("warc_ts + INTERVAL 1 DAY"))
      .writeTo("pcat6.pages").append()
    val days = spark.read.table("pcat6.pages")
      .select("day").distinct().as[String].collect().sorted
    assert(days.length == 2)
    // dim restricted to the later day; the fact-side filter on `day` exists
    // only at RUNTIME (after the dim side is evaluated) — DPP must inject it
    // into the v2 scan (FileScan implements SupportsRuntimeFiltering over
    // the partition columns)
    val dim = spark.range(2).select(
      (lit(days.last)).as("d"), (col("id") * 10).as("w"))
    dim.createOrReplaceTempView("dpp_dim")
    val q = spark.sql(
      """SELECT count(*) AS n
        |FROM pcat6.pages p JOIN dpp_dim ON p.day = dpp_dim.d""".stripMargin)
    val plan = q.queryExecution.executedPlan.toString
    assert(plan.toLowerCase.contains("dynamicpruning") ||
      plan.contains("RuntimeFilters"), plan)
    // 60 later-day pages x 2 dim rows
    assert(q.collect().head.getLong(0) == 120L)
  }

  test("compaction: fragmented partitions collapse to one file, content bit-equal") {
    val wh = s"$tmp/warehouse7"
    PageTable.register(spark, "pcat7", wh)
    PageTable.write(Corpus.pages(spark, 100L), s"$wh/pages", numBuckets = 4)
    // two more small appends fragment every leaf (one file per batch each)
    Corpus.pages(spark, 40L, seed = 11L).writeTo("pcat7.pages").append()
    Corpus.pages(spark, 40L, seed = 12L).writeTo("pcat7.pages").append()

    def leafFiles: Map[String, Int] = {
      val data = new java.io.File(s"$wh/pages/data")
      (for {
        b <- data.listFiles.toSeq if b.getName.startsWith("bucket=")
        d <- b.listFiles.toSeq if d.getName.startsWith("day=")
      } yield s"${b.getName}/${d.getName}" ->
        d.listFiles.count(f => f.getName.endsWith(".parquet"))).toMap
    }
    val before = spark.read.table("pcat7.pages")
      .orderBy("url").collect().toSeq
    val fragged = leafFiles
    assert(fragged.values.exists(_ > 1), s"expected fragmented leaves: $fragged")

    val (leaves, nBefore, nAfter) = graft.sources.Compact.run(spark, s"$wh/pages")
    assert(leaves == fragged.count(_._2 > 1))
    assert(nBefore == fragged.values.filter(_ > 1).sum && nAfter == leaves)
    assert(leafFiles.values.forall(_ == 1), s"still fragmented: $leafFiles")

    // content is exactly what it was, partition columns included
    val after = spark.read.table("pcat7.pages").orderBy("url").collect().toSeq
    assert(after == before)
    // compaction committed a snapshot addressing the new layout
    val v = graft.sources.Snapshots.latestVersion(s"$wh/pages").get
    assert(spark.sql(s"SELECT count(*) c FROM pcat7.pages VERSION AS OF $v")
      .collect().head.getLong(0) == before.size)
    // nothing to do on a second run
    assert(graft.sources.Compact.run(spark, s"$wh/pages") == ((0, 0, 0)))
    spark.sql("DROP TABLE pcat7.pages")
  }

  test("vacuum removes failed-write orphans; history lists the snapshot log") {
    val wh = s"$tmp/warehouse8"
    PageTable.register(spark, "pcat8", wh)
    PageTable.write(Corpus.pages(spark, 80L), s"$wh/pages", numBuckets = 4) // v1
    // a layout with no snapshot log (pre-log writer): vacuum refuses to
    // guess liveness
    def rmAll(f: java.io.File): Unit = {
      if (f.isDirectory) f.listFiles.foreach(rmAll); f.delete()
    }
    rmAll(new java.io.File(s"$wh/pages/snapshots"))
    intercept[IllegalStateException](graft.sources.Compact.vacuum(spark, s"$wh/pages"))
    Corpus.pages(spark, 30L, seed = 3L).writeTo("pcat8.pages").append() // v1
    Corpus.pages(spark, 30L, seed = 4L).writeTo("pcat8.pages").append() // v2
    val n = spark.read.table("pcat8.pages").count()
    // plant the debris a killed write job leaves behind
    val leaf = new java.io.File(s"$wh/pages/data").listFiles
      .filter(_.getName.startsWith("bucket=")).head.listFiles
      .filter(_.getName.startsWith("day=")).head
    val orphan = new java.io.File(leaf, "part-dead-attempt.snappy.parquet")
    java.nio.file.Files.write(orphan.toPath, Array[Byte](1, 2, 3))
    // crash leftover in the snapshot log itself must not register as a
    // version (anchored match) nor break vacuum
    val tmpSnap = new java.io.File(s"$wh/pages/snapshots/.v99.txt.tmp")
    java.nio.file.Files.write(tmpSnap.toPath, "ts=0".getBytes)
    assert(graft.sources.Snapshots.latestVersion(s"$wh/pages").contains(2))
    // the DEFAULT age floor protects young unreferenced files — a run killed
    // between its data swap and its snapshot record must not lose data
    assert(graft.sources.Compact.vacuum(spark, s"$wh/pages") == ((0, 0L)))
    assert(orphan.exists())
    // floor 0 (operator knows no maintenance is in flight): debris removed
    val (removed, bytes) = graft.sources.Compact.vacuum(spark, s"$wh/pages", 0L)
    assert(removed == 1 && bytes == 3L && !orphan.exists())
    assert(spark.read.table("pcat8.pages").count() == n) // live data untouched
    // rerun is a no-op
    assert(graft.sources.Compact.vacuum(spark, s"$wh/pages", 0L) == ((0, 0L)))
    val hist = graft.sources.Compact.history(s"$wh/pages")
    assert(hist.map(_._1) == Seq(1, 2))
    assert(hist.last._3 > hist.head._3) // append grew the file count
    spark.sql("DROP TABLE pcat8.pages")
  }

  test("compaction crash windows: repair restores asides; aside dirs invisible to scans") {
    val wh = s"$tmp/warehouse9"
    PageTable.register(spark, "pcat9", wh)
    PageTable.write(Corpus.pages(spark, 60L), s"$wh/pages", numBuckets = 2)
    val n = spark.read.table("pcat9.pages").count()
    val data = new java.io.File(s"$wh/pages/data")
    val leaf = data.listFiles.filter(_.getName.startsWith("bucket=")).head
      .listFiles.filter(_.getName.startsWith("day=")).head
    // simulate a crash between aside-rename and new-leaf-rename: the live
    // leaf is gone, its data parked in the hidden aside
    val aside = new java.io.File(leaf.getParentFile, s".graft-old-${leaf.getName}")
    assert(leaf.renameTo(aside))
    assert(spark.read.table("pcat9.pages").count() < n) // partition missing
    graft.sources.Compact.repair(s"$wh/pages")
    assert(leaf.isDirectory && !aside.exists())
    assert(spark.read.table("pcat9.pages").count() == n) // fully restored
    // simulate a crash AFTER the swap completed (both live leaf and aside
    // exist): repair drops the aside; scans never double-count meanwhile
    val aside2 = new java.io.File(leaf.getParentFile, s".graft-old-${leaf.getName}")
    aside2.mkdirs()
    val junk = new java.io.File(aside2, "part-stale.snappy.parquet")
    java.nio.file.Files.write(junk.toPath, Array[Byte](9))
    assert(spark.read.table("pcat9.pages").count() == n) // hidden dir ignored
    assert(!graft.sources.Snapshots.walkData(data).exists(_.getName == "part-stale.snappy.parquet"))
    graft.sources.Compact.repair(s"$wh/pages")
    assert(!aside2.exists())
    assert(spark.read.table("pcat9.pages").count() == n)
    spark.sql("DROP TABLE pcat9.pages")
  }

  test("rollback restores the live table to an earlier snapshot; history stays append-only") {
    val wh = s"$tmp/warehouse-rb"
    PageTable.register(spark, "pcatrb", wh)
    spark.sql(
      """CREATE TABLE pcatrb.pages (
        |  url string, warc_ts timestamp, html binary, text string, lang string,
        |  bucket int, day string
        |) PARTITIONED BY (bucket, day)""".stripMargin)
    Corpus.pages(spark, 30L).writeTo("pcatrb.pages").append() // -> v1
    Corpus.pages(spark, 20L, seed = 42L).writeTo("pcatrb.pages").append() // -> v2
    assert(spark.read.table("pcatrb.pages").count() == 50)
    val batch1Urls = Corpus.pages(spark, 30L)
      .select("url").as[String].collect().sorted.toSeq

    val dir = s"$wh/pages"
    val (v, moved) = graft.sources.Snapshots.rollback(dir, 1)
    assert(v == 3 && moved > 0, s"v=$v moved=$moved")
    // the LIVE table (directory scan) is back to batch 1, bit-for-bit urls
    assert(spark.read.table("pcatrb.pages")
      .select("url").as[String].collect().sorted.toSeq == batch1Urls)
    // history is append-only: v1 and the rollback v3 both still time-travel
    assert(spark.sql("SELECT * FROM pcatrb.pages VERSION AS OF 1").count() == 30)
    assert(spark.sql("SELECT * FROM pcatrb.pages VERSION AS OF 3").count() == 30)
    // rolling FORWARD works too: v2's files were moved aside, so scanning it
    // fails loudly (the documented retention caveat) — a rollback TO the
    // rollback is a no-op that records NOTHING new (latest already equals
    // the target's file set)
    val (v4, moved4) = graft.sources.Snapshots.rollback(dir, 3)
    assert(v4 == 3 && moved4 == 0, s"v4=$v4 moved4=$moved4")
    // appends after a rollback continue the history
    Corpus.pages(spark, 10L, seed = 7L).writeTo("pcatrb.pages").append() // -> v4
    assert(spark.read.table("pcatrb.pages").count() == 40)
    // crash-window recovery: a half-applied rollback (intent present, one
    // file moved by hand) is rolled FORWARD by the next loadTable
    val base = java.nio.file.Paths.get(dir, "data")
    val (_, wantV1) = graft.sources.Snapshots.files(dir, 1).get
    val liveNow = graft.sources.Snapshots.walkData(base.toFile)
      .map(f => base.relativize(f.toPath).toString)
    val extras = liveNow.filterNot(wantV1.toSet)
    assert(extras.nonEmpty)
    val intent = new java.io.File(dir, "_rollback_pending")
    java.nio.file.Files.write(intent.toPath,
      ((s"target=1" +: s"aside=rollback-aside-crash" +: extras.map(r => s"mv\t$r"))
        .mkString("\n")).getBytes("UTF-8"))
    // simulate the crash having moved ONE file already
    val first = extras.head
    val dst = java.nio.file.Paths.get(dir, "rollback-aside-crash").resolve(first)
    java.nio.file.Files.createDirectories(dst.getParent)
    java.nio.file.Files.move(base.resolve(first), dst)
    // next catalog read completes the rollback and plans a consistent scan
    assert(spark.read.table("pcatrb.pages")
      .select("url").as[String].collect().sorted.toSeq == batch1Urls)
    assert(!intent.isFile, "intent must be consumed by the roll-forward")
    // unknown version fails loudly; target referencing missing files fails
    intercept[IllegalArgumentException](graft.sources.Snapshots.rollback(dir, 99))
    intercept[IllegalStateException](graft.sources.Snapshots.rollback(dir, 2))
  }

  test("kill-and-resume equals one-shot run; manifest carries lineage") {
    val pagesDir = s"$tmp/pages2"
    PageTable.write(Corpus.pages(spark, N), pagesDir, numBuckets = 8)

    // one-shot reference
    val oneShot = ResumableExtract.run(spark, pagesDir, s"$tmp/once",
      s"$tmp/once-manifest", "run0", numBuckets = 8)
    assert(oneShot.nDocs == N)

    // "crashed" first run: only 3 buckets complete
    val r1 = ResumableExtract.run(spark, pagesDir, s"$tmp/resume",
      s"$tmp/resume-manifest", "run1", numBuckets = 8, maxBuckets = 3)
    assert(r1.bucketsDone.size == 3)

    // resume processes exactly the remaining buckets
    val r2 = ResumableExtract.run(spark, pagesDir, s"$tmp/resume",
      s"$tmp/resume-manifest", "run2", numBuckets = 8)
    assert(r2.bucketsDone.nonEmpty)
    assert((r1.bucketsDone.toSet & r2.bucketsDone.toSet).isEmpty)

    // third run: nothing left
    val r3 = ResumableExtract.run(spark, pagesDir, s"$tmp/resume",
      s"$tmp/resume-manifest", "run3", numBuckets = 8)
    assert(r3.bucketsDone.isEmpty)

    // resumed output == one-shot output == scalar oracle
    val a = spark.read.parquet(s"$tmp/once/docs")
      .select("url", "text").as[(String, String)].collect().toMap
    val b = spark.read.parquet(s"$tmp/resume/docs")
      .select("url", "text").as[(String, String)].collect().toMap
    assert(a == b)
    (0L until N).foreach { i =>
      val p = Corpus.page(Corpus.DEFAULT_SEED, i)
      assert(b(p.url) == ScalarExtract.extract(p).text, p.url)
    }

    // manifest lineage: all 8 buckets done, metrics are positive and honest
    val m = Manifest.read(spark, s"$tmp/resume-manifest")
    assert(m.select("bucket").distinct().count() == 8)
    val totals = m.agg(sum("nDocs"), sum("nChars")).collect()(0)
    assert(totals.getLong(0) == N)
    // manifest nChars uses Spark length() = codepoints
    assert(totals.getLong(1) ==
      a.values.map(t => t.codePointCount(0, t.length).toLong).sum)
  }

  test("WARC write-read round-trips pages bit-exactly; extraction is equivalent") {
    import graft.sources.Warc
    val n = 300L
    val pages = Corpus.pages(spark, n)
    val dir = Files.createTempDirectory("warc-rt").toString
    Warc.write(pages, dir, 3)
    def key(p: graft.Page): (String, String, String, String) = {
      val md = java.security.MessageDigest.getInstance("MD5")
      val payload = if (p.html == null) Array.empty[Byte] else p.html
      (p.url, p.warc_ts.toInstant.toString,
        md.digest(payload).map(b => f"$b%02x").mkString, String.valueOf(p.lang))
    }
    val a = pages.collect().map(key).sortBy(_._1).toSeq
    val b = Warc.read(spark, dir).collect().map(key).sortBy(_._1).toSeq
    assert(a == b)
    // extraction equivalence: the WARC-ingested corpus extracts to the
    // exact same documents as the native Dataset
    val e1 = graft.operators.Extract.extract(pages)
      .collect().map(_.toString).sorted.toSeq
    val e2 = graft.operators.Extract.extract(Warc.read(spark, dir))
      .collect().map(_.toString).sorted.toSeq
    assert(e1 == e2 && e1.size == n)
  }

  test("WARC gzip container: per-record members round-trip bit-exactly; " +
    "member truncation fails loudly; members are individually addressable") {
    import graft.sources.Warc
    val pages = Corpus.pages(spark, 200L)
    val dir = Files.createTempDirectory("warcgz-rt").toString
    Warc.writeGz(pages, dir, 2)
    def key(p: graft.Page): (String, String, String, String) = {
      val md = java.security.MessageDigest.getInstance("MD5")
      val payload = if (p.html == null) Array.empty[Byte] else p.html
      (p.url, p.warc_ts.toInstant.toString,
        md.digest(payload).map(b => f"$b%02x").mkString, String.valueOf(p.lang))
    }
    val a = pages.collect().map(key).sortBy(_._1).toSeq
    val b = Warc.readGz(spark, dir).collect().map(key).sortBy(_._1).toSeq
    assert(a == b)
    // one-member-per-record convention: the file starts with a gzip magic
    // AND a second member boundary exists (count magics >= records/file avg)
    val f = new java.io.File(dir).listFiles.filter(_.getName.endsWith(".warc.gz")).head
    val bytes = java.nio.file.Files.readAllBytes(f.toPath)
    assert((bytes(0) & 0xff) == 0x1f && (bytes(1) & 0xff) == 0x8b)
    var magics = 0
    (0 until bytes.length - 1).foreach(i =>
      if ((bytes(i) & 0xff) == 0x1f && (bytes(i + 1) & 0xff) == 0x8b &&
        (bytes(i + 2) & 0xff) == 0x08) magics += 1)
    assert(magics >= 50, s"expected one gzip member per record, saw $magics")
    // a SINGLE member inflates to exactly one record (CDX random access)
    val second = bytes.indexOfSlice(Seq(0x1f.toByte, 0x8b.toByte, 0x08.toByte), 1)
    val one = Warc.parse(Warc.gunzipAll(bytes.take(second))).toSeq
    assert(one.size == 1)
    // truncation mid-member must raise, never yield partial records
    intercept[Exception](Warc.gunzipAll(bytes.take(bytes.length / 2)))
  }

  test("CDX sidecar: every member fetches byte-exactly by (offset, length); " +
    "offsets tile each archive file completely") {
    import graft.sources.Warc
    val pages = Corpus.pages(spark, 150L)
    val dir = Files.createTempDirectory("warccdx").toString
    Warc.writeGz(pages, dir, 2)
    val cdx = Warc.readCdx(spark, dir).collect()
    assert(cdx.length == 150)
    val md = java.security.MessageDigest.getInstance("MD5")
    cdx.foreach { r =>
      val p = Warc.fetchCdx(r.getAs[String]("warc_file"),
        r.getAs[Long]("offset"), r.getAs[Long]("length").toInt)
      assert(p.url == r.getAs[String]("url"))
      md.reset()
      val payload = if (p.html == null) Array.empty[Byte] else p.html
      assert(md.digest(payload).map(b => f"$b%02x").mkString ==
        r.getAs[String]("digest"), p.url)
    }
    // members tile the file: offsets start at 0, lengths sum to file size,
    // consecutive offsets touch (no gaps a range-GET could miss)
    cdx.groupBy(_.getAs[String]("warc_file")).foreach { case (wf, rs) =>
      val sorted = rs.sortBy(_.getAs[Long]("offset"))
      assert(sorted.head.getAs[Long]("offset") == 0L)
      sorted.sliding(2).foreach {
        case Array(a, b) =>
          assert(a.getAs[Long]("offset") + a.getAs[Long]("length") ==
            b.getAs[Long]("offset"), wf)
        case _ => ()
      }
      val last = sorted.last
      val size = new java.io.File(new java.net.URI(wf).getPath).length
      assert(last.getAs[Long]("offset") + last.getAs[Long]("length") == size, wf)
    }
  }

  test("storage-partitioned join: bucket-keyed catalog join plans with zero exchange") {
    val wh = s"$tmp/warehouse-spj"
    PageTable.write(Corpus.pages(spark, 400), s"$wh/pa", numBuckets = 8)
    PageTable.write(Corpus.pages(spark, 400), s"$wh/pb", numBuckets = 8)
    PageTable.register(spark, "spjcat", wh)
    val confs = Seq(
      "spark.sql.sources.v2.bucketing.enabled" -> "true",
      // join keys (bucket, url) are a SUPERSET of the partition key
      // (bucket); same-bucket co-location already clusters them, but the
      // co-partition check demands all cluster keys unless relaxed
      "spark.sql.requireAllClusterKeysForCoPartition" -> "false",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.enabled" -> "false")
    val prev = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      def side(name: String) = spark.read.option("bucketedScan", "true")
        .table(s"spjcat.$name").select("bucket", "url", "lang")
      val j = side("pa").as("a")
        .join(side("pb").as("b"), Seq("bucket", "url"))
        .select(col("bucket"), col("url"))
      val plan = j.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange"),
        s"expected a zero-exchange storage-partitioned join:\n$plan")
      // same rows as the plain (shuffled) join over the default scans
      val exp = spark.read.table("spjcat.pa").select("bucket", "url").as("a")
        .join(spark.read.table("spjcat.pb").select("bucket", "url").as("b"),
          Seq("bucket", "url"))
        .count()
      assert(j.count() == exp && exp == 400)
    } finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None)    => spark.conf.unset(k)
    }
  }

  /** Rows of `dir` whose file sits under a leaf other than
    * `bucket=<pmod(xxhash64(url), n)>/day=<date_format(warc_ts)>`, as
    * (file, url) — bucket and day are read from the file's own directory.
    */
  private def misplaced(dir: String, n: Int): Seq[(String, String)] =
    spark.read.schema(graft.sources.PagesTable.FULL).parquet(s"$dir/data")
      .filter(col("bucket") =!= pmod(xxhash64(col("url")), lit(n.toLong)) ||
        col("day") =!= date_format(col("warc_ts"), "yyyy-MM-dd"))
      .select(input_file_name(), col("url")).as[(String, String)].collect().toSeq

  test("a catalog append re-derives bucket and day: a 32-bucket table's rows land in an 8-bucket layout") {
    val wh = s"$tmp/whplace"
    PageTable.write(Corpus.pages(spark, N), s"$wh/wide", numBuckets = 32)
    PageTable.write(Corpus.pages(spark, 20L, seed = 5L), s"$wh/narrow", numBuckets = 8)
    PageTable.register(spark, "pcatpl", wh)
    val wide = spark.read.table("pcatpl.wide")
    assert(wide.columns.length == 7 && wide.filter(col("bucket") > 7).count() > 0)

    wide.writeTo("pcatpl.narrow").append()
    val back = spark.read.table("pcatpl.narrow")
    assert(back.count() == N + 20)
    assert(back.filter(col("bucket") =!= pmod(xxhash64(col("url")), lit(8L))).count() == 0)
    assert(misplaced(s"$wh/narrow", 8).isEmpty)
    assert(graft.sources.Doctor.audit(s"$wh/narrow", Some(spark), deep = true)
      .map(_.code) == Seq("clean"))
    spark.sql("DROP TABLE pcatpl.narrow")
    spark.sql("DROP TABLE pcatpl.wide")
  }

  test("every writer of new rows places them by the layout function: write, branch publish, " +
    "catalog append and MERGE INSERT") {
    val wh = s"$tmp/whplace2"
    val dir = s"$wh/pages"
    def fresh(prefix: String, n: Long, seed: Long) =
      Corpus.pages(spark, n, seed = seed).toDF()
        .withColumn("url", concat(lit(s"https://$prefix.example/"), col("url")))
    PageTable.write(Corpus.pages(spark, 60L), dir, numBuckets = 8)
    graft.sources.Branches.create(dir, "drop")
    graft.sources.Branches.append(spark, dir, "drop", fresh("branch", 30L, 2L))
    graft.sources.Branches.publish(dir, "drop")
    PageTable.register(spark, "pcatpl2", wh)
    // a 7-column append whose bucket/day belong to some other layout
    fresh("append", 30L, 3L)
      .withColumn("bucket", lit(7)).withColumn("day", lit("1999-01-01"))
      .writeTo("pcatpl2.pages").append()
    // MERGE INSERT rows pass through CowDataWriter's per-row placement;
    // timestamps either side of a day boundary pin its day to date_format's
    fresh("merge", 30L, 4L).union(spark.sql(
      """SELECT 'https://merge-edge.example/a' AS url, TIMESTAMP'2025-07-01 23:59:59' AS warc_ts,
        |       CAST(NULL AS BINARY) AS html, 'edge a' AS text, 'en' AS lang
        |UNION ALL
        |SELECT 'https://merge-edge.example/b', TIMESTAMP'2025-07-02 00:00:00',
        |       CAST(NULL AS BINARY), 'edge b', 'en'""".stripMargin))
      .localCheckpoint().createOrReplaceTempView("place_src")
    spark.sql(
      """MERGE INTO pcatpl2.pages t USING place_src s ON t.url = s.url
        |WHEN NOT MATCHED THEN INSERT (url, warc_ts, html, text, lang)
        |  VALUES (s.url, s.warc_ts, s.html, s.text, s.lang)""".stripMargin)

    assert(spark.read.table("pcatpl2.pages").count() == 60L + 30 + 30 + 32)
    val bad = misplaced(dir, 8)
    assert(bad.size == 0, bad.take(5).mkString("misplaced rows: ", ", ", ""))
    spark.sql("DROP TABLE pcatpl2.pages")
  }

  test("compaction and zorder share one leaf rule: a leaf of zero-row files is dropped, " +
    "a leaf the rewrite returns no rows for fails with the table untouched") {
    val dir = s"$tmp/leafrule"
    PageTable.write(Corpus.pages(spark, 60L), dir, numBuckets = 2)
    val data = new java.io.File(dir, "data")
    def count = PageTable.read(spark, dir).count()
    def plant(leaf: String, files: Seq[java.io.File]): java.io.File = {
      val d = new java.io.File(data, leaf)
      d.mkdirs()
      files.zipWithIndex.foreach { case (f, i) =>
        Files.copy(f.toPath, new java.io.File(d, s"part-planted-$i.parquet").toPath)
      }
      graft.sources.Snapshots.record(dir)
      d
    }
    // `bucket=01` reads back as bucket 1, so the rewrite writes its rows
    // under `bucket=1`: the planted leaf itself gets no output
    val real = graft.sources.Snapshots.walkData(data).filter(_.getParentFile.getParentFile.getName == "bucket=1")
    val day = real.head.getParentFile.getName
    val odd = plant(s"bucket=01/$day", real.take(1) ++ real.take(1))
    val n = count
    val e = intercept[IllegalStateException](graft.sources.Compact.run(spark, dir))
    assert(e.getMessage.contains(s"lost leaf bucket=01/$day"), e.getMessage)
    assert(odd.listFiles.length == 2 && count == n, "a failed rewrite changed the table")
    graft.sources.Snapshots.deleteRecursively(odd.getParentFile)
    graft.sources.Snapshots.record(dir)

    val emptyDir = s"$tmp/leafrule-empty"
    Corpus.pages(spark, 1L).limit(0).coalesce(1).write.parquet(emptyDir)
    val empty = graft.sources.Snapshots.walkData(new java.io.File(emptyDir)).take(1)
    val before = count
    val debris = plant("bucket=0/day=1999-01-01", empty ++ empty)
    graft.sources.Compact.run(spark, dir)
    assert(!debris.exists() && count == before)
    val debris2 = plant("bucket=1/day=1999-01-01", empty)
    graft.sources.Compact.zorder(spark, dir)
    assert(!debris2.exists() && count == before)
  }

  test("new rows get their day in one place: date_format(col(\"warc_ts\") only in PageTable.place") {
    val dayOf = """date_format\(\s*col\(\s*"warc_ts"\s*\)""".r
    val files = Files.walk(Paths.get("src/main")).iterator().asScala
      .filter(_.toString.endsWith(".scala")).toSeq
    assert(files.size > 50, s"only ${files.size} sources under src/main")
    val hits = for {
      f <- files
      (line, i) <- Files.readAllLines(f).asScala.zipWithIndex
      if dayOf.findFirstIn(line).isDefined
    } yield (f.getFileName.toString, s"$f:${i + 1}: ${line.trim}")
    val (home, elsewhere) = hits.partition(_._1 == "PageTable.scala")
    assert(elsewhere.isEmpty, elsewhere.map(_._2).mkString("\n", "\n", ""))
    assert(home.size == 1, home.map(_._2).mkString("\n", "\n", ""))
  }
}
