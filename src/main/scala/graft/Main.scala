package graft

import graft.operators.Extract
import graft.sources.Corpus
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** User-facing driver entry (also the spark-submit entry on a real cluster).
  * One line of [[Main.Commands]] per command; `Main` with no arguments
  * prints them all.
  *
  * Local run: sbt "runMain graft.Main extract 1000 /tmp/out"
  */
object Main {

  /** Every command's usage line: `<arg>` is required, `[arg]` optional, and
    * a bare word after the command name selects a subcommand. The arity
    * check and the usage text are both derived from this list.
    */
  private[graft] val Commands: Seq[String] = Seq(
    "extract <nPages> <outDir> [seed]",
    "extract-dir <pagesDir> <outDir>",
    "markdown-dir <pagesDir> <outDir>",
    "write-pages <nPages> <tableDir> [seed] [buckets]",
    "append-pages <fromIdx> <toIdx> <tableDir> [seed]",
    "run <tableDir> <outDir> <manifestDir> [maxBuckets]",
    "curate <nPages> <outDir> [seed] [cut-spans] [scrub-pii] [zratio-gate] [near-dedup] [robots-gate]",
    "curate-dir <pagesDir> <outDir> [cut-spans] [scrub-pii] [zratio-gate] [near-dedup] [robots-gate]",
    "curate-stream <pagesDir> <outDir>",
    "upsert-stream <srcDir> <tableDir> <ckpt>",
    "extract-incr <tableDir> <outDir> <stateFile>",
    "compact <tableDir> [--zorder [d1,d2] [maxRecordsPerFile]]",
    "vacuum <tableDir> [minAgeHours]",
    "doctor <tableDir> [--deep]",
    "history <tableDir>",
    "meta <tableDir> [snapshots|files|refs|partitions]",
    "changes <tableDir> [fromV] [toV]",
    "rollback <tableDir> <version>",
    "tag <tableDir> <name> [version]",
    "untag <tableDir> <name>",
    "tags <tableDir>",
    "clone <srcDir> <dstDir> [version|tag]",
    "rebucket <tableDir> <newBuckets>",
    "export-hf <curatedDir> <outDir> [shards]",
    "bloomindex <tableDir>",
    "lookup <tableDir> <url> [url...]",
    "branch <tableDir> create <name>",
    "branch <tableDir> append <name> <srcDir>",
    "branch <tableDir> audit <name>",
    "branch <tableDir> publish <name>",
    "branch <tableDir> discard <name>",
    "branch <tableDir> list",
    "explain <query> <sfDir>"
  )

  private[graft] val Usage: String = Commands.mkString("usage: graft.Main\n  ", "\n  ", "")

  /** Whether `args` name a command and give at least its required
    * arguments (every word of its usage line before the first `[`).
    */
  private[graft] def argsOk(args: Array[String]): Boolean =
    Commands.exists { line =>
      val req = line.split(' ').takeWhile(!_.startsWith("["))
      args.length >= req.length &&
        req.indices.forall(i => req(i).startsWith("<") || req(i) == args(i))
    }

  def main(args: Array[String]): Unit = {
    if (!argsOk(args)) {
      System.err.println(Usage)
      sys.exit(2)
    }
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", Runtime.getRuntime.availableProcessors().toString)
    val master = sys.env.getOrElse("SPARK_GRAFT_MASTER", s"local[$cpus]")
    // local-cluster[N,cores,mem] spawns REAL separate executor JVMs (the
    // closest in-sandbox stand-in for "N executors" in the scaling
    // criterion); they need this checkout's classes + the JDK17 module opens
    // on their own classpaths.
    val builder0 = SparkSession.builder().master(master).appName("graft-extract")
    val builder =
      if (master.startsWith("local-cluster")) builder0
        .config("spark.executor.extraClassPath", codeSource(Main.getClass))
        .config("spark.executor.memory", sys.env.getOrElse("SPARK_GRAFT_EXEC_MEM", "6g"))
      else builder0
    val spark = session(builder, cpus.toInt)
    try {
      args(0) match {
        case "write-pages" =>
          val n = args(1).toLong
          val seed = if (args.length > 3) args(3).toLong else Corpus.DEFAULT_SEED
          val buckets = if (args.length > 4) args(4).toInt else graft.sources.PageTable.DEFAULT_BUCKETS
          graft.sources.PageTable.write(Corpus.pages(spark, n, seed), args(2), buckets)
          println(s"wrote $n pages -> ${args(2)} ($buckets buckets)")
          return
        case "markdown-dir" =>
          // structure-preserving serialization of an existing pages table:
          // sniff -> charset decode -> markdown block dispatch, (url,
          // warc_ts, md) parquet out. This is the SERIALIZER, deliberately
          // orthogonal to extraction: extract strips boilerplate to flat
          // text; markdown keeps every block's structure (code fences,
          // lists, tables, quotes) for code/instruction-literate corpora.
          // Per-row codegen'd decode + scan — zero exchanges.
          import spark.implicits._
          val t0 = System.nanoTime()
          spark.read.schema(Model.PAGES).parquet(args(1))
            .filter(col("html").isNotNull &&
              graft.functions.exprs.sniffKind(col("html")) === "html")
            .select(col("url"), col("warc_ts"),
              graft.functions.exprs.decodeSniff(col("html")).as("h"))
            .as[(String, java.sql.Timestamp, String)]
            .map { case (url, ts, h) =>
              (url, ts, graft.operators.Structured.mdBlocks(h).mkString("\n\n"))
            }
            .toDF("url", "warc_ts", "md")
            .write.mode("overwrite").parquet(args(2))
          val nMd = spark.read.parquet(args(2)).count()
          println(f"serialized $nMd%d pages to markdown in ${(System.nanoTime() - t0) / 1e9}%.2f s -> ${args(2)}")
          return
        case "compact" =>
          // compact <tableDir> [--zorder d1,d2 [maxRecordsPerFile]]
          if (args.length > 2 && args(2) == "--zorder") {
            val dims = if (args.length > 3) args(3).split(',') else Array("url", "warc_ts")
            val maxRec = if (args.length > 4) args(4).toLong else 0L
            val (leaves, after) = graft.sources.Compact.zorder(
              spark, args(1), (dims(0), dims(1)), maxRec)
            println(s"zordered $leaves partitions on (${dims.mkString(",")}): $after files")
          } else {
            val (leaves, before, after) = graft.sources.Compact.run(spark, args(1))
            println(s"compacted $leaves partitions: $before -> $after files")
          }
          return
        case "tag" =>
          // tag <tableDir> <name> [version]: pin a name to a snapshot
          // (latest if omitted). Immutable; protects its files from vacuum.
          val dir = args(1)
          val v = if (args.length > 3) args(3).toInt
            else graft.sources.Snapshots.latestVersion(dir).getOrElse(
              sys.error(s"$dir has no snapshots to tag"))
          graft.sources.Snapshots.tag(dir, args(2), v)
          println(s"tagged $dir v$v as '${args(2)}'")
          return
        case "untag" =>
          val removed = graft.sources.Snapshots.untag(args(1), args(2))
          println(if (removed) s"untagged '${args(2)}'" else s"no tag '${args(2)}'")
          return
        case "tags" =>
          val ts = graft.sources.Snapshots.tags(args(1))
          if (ts.isEmpty) println("no tags")
          else ts.foreach { case (n, v) => println(s"$n\tv$v") }
          return
        case "branch" =>
          // branch <tableDir> <create|append|audit|publish|discard|list> ...
          // — Write-Audit-Publish: stage a drop on a named branch (invisible
          // to live readers), audit it, publish atomically or discard.
          val dir = args(1)
          args(2) match {
            case "create" =>
              graft.sources.Branches.create(dir, args(3))
              println(s"created branch '${args(3)}' on $dir")
            case "append" =>
              // branch <tableDir> append <name> <srcParquetDir>
              val drop = spark.read.schema(graft.Model.PAGES).parquet(args(4))
                .select("url", "warc_ts", "html", "text", "lang")
              graft.sources.Branches.append(spark, dir, args(3), drop)
              println(s"staged ${args(4)} onto branch '${args(3)}'")
            case "audit" =>
              // the pre-publish checks a crawl pipeline runs: volume, url
              // uniqueness, day range, and overlap with the live table
              val b = graft.sources.Branches.read(spark, dir, args(3))
              val live = graft.sources.PageTable.read(spark, dir).toDF()
              val stats = b.agg(
                count(lit(1)).as("rows"),
                countDistinct(col("url")).as("urls"),
                min(col("day")).as("day_min"), max(col("day")).as("day_max"),
                sum(when(col("html").isNull && col("text").isNull, 1)
                  .otherwise(0)).as("empty_payloads")).collect()(0)
              val overlap = b.select("url").distinct()
                .join(live.select("url").distinct(), "url").count()
              println(s"branch '${args(3)}': rows=${stats.getLong(0)} " +
                s"urls=${stats.getLong(1)} days=[${stats.getString(2)}, " +
                s"${stats.getString(3)}] empty_payloads=${stats.getLong(4)} " +
                s"urls_already_live=$overlap")
            case "publish" =>
              val (v, n) = graft.sources.Branches.publish(dir, args(3))
              println(s"published branch '${args(3)}': $n files adopted as v$v")
            case "discard" =>
              val dropped = graft.sources.Branches.discard(dir, args(3))
              println(if (dropped) s"discarded branch '${args(3)}'"
                else s"no branch '${args(3)}'")
            case "list" =>
              val bs = graft.sources.Branches.list(dir)
              if (bs.isEmpty) println("no branches")
              else bs.foreach { case (n, files) => println(s"$n\t$files files") }
            case other => sys.error(s"unknown branch subcommand: $other")
          }
          return
        case "rollback" =>
          // rollback <tableDir> <version> — restore the live table state to
          // snapshot <version> (files added since are moved aside, hidden
          // from scans; the restored list commits as a NEW snapshot)
          val (v, moved) = graft.sources.Snapshots.rollback(args(1), args(2).toInt)
          println(s"rolled back ${args(1)} to v${args(2)} as v$v ($moved files moved aside)")
          return
        case "export-hf" =>
          // export-hf <curatedDir> <outDir> [shards] — hand-off shards +
          // dataset_info.json in the layout a training loader expects
          val shards = if (args.length > 3) args(3).toInt else 4
          val stats = graft.sources.ExportHf.run(spark, args(1), args(2), shards)
          stats.foreach { case (s, r, b) =>
            println(f"  $s%-6s $r%9d rows  ${b / 1024}%8d KiB  ($shards shards)") }
          println(s"exported ${stats.map(_._2).sum} rows -> ${args(2)}")
          return
        case "rebucket" =>
          // rebucket <tableDir> <newBuckets> — partition-spec evolution:
          // full rewrite into the new bucket layout (crash-safe intent)
          val (v, n) = graft.sources.Rebucket.run(spark, args(1), args(2).toInt)
          println(s"rebucketed ${args(1)} to ${args(2)} buckets as v$v ($n files)")
          return
        case "clone" =>
          // clone <srcDir> <dstDir> [version|tag] — metadata-cost table
          // clone of a chosen snapshot (hard-linked data, fresh history)
          val sel = if (args.length > 3) Some(args(3)) else None
          val (ver, tagRef) = sel match {
            case Some(s) if s.forall(_.isDigit) => (Some(s.toInt), None)
            case Some(s) => (None, Some(s))
            case None => (None, None)
          }
          val (v, n) = graft.sources.Clone.run(spark, args(1), args(2), ver, tagRef)
          println(s"cloned ${args(1)} v$v -> ${args(2)} ($n files linked)")
          return
        case "bloomindex" =>
          // bloomindex <tableDir> — (re)build per-file url bloom sidecars
          // for the latest snapshot (point-lookup file skipping)
          val n = graft.sources.BloomIndex.build(spark, args(1))
          println(s"indexed $n files of ${args(1)}")
          return
        case "lookup" =>
          // lookup <tableDir> <url...> — bloom-pruned point lookup
          val (rows, scanned, total) =
            graft.sources.BloomIndex.lookup(spark, args(1), args.drop(2).toSeq)
          val hits = rows.select("url", "lang", "day").collect()
          hits.foreach(r => println(
            s"  ${r.getString(0)}  lang=${r.getString(1)}  day=${r.get(2)}"))
          println(s"${hits.length} rows; scanned $scanned of $total files")
          return
        case "vacuum" =>
          // vacuum <tableDir> [minAgeHours] — files younger than the floor
          // are never deleted (see Compact.DEFAULT_VACUUM_MIN_AGE_MS)
          val minAge =
            if (args.length > 2) args(2).toLong * 3600 * 1000
            else graft.sources.Compact.DEFAULT_VACUUM_MIN_AGE_MS
          val (n, bytes) = graft.sources.Compact.vacuum(spark, args(1), minAge)
          println(s"vacuumed $n orphan files ($bytes bytes)")
          return
        case "doctor" =>
          // doctor <tableDir> [--deep] — integrity audit: layout meta,
          // manifest holes (latest + every tag), crashed-commit intents,
          // orphan files, bloom staleness; --deep adds the one-scan
          // bucket/day placement check. Exit 1 on any ERROR finding.
          val deep = args.length > 2 && args(2) == "--deep"
          val findings = graft.sources.Doctor.audit(
            args(1), Some(spark), deep = deep)
          findings.foreach(f => println(f"${f.severity}%-5s ${f.code}%-15s ${f.detail}"))
          if (findings.exists(_.severity == "ERROR")) sys.exit(1)
          return
        case "history" =>
          graft.sources.Compact.history(args(1)).foreach { case (v, ts, nf) =>
            println(s"v$v  ${java.time.Instant.ofEpochMilli(ts)}  $nf files")
          }
          return
        case "meta" =>
          // meta <tableDir> [snapshots|files|refs|partitions] — the S21
          // metadata tables through the same SQL path a user types
          // (`cat.`t$snapshots``)
          val dir = new java.io.File(args(1)).getAbsoluteFile
          val which = if (args.length > 2) args(2) else "snapshots"
          require(Seq("snapshots", "files", "refs", "partitions").contains(which),
            s"unknown metadata table: $which")
          graft.sources.PageTable.register(spark, "graftmeta", dir.getParent)
          spark.sql(s"SELECT * FROM graftmeta.`${dir.getName}$$$which`")
            .show(100, truncate = false)
          return
        case "extract-incr" =>
          // version-checkpointed incremental extraction; see
          // operators.IncrementalExtract for the window/checkpoint contract
          // and the bloom-pre-filtered compaction guard
          graft.operators.IncrementalExtract.runOnce(
            spark, args(1), args(2), new java.io.File(args(3))) match {
            case None => println("up to date")
            case Some(r) =>
              println(s"extracted ${r.nDocs} docs from v${r.fromV}..v${r.toV} " +
                s"-> ${r.window}" +
                (if (r.compactionGuard) " (compaction guard active)" else ""))
          }
          return
        case "changes" =>
          // incremental snapshot scan: rows appended after snapshot <fromV>
          // (up to <toV>, default latest) — the consumption primitive of an
          // incremental pipeline (see PageTable.readChanges)
          val fromV = if (args.length > 2) args(2).toInt else -1
          val toV = if (args.length > 3) args(3).toInt else -1
          val delta = graft.sources.PageTable.readChanges(spark, args(1), fromV, toV)
          val byDay = delta.groupBy("day").count().orderBy("day").collect()
          println(s"changes since v$fromV: ${byDay.map(_.getLong(1)).sum} rows")
          byDay.foreach(r => println(s"  ${r.getString(0)}  ${r.getLong(1)}"))
          return
        case "explain" =>
          // formatted physical plan of a SparkEntry query (plan-audit tool)
          val q = SparkEntry.queries.getOrElse(args(1),
            sys.error(s"unknown query '${args(1)}'"))
          println(q(spark, args(2)).queryExecution.explainString(
            org.apache.spark.sql.execution.ExplainMode.fromString("formatted")))
          return
        case "run" =>
          val maxB = if (args.length > 4) args(4).toInt else Int.MaxValue
          val runId = s"run-${System.currentTimeMillis()}"
          val rep = graft.operators.ResumableExtract.run(
            spark, args(1), args(2), args(3), runId, maxBuckets = maxB)
          println(s"run $runId: processed buckets ${rep.bucketsDone.mkString(",")} " +
            s"(${rep.nDocs} docs); ${rep.skipped} buckets already done")
          return
        case "append-pages" =>
          // append-pages <fromIdx> <toIdx> <tableDir> [seed]: stage a fresh
          // crawl drop (synthetic pages [from, to)) into an EXISTING pages
          // table — the input to curate-stream's incremental fold-in. The
          // bucket count comes from the table's own _table meta so the drop
          // lands in the layout the original writer pinned.
          import spark.implicits._
          val (from, to, dir) = (args(1).toLong, args(2).toLong, args(3))
          val seed = if (args.length > 4) args(4).toLong else Corpus.DEFAULT_SEED
          val buckets = graft.sources.PageTable.readBucketMeta(dir)
            .getOrElse(graft.sources.PageTable.DEFAULT_BUCKETS)
          val drop = spark.range(from, to).map(i => Corpus.page(seed, i)).toDF()
          graft.sources.PageTable.place(drop, buckets)
            .write.mode("append").partitionBy("bucket", "day")
            .parquet(s"$dir/data")
          graft.sources.Snapshots.record(dir)
          println(s"appended pages [$from, $to) -> $dir")
          return
        case "upsert-stream" =>
          // upsert-stream <srcDir> <tableDir> <ckpt>: stream recrawled /
          // corrected pages into the LIVE catalog table at <tableDir>
          // (registered as <parent-as-warehouse>.<dirname>) via one
          // copy-on-write MERGE per microbatch — newer warc_ts wins, late
          // updates are no-ops, new urls insert into the layout bucket
          val (srcDir, tableDir, ckpt) = (args(1), args(2), args(3))
          val td = new java.io.File(tableDir)
          require(new java.io.File(td, "data").isDirectory,
            s"$tableDir is not a pages table (no data/)")
          graft.sources.PageTable.register(spark, "pcat_up", td.getParent)
          // back-quote: directory names (hence table names) may carry '-' etc.
          val table = s"pcat_up.`${td.getName.replace("`", "``")}`"
          val t0 = System.nanoTime()
          val nb = graft.streaming.StreamingUpsert.runOnce(spark, srcDir, table, ckpt)
          val dt = (System.nanoTime() - t0) / 1e9
          val total = spark.table(table).count()
          println(f"upsert stream: $nb%d batches applied in $dt%.1f s, table now $total%d rows -> $tableDir")
          return
        case "curate-stream" =>
          // incremental curation loop: curate-stream <pagesDir> <outDir>
          // processes only files NEW since the last run (checkpoint under
          // <outDir>-ckpt), dedupes each batch against the accumulated
          // fingerprint table at <outDir>-fp, appends curated docs
          val (pagesDir, outDir) = (args(1), args(2))
          val t0 = System.nanoTime()
          // fast no-op path: when the input listing matches the committed
          // marker there is nothing to ingest — skip the stream bootstrap
          // (a no-data AvailableNow cycle still costs a full microbatch
          // plan execution). The tree is walked ONCE; the same fingerprint
          // serves the check here and the post-run commit below (capturing
          // BEFORE the stream starts, so a mid-run append invalidates the
          // marker at the next rerun — see commitListing)
          val listingAtStart =
            graft.streaming.StreamingCurate.listingFingerprint(pagesDir)
          if (graft.streaming.StreamingCurate
              .committedListing(s"$outDir-ckpt").contains(listingAtStart)) {
            val dt = (System.nanoTime() - t0) / 1e9
            println(f"curated stream: input unchanged (listing match) in $dt%.2f s -> $outDir")
            return
          }
          val q = graft.streaming.StreamingCurate.start(
            spark, pagesDir, outDir, s"$outDir-ckpt", s"$outDir-fp")
          q.awaitTermination()
          graft.streaming.StreamingCurate.commitListing(listingAtStart, s"$outDir-ckpt")
          val rowsIn = q.recentProgress.map(_.numInputRows).sum
          val dt = (System.nanoTime() - t0) / 1e9
          if (rowsIn == 0)
            // marker was missing/stale but the stream found nothing new:
            // skip the full count over the accumulated table
            println(f"curated stream: no new files (0 rows in) in $dt%.2f s -> $outDir")
          else {
            val n = spark.read.parquet(outDir).count()
            println(f"curated stream: $n%d docs total (all runs) in $dt%.2f s -> $outDir")
          }
          return
        case "curate" | "curate-dir" =>
          // the full curation pipeline:
          //   curate <nPages> <outDir> [seed] [cut-spans]   (synthetic corpus)
          //   curate-dir <pagesDir> <outDir> [cut-spans]     (staged pages table)
          // `cut-spans` switches on the opt-in EXACTSUBSTR duplicated-span
          // cut between line dedup and the quality gate; `scrub-pii` fuses
          // the PII redaction stage into the final verdict/write pass
          import spark.implicits._
          // `zratio-gate` adds the compression-ratio quality conjunct
          // `near-dedup` adds the opt-in MinHash near-duplicate stage
          val flags = Set("cut-spans", "scrub-pii", "zratio-gate", "near-dedup",
            "robots-gate")
          val cutSpans = args.contains("cut-spans")
          val scrubPii = args.contains("scrub-pii")
          val zratioGate = args.contains("zratio-gate")
          val nearDedup = args.contains("near-dedup")
          val robotsGate = args.contains("robots-gate")
          val input =
            if (args(0) == "curate") {
              val seed = if (args.length > 3 && !flags(args(3))) args(3).toLong
                         else Corpus.DEFAULT_SEED
              Corpus.pages(spark, args(1).toLong, seed)
            } else spark.read.schema(Model.PAGES).parquet(args(1)).as[Page]
          val t0 = System.nanoTime()
          val rep = graft.operators.Curate.run(spark, input, args(2), cutSpans,
            scrubPii, zratioGate, nearDedup, robotsGate)
          val dt = (System.nanoTime() - t0) / 1e9
          println(f"  extracted        ${rep.extracted}%8d")
          println(f"  non-empty        ${rep.nonEmpty}%8d")
          println(f"  quality kept     ${rep.qualityKept}%8d")
          println(f"  unique kept      ${rep.uniqueKept}%8d")
          println(f"  train/val/test   ${rep.train}%d/${rep.`val`}%d/${rep.test}%d")
          if (scrubPii) println(f"  pii-scrubbed     ${rep.piiDocs}%8d")
          if (nearDedup) println(f"  near-dropped     ${rep.nearDropped}%8d")
          println(f"curated ${rep.uniqueKept}%d docs in $dt%.2f s -> ${args(2)}")
          return
        case _ => ()
      }
      val (pages, outDir) = args(0) match {
        case "extract" =>
          val n = args(1).toLong
          val seed = if (args.length > 3) args(3).toLong else Corpus.DEFAULT_SEED
          (Corpus.pages(spark, n, seed), args(2))
        case "extract-dir" =>
          import spark.implicits._
          // F3: external tables may carry null/empty payloads or out-of-scope
          // langs (SPARK_GRAFT_LANGS=en,de,...); the predicate pushes to the scan
          val langs = sys.env.get("SPARK_GRAFT_LANGS")
            .map(_.split(",").toSeq.filter(_.nonEmpty)).getOrElse(Nil)
          (spark.read.schema(Model.PAGES).parquet(args(1))
            .filter(Extract.processable(langs)).as[Page], args(2))
        case other => sys.error(s"no handler for command $other")
      }
      val t0 = System.nanoTime()
      val docs = Extract.extract(pages)
      docs.write.mode("overwrite").parquet(outDir)
      val dt = (System.nanoTime() - t0) / 1e9
      val stats = spark.read.parquet(outDir)
        .groupBy("contentKind")
        .agg(count(lit(1)).as("docs"), sum(length(col("text"))).as("chars"))
        .orderBy("contentKind")
        .collect()
      val total = stats.map(_.getLong(1)).sum
      stats.foreach(r => println(f"  ${r.getString(0)}%-16s ${r.getLong(1)}%8d docs  ${if (r.isNullAt(2)) 0L else r.getLong(2)}%12d chars"))
      println(f"extracted $total%d docs in $dt%.2f s (${total / dt}%.0f docs/s) -> $outDir")
    } finally spark.stop()
  }

  /** The directory or jar `cls` was loaded from: the running code, wherever
    * the checkout lives.
    */
  private[graft] def codeSource(cls: Class[_]): String =
    java.nio.file.Paths.get(cls.getProtectionDomain.getCodeSource.getLocation.toURI).toString

  /** The tuned session Main and Bench share; each caller picks the master
    * and app name on `builder`.
    */
  private[graft] def session(builder: SparkSession.Builder, cpus: Int): SparkSession = {
    val spark = builder
      .config("spark.sql.shuffle.partitions", (cpus * 4).toString) // 4x cores; AQE coalesces small stages
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", sys.env.getOrElse("SPARK_GRAFT_AQE", "true"))
      .config("spark.local.dir", sys.env.getOrElse("SPARK_GRAFT_LOCAL_DIR", "/dev/shm/spark-local"))
      // keep every phase wider than the core count: small-file scans split
      // finer than the 128 MB default, and AQE may not coalesce the block
      // shuffle below ~4 partitions/core (the tokenizer output is compute-
      // heavy per byte, so partition-size heuristics undercount its cost)
      .config("spark.sql.files.maxPartitionBytes", "16m")
      // force the sort-based shuffle writer (what a real >200-reducer
      // cluster job uses): the bypass-merge writer's per-reducer files +
      // transferTo/mmap concat storms serialize on mmap locks at 32 threads
      .config("spark.shuffle.sort.bypassMergeThreshold", "2")
      .config("spark.file.transferTo", "false")
      .config("spark.sql.adaptive.coalescePartitions.parallelismFirst", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
