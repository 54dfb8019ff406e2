package graft.perfbench

import graft.Page
import graft.operators.{Dedup, Extract, TextAnalysis}
import org.apache.spark.BenchBus
import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.functions._
import scala.collection.immutable.ListMap

/** The traced run's per-layer numbers. Everything here is measured from
  * outside the program: listener events and executed plans of one traced
  * rep, an instrumented scalar pass over the same pages, and probes that time
  * single operators over the rep's own artifacts.
  */
object Traced {
  import BenchMain.{Rep, median, unit}

  /** Per-layer metric names; every traced run prints all of them (a layer a
    * workload does not exercise reads 0).
    */
  val METRICS: Seq[(String, String)] = Seq(
    "sources.scan_rows" -> "count", "sources.scan_mb" -> "MB",
    "charset.sniff_busy_s" -> "s", "charset.decode_busy_s" -> "s", "charset.decode_calls" -> "count",
    "htmlblocks.busy_s" -> "s", "htmlblocks.calls" -> "count", "htmlblocks.blocks_out" -> "count",
    "htmlblocks.max_page_ms" -> "ms",
    "pdfruns.busy_s" -> "s", "pdfruns.calls" -> "count", "pdfruns.ok_ratio" -> "ratio",
    "classify.busy_s" -> "s", "classify.lines_busy_s" -> "s", "classify.assemble_busy_s" -> "s",
    "classify.kept_ratio" -> "ratio",
    "extract.exchanges" -> "count", "extract.scan_stages" -> "count", "extract.map_task_s" -> "s",
    "extract.reduce_task_s" -> "s", "extract.gc_s" -> "s", "extract.shuffle_write_mb" -> "MB",
    "extract.shuffle_read_mb" -> "MB", "extract.fetch_wait_s" -> "s", "extract.spill_mb" -> "MB",
    "extract.reduce_tasks" -> "count", "extract.task_skew" -> "ratio", "extract.idle_core_frac" -> "ratio",
    "sink.out_mb" -> "MB", "sink.files" -> "count",
    "curate.extract_s" -> "s", "curate.linededup_s" -> "s", "curate.verdict_write_s" -> "s",
    "curate.verdict_tasks" -> "count", "curate.kept_ratio" -> "ratio",
    "dedup.linededup_busy_s" -> "s", "textanalysis.gopher_busy_s" -> "s",
    "jvm.gc_s" -> "s", "jvm.jit_s" -> "s", "jvm.heap_peak_mb" -> "MB",
    "scale_eff_1to4" -> "ratio",
    "trace.wall_s" -> "s", "trace.overhead_s" -> "s", "trace.accounted_frac" -> "ratio")

  /** Listener-derived numbers of the extraction job: its stages, given by
    * id, over a wall window of `wallMs`.
    */
  private def extractMetrics(rec: Recorder, stageIds: Set[Int], wallMs: Long, cores: Int): Map[String, Double] = {
    val ts = rec.taskList.filter(t => stageIds(t.stageId))
    val scanStages = ts.filter(_.inRecords > 0).map(_.stageId).toSet
    val (map, reduce) = ts.partition(t => scanStages(t.stageId))
    val byStage = ts.groupBy(_.stageId)
    val skew = if (byStage.isEmpty) 0.0 else {
      val heaviest = byStage.values.maxBy(_.map(_.duration).sum).map(_.duration.toDouble)
      heaviest.max / math.max(1.0, median(heaviest))
    }
    Map(
      "sources.scan_rows" -> ts.map(_.inRecords).sum.toDouble,
      "extract.scan_stages" -> scanStages.size.toDouble,
      "extract.map_task_s" -> map.map(_.duration).sum / 1e3,
      "extract.reduce_task_s" -> reduce.map(_.duration).sum / 1e3,
      "extract.gc_s" -> ts.map(_.gc).sum / 1e3,
      "extract.shuffle_write_mb" -> ts.map(_.swBytes).sum / 1e6,
      "extract.shuffle_read_mb" -> ts.map(_.srBytes).sum / 1e6,
      "extract.fetch_wait_s" -> ts.map(_.fetchWait).sum / 1e3,
      "extract.spill_mb" -> ts.map(_.spill).sum / 1e6,
      "extract.reduce_tasks" -> reduce.size.toDouble,
      "extract.task_skew" -> skew,
      "extract.idle_core_frac" -> (1.0 - ts.map(_.duration).sum.toDouble / math.max(1L, wallMs * cores)))
  }

  /** Core time of the traced rep split by layer, from task metrics, plus
    * the idle/driver remainder (core time no task covered).
    */
  private def layerAccount(tasks: Seq[TaskRec], scanStages: Set[Int], wallMs: Long,
                           cores: Int): ListMap[String, Double] = {
    def sum(f: TaskRec => Long) = tasks.map(f).sum / 1e3
    val sw = (t: TaskRec) => t.swNs / 1000000L
    val layers = ListMap(
      "map_compute" -> sum(t => if (scanStages(t.stageId)) t.run - sw(t) else 0L),
      "shuffle_write" -> sum(sw),
      "fetch_wait" -> sum(_.fetchWait),
      "reduce_compute_and_sink" -> sum(t => if (scanStages(t.stageId)) 0L else t.run - sw(t) - t.fetchWait),
      "task_deser_ser" -> sum(t => t.deser + t.ser),
      "idle_and_driver" -> (wallMs * cores - tasks.map(_.duration).sum) / 1e3)
    layers
  }

  def measure(spark: SparkSession, a: BenchMain.Args, w: Workload, n: Long, pages: Dataset[Page],
              staged: Staged, outDir: String, spans: Spans, parent: Int, reps: Seq[Rep],
              expected: Fingerprint, tracedRep: () => Option[Rep],
              problems: scala.collection.mutable.Buffer[String]): ListMap[String, Any] = {
    val m = scala.collection.mutable.LinkedHashMap[String, Double](METRICS.map(_._1 -> 0.0): _*)
    val cores = a.cores

    // ---- one traced rep ----
    val rec = new Recorder
    spark.sparkContext.addSparkListener(rec)
    spark.listenerManager.register(rec)
    val before = System.currentTimeMillis()
    val traced = tracedRep()
    val (t0, t1) = traced.map(r => (r.startMs, r.endMs)).getOrElse((before, System.currentTimeMillis()))
    BenchBus.drain(spark.sparkContext)
    spark.sparkContext.removeSparkListener(rec)
    spark.listenerManager.unregister(rec)
    val repSpan = spans.add(parent, "traced", 0, t0, t1)
    val jobs = rec.jobList.filter(j => j.start >= t0 && j.start <= t1)
    val stagesById = rec.stageList.groupBy(_.stageId)
    val tasksByStage = rec.taskList.groupBy(_.stageId)
    jobs.foreach { j =>
      val js = spans.add(repSpan, s"job:${j.jobId}", 0, j.start, j.end, "exec" -> j.execId)
      j.stageIds.flatMap(stagesById.getOrElse(_, Nil)).foreach { s =>
        val d = tasksByStage.getOrElse(s.stageId, Nil).map(_.duration.toDouble).sorted
        def pct(q: Double) = if (d.isEmpty) 0.0 else d(math.min(d.size - 1, (q * d.size).toInt))
        spans.add(js, s"stage:${s.stageId}", 0, s.submitted, s.completed,
          "name" -> s.name, "tasks" -> d.size, "task_s" -> d.sum / 1e3,
          "p50_ms" -> pct(0.5), "p90_ms" -> pct(0.9), "max_ms" -> d.lastOption.getOrElse(0.0))
      }
    }
    val repTasks = rec.taskList.filter(t => jobs.exists(_.stageIds.contains(t.stageId)))
    val wallMs = t1 - t0
    val isCurate = w == Workload.CurateFunnel
    // the extraction job: the whole rep, or Curate's extract write
    val (exStages, exWallMs, exPlan) =
      if (!isCurate) (jobs.flatMap(_.stageIds).toSet, wallMs, Option(rec.writes.get(outDir)))
      else {
        def writing(path: String) = rec.execList.filter(_.target.contains(path))
        def stagesOf(es: Seq[ExecRec]) = jobs.filter(j => es.exists(_.execId == j.execId)).flatMap(_.stageIds).toSet
        def spanOf(es: Seq[ExecRec]) = if (es.isEmpty) 0L else es.map(_.end).max - es.map(_.start).min
        val ex = writing(s"$outDir-extracted")
        val ld = writing(s"$outDir-linededup")
        val vw = writing(outDir)
        m("curate.extract_s") = spanOf(ex) / 1e3
        m("curate.linededup_s") = spanOf(ld) / 1e3
        m("curate.verdict_write_s") = spanOf(vw) / 1e3
        val writeStages = repTasks.filter(t => stagesOf(vw)(t.stageId) && t.outBytes > 0).map(_.stageId).toSet
        m("curate.verdict_tasks") = repTasks.count(t => writeStages(t.stageId)).toDouble
        (stagesOf(ex), spanOf(ex), Option(rec.writes.get(s"$outDir-extracted")))
      }
    extractMetrics(rec, exStages, exWallMs, cores).foreach { case (k, v) => m(k) = v }
    // file bytes of the staged input times the stages that scan it: Spark's
    // parquet reader under-reports the listener's input bytesRead
    m("sources.scan_mb") = BenchMain.parquetBytes(staged.dir)._1 / 1e6 * m("extract.scan_stages")
    exPlan match {
      case Some(p) => m("extract.exchanges") = Plans.exchanges(p).toDouble
      case None => problems += "traced rep: the extract write's executed plan was not captured"
    }
    val scanStages = repTasks.filter(_.inRecords > 0).map(_.stageId).toSet
    val account = layerAccount(repTasks, scanStages, wallMs, cores)
    val accounted = account.values.sum / (wallMs * cores / 1e3)
    m("trace.wall_s") = wallMs / 1e3
    m("trace.overhead_s") = wallMs / 1e3 - median(reps.map(_.wall))
    m("trace.accounted_frac") = accounted
    if (math.abs(accounted - 1.0) > 0.1)
      problems += f"traced rep: layers account for $accounted%.3f of wall x cores, not within 10 %%"
    if (traced.isEmpty) problems += "traced rep failed"
    val (sinkBytes, sinkFiles) = BenchMain.parquetBytes(outDir)
    m("sink.out_mb") = sinkBytes / 1e6
    m("sink.files") = sinkFiles.toDouble
    m("jvm.gc_s") = median(reps.map(_.gcMs / 1e3))
    m("jvm.jit_s") = median(reps.map(_.jitMs / 1e3))
    // demoted from the end-to-end metrics: on a 4-core host it varied by
    // more than a tenth between runs of one seed (333 to 405 MB, crawl_mix)
    m("jvm.heap_peak_mb") = median(reps.map(_.heapPeak / 1e6))

    // ---- instrumented scalar pass: each layer call timed per page ----
    val acc = spark.sparkContext.collectionAccumulator[LayerStats]("layers")
    val ps = System.currentTimeMillis()
    val cols = if (w == Workload.CurateFunnel) Checks.ARTIFACT_COLS else Checks.DOC_COLS
    val got = Checks.fold(LayerCalls.docs(pages, acc).toDF(), cols)
    val scalarSpan = spans.add(parent, "scalar_pass", 0, ps, System.currentTimeMillis())
    if (got != expected) problems += s"instrumented scalar pass ${got.json} != oracle ${expected.json}"
    val tot = new LayerStats(-1, 0L)
    acc.value.forEach { s =>
      tot.add(s)
      spans.add(scalarSpan, s"partition:${s.partition}", 0, s.start, s.end, "pages" -> s.pages,
        "sniff_ms" -> s.sniffNs / 1e6, "decode_ms" -> s.decodeNs / 1e6, "htmlblocks_ms" -> s.htmlNs / 1e6,
        "pdfruns_ms" -> s.pdfNs / 1e6, "classify_ms" -> s.classifyNs / 1e6, "lines_ms" -> s.linesNs / 1e6,
        "assemble_ms" -> s.assembleNs / 1e6, "other_ms" -> ((s.end - s.start) - s.layersNs / 1e6))
    }
    m("charset.sniff_busy_s") = tot.sniffNs / 1e9
    m("charset.decode_busy_s") = tot.decodeNs / 1e9
    m("charset.decode_calls") = tot.decodeCalls.toDouble
    m("htmlblocks.busy_s") = tot.htmlNs / 1e9
    m("htmlblocks.calls") = tot.htmlCalls.toDouble
    m("htmlblocks.blocks_out") = tot.blocksOut.toDouble
    m("htmlblocks.max_page_ms") = tot.htmlMaxNs / 1e6
    m("pdfruns.busy_s") = tot.pdfNs / 1e9
    m("pdfruns.calls") = tot.pdfCalls.toDouble
    m("pdfruns.ok_ratio") = if (tot.pdfCalls == 0) 0.0 else tot.pdfOk.toDouble / tot.pdfCalls
    m("classify.busy_s") = tot.classifyNs / 1e9
    m("classify.lines_busy_s") = tot.linesNs / 1e9
    m("classify.assemble_busy_s") = tot.assembleNs / 1e9
    m("classify.kept_ratio") = if (tot.blocksOut == 0) 0.0 else tot.htmlKept.toDouble / tot.blocksOut

    // ---- workload probes ----
    if (isCurate) {
      val extracted = spark.read.parquet(s"$outDir-extracted")
      val nonEmpty = extracted.filter(col("contentKind") =!= "empty" && length(col("text")) > 0)
      val (_, ldS) = BenchMain.secs(Dedup.lineDedupOver(nonEmpty.select(col("url"), col("text")))
        .write.format("noop").mode("overwrite").save())
      val (_, gS) = BenchMain.secs(TextAnalysis.withGopherSignals(spark.read.parquet(s"$outDir-linededup"))
        .write.format("noop").mode("overwrite").save())
      val probeT = System.currentTimeMillis()
      spans.add(parent, "probe:dedup.lineDedupOver", 0, probeT - ((ldS + gS) * 1000).toLong,
        probeT - (gS * 1000).toLong)
      spans.add(parent, "probe:textanalysis.withGopherSignals", 0, probeT - (gS * 1000).toLong, probeT)
      m("dedup.linededup_busy_s") = ldS
      m("textanalysis.gopher_busy_s") = gS
      val kept = spark.read.parquet(outDir).count()
      m("curate.kept_ratio") = kept.toDouble / extracted.count()
    }
    if (w == Workload.CrawlMix) {
      val st = System.currentTimeMillis()
      m("scale_eff_1to4") = scaleEfficiency(spark, a, w, n, median(reps.map(_.wall)), problems)
      spans.add(parent, "probe:scale_local1", 0, st, System.currentTimeMillis())
    }

    val layers = account.map { case (k, v) => k -> ListMap("core_s" -> v, "share" -> v / (wallMs * cores / 1e3)) }
    ListMap(METRICS.map { case (k, u) => k -> unit(m(k), u) }: _*) ++
      ListMap("_layers" -> layers)
  }

  /** Weak scaling: docs/s at local[cores] over all pages against cores x
    * docs/s at local[1] over the first quarter of them. Stops the session
    * and runs a second one at local[1]; the caller's session is unusable
    * afterwards.
    */
  private def scaleEfficiency(spark: SparkSession, a: BenchMain.Args, w: Workload, n: Long,
                              fullWall: Double, problems: scala.collection.mutable.Buffer[String]): Double = {
    spark.stop()
    val one = BenchMain.session(1, a.work)
    try {
      val q = n / a.cores
      val st = Staging.stage(one, w, a.seed, q, a.cores, s"${a.work}/in-quarter")
      val pages = Staging.read(one, st.dir)
      val expected = Checks.fold(Checks.oracleDocs(pages), Checks.DOC_COLS)
      val out = s"${a.work}/out"
      val walls = (0 to 2).map { _ =>
        val (_, s) = BenchMain.secs(Extract.extract(pages).write.mode("overwrite").parquet(out))
        Checks.extractOutput(one, out, expected).foreach(p => problems += s"local[1] rep: $p")
        s
      }.tail
      (n / fullWall) / (a.cores * (q / median(walls)))
    } finally one.stop()
  }
}
