package graft.perfbench

import graft.operators.{Curate, Extract}
import java.lang.management.ManagementFactory
import javax.management.{Notification, NotificationEmitter, NotificationListener}
import javax.management.openmbean.CompositeData
import org.apache.spark.sql.SparkSession
import scala.collection.immutable.ListMap
import scala.jdk.CollectionConverters._

/** The extraction benchmark's measuring process: one workload, one seed, one
  * closed-loop driver running one job at a time at local[cores].
  *
  *   set-up  = session start + input staging (STAGINGS times, median) + the
  *             first (cold) pass
  *   warm-up = untimed, unchecked reps for WARMUP_FACTOR x `seconds` (at
  *             least one)
  *   timed   = full-output reps (parquet in, parquet out) until `seconds`
  *             have passed and at least MIN_REPS ran; each rep's output is
  *             read back and checked after its clock stops
  *   traced  = (--trace 1 only) one more rep with a listener attached, an
  *             instrumented scalar pass that times each layer call, and
  *             the workload's own layer probes; spans go to --spans
  *
  * Prints one line `PERFBENCH_RESULT {json}` for perfbench/run.py.
  */
object BenchMain {
  val STAGINGS = 3
  val MIN_REPS = 3
  val WARMUP_FACTOR = 1.5
  val CANARY_PAGES = 64L
  val DEFAULT_SEED = 1L

  case class Args(workload: Workload, seed: Long, seconds: Double, trace: Boolean, work: String,
                  cores: Int, pages: Option[Long], spans: Option[String])

  /** Task slots: one processor fewer than the host has, left to the driver
    * thread, the JIT compilers and GC. With a slot on every processor they
    * contend with the tasks, and docs/s spread twice as wide between runs.
    */
  def cores: Int = math.max(1, Runtime.getRuntime.availableProcessors() - 1)

  def parse(argv: Array[String]): Args = {
    val kv = argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def req(k: String) = kv.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Args(Workload.named(req("workload")), req("seed").toLong, req("seconds").toDouble,
      kv.get("trace").contains("1"), req("work"), cores,
      kv.get("pages").map(_.toLong), kv.get("spans"))
  }

  def main(argv: Array[String]): Unit = {
    val out = run(parse(argv))
    println("PERFBENCH_RESULT " + Json.value(out))
  }

  def session(cores: Int, work: String): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", (cores * 4).toString)
      .config("spark.sql.files.maxPartitionBytes", "16m")
      .config("spark.sql.session.timeZone", "UTC")
      // one rep plus its check generates more classes than Spark's default
      // codegen cache holds (100); at the default every rep regenerates its
      // code and the JIT compiles it again, 2-5 s of compile per rep that
      // varies between JVMs. Held, code is generated in the cold pass.
      .config("spark.sql.codegen.cache.maxEntries", "10000")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def median(xs: scala.collection.Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0 else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }
  private def now(): Long = System.currentTimeMillis()
  def secs[T](f: => T): (T, Double) = {
    val t0 = System.nanoTime(); val r = f; (r, (System.nanoTime() - t0) / 1e9)
  }
  private def cpuNs(): Long =
    ManagementFactory.getOperatingSystemMXBean.asInstanceOf[com.sun.management.OperatingSystemMXBean]
      .getProcessCpuTime
  /** CPU time of every live Java thread, by id. JVM-internal threads (JIT
    * compilers, GC workers) are not Java threads, so they are left out.
    */
  private def threadCpuNs(): Map[Long, Long] = {
    val mx = ManagementFactory.getThreadMXBean
    mx.getAllThreadIds.map(id => id -> mx.getThreadCpuTime(id)).filter(_._2 >= 0).toMap
  }
  private def gcMs(): Long = ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum
  private def jitMs(): Long = ManagementFactory.getCompilationMXBean.getTotalCompilationTime

  /** Bytes of parquet part files under `dir`, and how many there are. */
  def parquetBytes(dir: String): (Long, Int) = {
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.flatMap(walk) else Seq(f)
    val parts = walk(new java.io.File(dir)).filter(_.getName.endsWith(".parquet"))
    (parts.map(_.length).sum, parts.size)
  }

  def deleteTree(f: java.io.File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.foreach(deleteTree)
    f.delete()
  }

  /** Peak old-generation occupancy right after a collection, over an armed
    * window, from the JVM's GC notifications.
    */
  final class OldGenPeak extends NotificationListener {
    @volatile var armed = false
    @volatile var peak = 0L
    ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
      case e: NotificationEmitter => e.addNotificationListener(this, null, null)
      case _ =>
    }
    def handleNotification(n: Notification, hb: AnyRef): Unit =
      if (armed && n.getType == "com.sun.management.gc.notification") {
        val info = com.sun.management.GarbageCollectionNotificationInfo.from(n.getUserData.asInstanceOf[CompositeData])
        info.getGcInfo.getMemoryUsageAfterGc.asScala.foreach { case (pool, u) =>
          if (pool.contains("Old") || pool.contains("Tenured")) peak = math.max(peak, u.getUsed)
        }
      }
    def window[T](f: => T): (T, Long) = { peak = 0L; armed = true; try (f, peak) finally armed = false }
  }

  /** One rep's measurements; `startMs`/`endMs` bound the job, not its check.
    * `cpu` is Java-thread CPU (the program's work), `processCpu` adds the
    * JVM's own JIT and GC threads.
    */
  case class Rep(wall: Double, cpu: Double, processCpu: Double, heapPeak: Long, gcMs: Long, jitMs: Long,
                 startMs: Long, endMs: Long)

  def run(a: Args): Map[String, Any] = {
    val runStart = now()
    val w = a.workload
    val n = a.pages.getOrElse(w.defaultPages)
    val work = new java.io.File(a.work).getAbsolutePath
    new java.io.File(work).mkdirs()
    val spans = new Spans
    val runSpan = spans.add(0, "run", 0, runStart, runStart)
    val wlSpan = spans.add(runSpan, s"workload:${w.name}", 0, runStart, runStart)
    val problems = scala.collection.mutable.ArrayBuffer.empty[String]

    val sessionT = now()
    val (spark, sessionS) = secs(session(a.cores, work))
    spans.add(wlSpan, "session", 0, sessionT, now())
    try {
      // ---- set-up: staging (median of STAGINGS), fingerprint, cold pass ----
      val setupSpan = spans.add(wlSpan, "setup", 0, now(), 0L)
      val stagings = (1 to STAGINGS).map { k =>
        val t = now()
        val (st, s) = secs(Staging.stage(spark, w, a.seed, n, a.cores * 4, s"$work/in-$k"))
        spans.add(setupSpan, "stage", 0, t, now(), "rows" -> st.fingerprint.rows)
        (st, s)
      }
      val staged = stagings.last._1
      stagings.map(_._1).foreach { st =>
        if (st.fingerprint != staged.fingerprint) problems += s"staging is not deterministic: ${st.fingerprint.json}"
      }
      stagings.init.foreach(s => deleteTree(new java.io.File(s._1.dir)))
      val canary = Fingerprint.of {
        import spark.implicits._
        spark.range(0, CANARY_PAGES, 1, a.cores).map(i => w.page(DEFAULT_SEED, i)).toDF()
      }
      val pages = Staging.read(spark, staged.dir)

      val outDir = s"$work/out"
      val isCurate = w == Workload.CurateFunnel
      // the oracle's digest over the columns this workload's output keeps
      val expected = Checks.fold(Checks.oracleDocs(pages), if (isCurate) Checks.ARTIFACT_COLS else Checks.DOC_COLS)
      var curateRef: Option[Checks.CurateResult] = None
      var report: Option[Curate.Report] = None

      /** The job under test: parquet in, parquet out, every column computed. */
      def execute(): Unit =
        if (isCurate) report = Some(Curate.run(spark, pages, outDir))
        else Extract.extract(pages).write.mode("overwrite").parquet(outDir)

      /** Reads the rep's output back; every curate rep must also reproduce
        * the first rep's funnel and corpus digest.
        */
      def check(): Option[String] =
        if (!isCurate) Checks.extractOutput(spark, outDir, expected)
        else report match {
          case None => Some("no funnel report")
          case Some(r) =>
            report = None
            Checks.curateOutput(spark, outDir, r, n, expected) match {
              case Left(msg) => Some(msg)
              case Right(res) => curateRef match {
                case None => curateRef = Some(res); None
                case Some(ref) if ref == res => None
                case Some(ref) => Some(s"curate result ${res.json} != first rep ${ref.json}")
              }
            }
        }

      var attempted = 0
      var failed = 0
      val heap = new OldGenPeak
      /** One rep: timed without its output check, then checked (unless
        * `checked` is false: warm-up reps, whose output is discarded). A rep
        * that throws or fails its check counts as failed and yields no timing.
        */
      def timedRep(label: String, parent: Int, repId: Int, checked: Boolean = true): Option[Rep] = {
        attempted += 1
        val t = now()
        val (c0, g0, j0, th0) = (cpuNs(), gcMs(), jitMs(), threadCpuNs())
        val r: Either[String, Rep] =
          try {
            val ((_, peak), wall) = secs(heap.window(execute()))
            val threadCpu = threadCpuNs().map { case (id, ns) => ns - th0.getOrElse(id, 0L) }.sum
            Right(Rep(wall, threadCpu / 1e9, (cpuNs() - c0) / 1e9, peak, gcMs() - g0, jitMs() - j0, t, now()))
          } catch { case e: Exception => Left(s"threw ${e.getClass.getSimpleName}: ${e.getMessage}") }
        val tEnd = now()
        val problem = r.left.toOption.orElse(if (checked) check() else None)
        spans.add(parent, label, repId, t, tEnd, "ok" -> problem.isEmpty)
        problem.foreach { p => failed += 1; problems += s"$label: $p" }
        if (problem.isEmpty) r.toOption else None
      }

      val cold = timedRep("cold_rep", setupSpan, 0)
      spans.setEnd(setupSpan, now())
      val setupS = sessionS + median(stagings.map(_._2)) + cold.map(_.wall).getOrElse(Double.NaN)
      // warm-up: the JIT keeps compiling Spark's driver-side code for many
      // reps after the cold one, and how far it has got sets the rep time,
      // so reps run untimed, and unchecked to fit more of them, before the
      // timed window; every rep that is timed is checked
      val warmT0 = System.nanoTime()
      var warm = 0
      while (warm < 1 || (System.nanoTime() - warmT0) / 1e9 < WARMUP_FACTOR * a.seconds) {
        warm += 1
        timedRep("warmup_rep", wlSpan, 0, checked = false)
      }

      val timedSpan = spans.add(wlSpan, "timed", 0, now(), 0L)
      val t0 = System.nanoTime()
      val reps = scala.collection.mutable.ArrayBuffer.empty[Rep]
      var k = 0
      while (((System.nanoTime() - t0) / 1e9 < a.seconds || k < MIN_REPS) && k < 1000) {
        k += 1
        timedRep(s"rep", timedSpan, k).foreach(reps += _)
      }
      spans.setEnd(timedSpan, now())
      val (outBytes, _) =
        if (isCurate) Seq(outDir, s"$outDir-extracted", s"$outDir-linededup").map(parquetBytes)
          .reduce((x, y) => (x._1 + y._1, x._2 + y._2))
        else parquetBytes(outDir)

      val wall = reps.map(_.wall)
      val e2e = ListMap[String, Any](
        "docs_per_s" -> unit(median(wall.map(n / _)), "1/s"),
        "cpu_s_per_kdoc" -> unit(median(reps.map(_.cpu / (n / 1000.0))), "s"),
        "setup_s" -> unit(setupS, "s"),
        "out_bytes_per_in_byte" -> unit(outBytes.toDouble / staged.payloadBytes, "ratio"))

      val traced =
        if (!a.trace) ListMap.empty[String, Any]
        else Traced.measure(spark, a, w, n, pages, staged, outDir, spans, wlSpan, reps.toSeq,
          expected, () => timedRep("traced_rep", wlSpan, k + 1), problems)

      val end = now()
      spans.setEnd(wlSpan, end)
      spans.setEnd(runSpan, end)
      a.spans.foreach(spans.write)
      ListMap(
        "workload" -> w.name,
        "seed" -> a.seed,
        "pages" -> n,
        "cores" -> a.cores,
        "attempted" -> attempted,
        "failed" -> failed,
        "problems" -> problems.toSeq,
        "timed_reps" -> reps.size,
        "rep_wall_s" -> wall.toSeq,
        "rep_cpu_s" -> reps.map(_.cpu).toSeq,
        "rep_process_cpu_s" -> reps.map(_.processCpu).toSeq,
        "rep_jit_s" -> reps.map(_.jitMs / 1e3).toSeq,
        "rep_gc_s" -> reps.map(_.gcMs / 1e3).toSeq,
        "setup" -> ListMap("session_s" -> sessionS, "staging_s" -> stagings.map(_._2),
          "cold_pass_s" -> cold.map(_.wall).getOrElse(Double.NaN)),
        "input" -> ListMap("fingerprint" -> staged.fingerprint.asMap, "payload_bytes" -> staged.payloadBytes,
          "staged_bytes" -> parquetBytes(staged.dir)._1,
          "canary" -> canary.asMap, "canary_seed" -> DEFAULT_SEED, "canary_pages" -> CANARY_PAGES),
        "output" -> (if (isCurate) curateRef.map(_.asMap).orNull else expected.asMap),
        "jdk" -> System.getProperty("java.version"),
        "spark" -> org.apache.spark.SPARK_VERSION,
        "end_to_end" -> e2e,
        "per_layer" -> traced)
    } finally {
      spark.stop()
      deleteTree(new java.io.File(work))
    }
  }

  def unit(v: Double, u: String): Map[String, Any] = ListMap("value" -> v, "unit" -> u)
}
