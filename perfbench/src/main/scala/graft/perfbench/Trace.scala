package graft.perfbench

import graft.{ExtractedDoc, Page, Span}
import graft.functions.Charset
import graft.operators.{Classify, HtmlBlocks, PdfRuns}
import java.util.concurrent.ConcurrentLinkedQueue
import org.apache.spark.TaskContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.Dataset
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.execution.datasources.InsertIntoHadoopFsRelationCommand
import org.apache.spark.sql.execution.exchange.Exchange
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.util.QueryExecutionListener
import scala.jdk.CollectionConverters._

/** One finished task, as the listener saw it (times in ms, except `swNs`). */
case class TaskRec(stageId: Int, launch: Long, finish: Long, run: Long, deser: Long, ser: Long,
                   gc: Long, swNs: Long, swBytes: Long, srBytes: Long, fetchWait: Long,
                   spill: Long, inRecords: Long, inBytes: Long, outBytes: Long) {
  def duration: Long = finish - launch
}
case class StageRec(stageId: Int, name: String, submitted: Long, completed: Long)
case class JobRec(jobId: Int, execId: Long, start: Long, var end: Long, stageIds: Seq[Int])
/** A SQL execution; `target` is the path it writes, if it is a file write. */
case class ExecRec(execId: Long, start: Long, var end: Long, target: Option[String])

/** Records Spark listener events and the executed plans of write commands.
  * Registered only for traced reps, so the timed reps run without it.
  */
final class Recorder extends SparkListener with QueryExecutionListener {
  val tasks = new ConcurrentLinkedQueue[TaskRec]()
  val stages = new ConcurrentLinkedQueue[StageRec]()
  val jobs = new java.util.concurrent.ConcurrentHashMap[Int, JobRec]()
  val execs = new java.util.concurrent.ConcurrentHashMap[Long, ExecRec]()
  /** Output path of each write command → its final executed plan. */
  val writes = new java.util.concurrent.ConcurrentHashMap[String, SparkPlan]()

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m != null && e.taskInfo.successful) tasks.add(TaskRec(
      e.stageId, e.taskInfo.launchTime, e.taskInfo.finishTime, m.executorRunTime,
      m.executorDeserializeTime, m.resultSerializationTime, m.jvmGCTime,
      m.shuffleWriteMetrics.writeTime, m.shuffleWriteMetrics.bytesWritten,
      m.shuffleReadMetrics.totalBytesRead, m.shuffleReadMetrics.fetchWaitTime,
      m.diskBytesSpilled, m.inputMetrics.recordsRead, m.inputMetrics.bytesRead,
      m.outputMetrics.bytesWritten))
  }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val s = e.stageInfo
    stages.add(StageRec(s.stageId, s.name, s.submissionTime.getOrElse(0L), s.completionTime.getOrElse(0L)))
  }
  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val exec = Option(e.properties).flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
      .map(_.toLong).getOrElse(-1L)
    jobs.put(e.jobId, JobRec(e.jobId, exec, e.time, e.time, e.stageIds))
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobs.get(e.jobId)).foreach(_.end = e.time)
  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart =>
      execs.put(s.executionId, ExecRec(s.executionId, s.time, s.time, Recorder.writeTarget(s.physicalPlanDescription)))
    case s: SparkListenerSQLExecutionEnd => Option(execs.get(s.executionId)).foreach(_.end = s.time)
    case _ =>
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    Plans.nodes(qe.executedPlan).collectFirst { case w: DataWritingCommandExec => w.cmd }.foreach {
      case i: InsertIntoHadoopFsRelationCommand => writes.put(i.outputPath.toUri.getPath, qe.executedPlan)
      case _ =>
    }
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()

  def taskList: Seq[TaskRec] = tasks.asScala.toSeq
  def stageList: Seq[StageRec] = stages.asScala.toSeq
  def jobList: Seq[JobRec] = jobs.values.asScala.toSeq.sortBy(_.jobId)
  def execList: Seq[ExecRec] = execs.values.asScala.toSeq.sortBy(_.execId)
}

object Recorder {
  /** The output path in a formatted plan's write node: the `Arguments:`
    * line after `(n) Execute InsertIntoHadoopFsRelationCommand`.
    */
  def writeTarget(formattedPlan: String): Option[String] =
    formattedPlan.linesIterator.dropWhile(l => !l.matches("""\(\d+\) Execute InsertIntoHadoopFsRelationCommand.*"""))
      .find(_.startsWith("Arguments: "))
      .map(_.stripPrefix("Arguments: ").stripPrefix("file:").takeWhile(_ != ','))
}

object Plans {
  /** Every node of a final executed plan, looking through adaptive
    * execution and query stages.
    */
  def nodes(p: SparkPlan): Seq[SparkPlan] = p +: (p match {
    case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
    case q: QueryStageExec => nodes(q.plan)
    case _ => (p.children ++ p.subqueries).flatMap(nodes)
  })

  def exchanges(p: SparkPlan): Int = nodes(p).count(_.isInstanceOf[Exchange])
}

/** Per-partition layer counters of the instrumented scalar pass. */
final class LayerStats(val partition: Int, val start: Long) extends Serializable {
  var end = 0L
  var pages = 0L
  var sniffNs, decodeNs, decodeCalls = 0L
  var htmlNs, htmlCalls, blocksOut, htmlMaxNs = 0L
  var pdfNs, pdfCalls, pdfOk = 0L
  var classifyNs, linesNs, assembleNs, htmlKept = 0L

  def add(o: LayerStats): Unit = {
    pages += o.pages; sniffNs += o.sniffNs; decodeNs += o.decodeNs; decodeCalls += o.decodeCalls
    htmlNs += o.htmlNs; htmlCalls += o.htmlCalls; blocksOut += o.blocksOut
    htmlMaxNs = math.max(htmlMaxNs, o.htmlMaxNs)
    pdfNs += o.pdfNs; pdfCalls += o.pdfCalls; pdfOk += o.pdfOk
    classifyNs += o.classifyNs; linesNs += o.linesNs; assembleNs += o.assembleNs; htmlKept += o.htmlKept
  }

  /** Busy time of every timed layer call. */
  def layersNs: Long = sniffNs + decodeNs + htmlNs + pdfNs + classifyNs + linesNs + assembleNs
}

/** The scalar extraction path of `ScalarExtract.extract`, with every call
  * into a layer's entry point timed. Its output is checked against the
  * oracle digest, so the copy cannot drift from the program.
  */
object LayerCalls {
  @inline private def timed[T](add: Long => Unit)(f: => T): T = {
    val t0 = System.nanoTime()
    val r = f
    add(System.nanoTime() - t0)
    r
  }

  def extract(p: Page, s: LayerStats): ExtractedDoc = {
    s.pages += 1
    def decode() = { s.decodeCalls += 1; timed(s.decodeNs += _)(Charset.decode(p.html)) }
    def doc(text: String, spans: Vector[Span], nb: Int, nd: Int, kind: String) =
      ExtractedDoc(p.url, p.warc_ts, p.lang, text, spans, nb, nd, kind)
    timed(s.sniffNs += _)(Charset.sniffKind(p.html)) match {
      case Charset.KIND_EMPTY => doc("", Vector.empty, 0, 0, Charset.KIND_EMPTY)
      case Charset.KIND_TEXT =>
        val t = Charset.normalizeWs(decode())
        if (t.isEmpty) doc(t, Vector.empty, 0, 0, Charset.KIND_TEXT)
        else doc(t, Vector(Span(1, 0, t.codePointCount(0, t.length), 0)), 1, 0, Charset.KIND_TEXT)
      case Charset.KIND_HTML =>
        val html = decode()
        val t0 = System.nanoTime()
        val blocks = HtmlBlocks.blocks(html)
        val dt = System.nanoTime() - t0
        s.htmlNs += dt; s.htmlCalls += 1; s.blocksOut += blocks.length
        s.htmlMaxNs = math.max(s.htmlMaxNs, dt)
        val kept = timed(s.classifyNs += _)(Classify.classifyHtml(blocks))
        s.htmlKept += kept.length
        val lines = timed(s.linesNs += _)(Classify.linesFromHtml(kept))
        val (text, spans) = timed(s.assembleNs += _)(Classify.assemble(lines))
        doc(text, spans, blocks.length, blocks.length - kept.length, Charset.KIND_HTML)
      case Charset.KIND_PDF =>
        s.pdfCalls += 1
        timed(s.pdfNs += _)(PdfRuns.parse(p.html)) match {
          case Some(runs) =>
            s.pdfOk += 1
            val lines = timed(s.linesNs += _)(Classify.linesFromPdfRuns(runs))
            val (text, spans) = timed(s.assembleNs += _)(Classify.assemble(lines))
            doc(text, spans, runs.length, runs.count(_.textLen == 0), Charset.KIND_PDF)
          case None => doc("", Vector.empty, 0, 0, "pdf_unsupported")
        }
      case other => doc("", Vector.empty, 0, 0, other)
    }
  }

  /** Documents of the instrumented pass; each partition's counters reach
    * `acc` when its iterator is exhausted.
    */
  def docs(pages: Dataset[Page],
           acc: org.apache.spark.util.CollectionAccumulator[LayerStats]): Dataset[ExtractedDoc] = {
    import pages.sparkSession.implicits._
    pages.mapPartitions { it =>
      val s = new LayerStats(TaskContext.getPartitionId(), System.currentTimeMillis())
      new Iterator[ExtractedDoc] {
        private var reported = false
        def hasNext: Boolean = {
          val h = it.hasNext
          if (!h && !reported) { reported = true; s.end = System.currentTimeMillis(); acc.add(s) }
          h
        }
        def next(): ExtractedDoc = extract(it.next(), s)
      }
    }
  }
}

/** Spans kept in memory and written out once, as JSON lines. */
final class Spans {
  case class Span(id: Int, parent: Int, name: String, rep: Int, start: Long, end: Long,
                  attrs: Seq[(String, Any)])
  private val buf = scala.collection.mutable.ArrayBuffer.empty[Span]

  def add(parent: Int, name: String, rep: Int, start: Long, end: Long,
          attrs: (String, Any)*): Int = synchronized {
    val id = buf.size + 1
    buf += Span(id, parent, name, rep, start, end, attrs)
    id
  }

  def setEnd(id: Int, end: Long): Unit = synchronized { buf(id - 1) = buf(id - 1).copy(end = end) }

  /** Duration minus the part of its interval that child spans cover. */
  def selfMs(id: Int): Long = synchronized {
    val s = buf(id - 1)
    val kids = buf.filter(_.parent == id).map(k => (math.max(k.start, s.start), math.min(k.end, s.end)))
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var covered = 0L
    var curA = -1L
    var curB = -1L
    kids.foreach { case (a, b) =>
      if (a > curB) { covered += curB - curA; curA = a; curB = b }
      else curB = math.max(curB, b)
    }
    covered += curB - curA
    (s.end - s.start) - covered
  }

  def write(path: String): Unit = synchronized {
    val out = new java.io.PrintWriter(path, "UTF-8")
    try buf.foreach { s =>
      val a = s.attrs.map { case (k, v) => s""""$k":${Json.value(v)}""" }.mkString(",")
      out.println(s"""{"id":${s.id},"parent":${s.parent},"name":${Json.value(s.name)},"rep":${s.rep},""" +
        s""""start_ms":${s.start},"end_ms":${s.end},"self_ms":${selfMs(s.id)},"attrs":{$a}}""")
    } finally out.close()
  }
}

object Json {
  def value(v: Any): String = v match {
    case null => "null"
    case s: String => "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => value(f.toDouble)
    case b: Boolean => b.toString
    case n: Number => n.toString
    case m: Map[_, _] => m.map { case (k, x) => s"${value(k.toString)}:${value(x)}" }.mkString("{", ",", "}")
    case m: Seq[_] => m.map(value).mkString("[", ",", "]")
    case other => value(other.toString)
  }
}
