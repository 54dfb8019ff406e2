package graft.sources

import graft.Model
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.mapreduce.{Job, JobID, TaskAttemptID, TaskID, TaskType}
import org.apache.hadoop.mapreduce.task.TaskAttemptContextImpl
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.XxHash64Function
import org.apache.spark.sql.connector.distributions.{Distribution, Distributions}
import org.apache.spark.sql.connector.expressions.{Expressions, NamedReference, SortOrder}
import org.apache.spark.sql.connector.read.{Batch, InputPartition, PartitionReaderFactory, Scan, ScanBuilder, SupportsRuntimeV2Filtering}
import org.apache.spark.sql.connector.write.{BatchWrite, DataWriter, DataWriterFactory, LogicalWriteInfo, PhysicalWriteInfo, RequiresDistributionAndOrdering, RowLevelOperation, Write, WriteBuilder, WriterCommitMessage}
import org.apache.spark.sql.connector.write.RowLevelOperation.Command
import org.apache.spark.sql.execution.datasources.{FilePartition, OutputWriter, OutputWriterFactory}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.types.{StringType, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** Group-based (copy-on-write) MERGE / UPDATE / data-predicate DELETE for
  * [[PagesTable]] via DataSource-v2 `SupportsRowLevelOperations` — the SQL
  * surface a lakehouse user types first:
  *
  *   MERGE INTO graft.pages t USING updates s ON t.url = s.url
  *     WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *
  *
  * Shape (the one Iceberg/Delta use for COW):
  *  - Spark rewrites the command into `ReplaceData`: scan the AFFECTED
  *    groups, apply the merge logic row-by-row, hand the replacement rows to
  *    this operation's write, which swaps the groups atomically-by-intent.
  *  - The scan is the table's delegate v2 parquet scan with the pushdown
  *    surface deliberately HIDDEN: COW must read back every surviving row of
  *    an affected group, so a pushed data predicate would silently delete
  *    the non-matching rows of rewritten files. Group pruning still happens
  *    at RUNTIME: the scan forwards `SupportsRuntimeV2Filtering`, and
  *    Spark's `RowLevelOperationRuntimeGroupFiltering` plans a subquery on
  *    the partition columns (bucket, day) so only partitions containing
  *    matches are read — and therefore only those are rewritten. At 10^12
  *    documents the rewrite cost is proportional to the TOUCHED partitions,
  *    not the table.
  *  - The scan records exactly the files it planned (post runtime filter);
  *    commit replaces exactly those. Driver state is one path string per
  *    affected file — bounded by the touched-partition file count.
  *  - Writers write real parquet through the same `ParquetFileFormat` write
  *    support every other engine path uses, routed per-row into the
  *    bucket/day layout with DOT-HIDDEN names (invisible to scans and
  *    [[Snapshots.walkData]] until commit renames them visible). The bucket
  *    is RECOMPUTED from url (`pmod(xxhash64(url), n)`) — the layout
  *    function is the readers' url locator, so incoming bucket/day values
  *    are never trusted; an UPDATE that changes url correctly moves the row.
  *  - Commit is write-ahead-intent ([[RowLevelCommit]] through
  *    [[Recovery]]): a crash mid-commit is rolled FORWARD by the next table
  *    operation, then snapshotted. Single-writer, like the rest of the
  *    engine.
  *  - The write declares `RequiresDistributionAndOrdering` clustering on
  *    (bucket, day) so replacement rows of one partition land in one task
  *    (no small-file explosion); Spark plans the one exchange.
  */
class GraftRowLevelOperation(table: PagesTable, cmd: Command)
    extends RowLevelOperation {

  /** dataDir-relative paths of the files the scan planned LAST — the exact
    * group content the commit must replace. Last-call-wins is load-bearing:
    * `planInputPartitions` fires once UNFILTERED during planning (and again
    * for the group-filter subquery's own scan, which shares this op) and
    * once more at execution AFTER `SupportsRuntimeV2Filtering.filter`
    * narrowed it to the affected partitions. The execution-time (filtered)
    * call is always the final one — accumulating instead would delete
    * untouched groups whose surviving rows were never read back.
    */
  @volatile private var replaced: Seq[String] = Seq.empty
  @volatile private var lockedByFilter = false

  private[sources] def recordPlanned(rel: Seq[String], postFilter: Boolean): Unit =
    synchronized {
      if (postFilter) { replaced = rel; lockedByFilter = true }
      else if (!lockedByFilter) replaced = rel
      // an unfiltered late call (lazy plan forced after execution) can never
      // clobber the authoritative filtered set
    }
  private[sources] def replacedFiles: Seq[String] = replaced.sorted

  override def command(): Command = cmd

  override def description(): String = s"graft-cow-$cmd(${table.name()})"

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder = {
    val delegate = table.delegateScanBuilder(options)
    // no pushdown traits on purpose: COW reads whole groups (see scaladoc)
    () => new RecordingScan(delegate.build(), table.dataDir, this)
  }

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
    new WriteBuilder {
      override def build(): Write = new CowWrite(table, GraftRowLevelOperation.this, info.schema())
    }
}

/** Wraps the delegate parquet scan to (a) implement runtime group filtering
  * on the partition columns and (b) record the finally-planned file set for
  * the commit's replace step.
  *
  * The group filtering is implemented HERE, not forwarded: Spark's v2
  * `FileScan` implements no runtime-filtering trait, and
  * `RowLevelOperationRuntimeGroupFiltering` only fires when the row-level
  * scan itself is `SupportsRuntimeV2Filtering` with non-empty
  * `filterAttributes`. Exactly ONE attribute (`bucket`) is reported on
  * purpose: the rule builds a single IN-subquery over ALL reported
  * attributes, and with two it becomes `named_struct(bucket, day) IN
  * subquery` — which `translateRuntimeFilterV2` cannot translate
  * (single-column `InSubqueryExec` only), so the whole filter silently
  * drops and every group is rewritten. Bucket alone is the dominant pruner
  * for url-keyed upserts: a MERGE touching k urls rewrites at most k of
  * the numBuckets url-hash groups. Day-granular pruning is not lost where
  * it matters — partition-predicate retention deletes take the
  * `SupportsDelete` metadata path and never reach this scan. Predicates
  * that don't translate are ignored, which is always SAFE here: less
  * pruning means more groups read back and rewritten byte-identically,
  * never lost rows.
  */
class RecordingScan(inner: Scan, dataDir: String, op: GraftRowLevelOperation)
    extends Scan with SupportsRuntimeV2Filtering {

  import org.apache.spark.sql.connector.expressions.{Literal => V2Literal}
  import org.apache.spark.sql.connector.expressions.filter.Predicate

  override def readSchema(): StructType = inner.readSchema()
  override def description(): String = s"recording(${inner.description()})"

  override def filterAttributes(): Array[NamedReference] =
    Array(Expressions.column("bucket"))

  @volatile private var filtered = false
  // conjunction of surviving-partition predicates; None until filter() runs
  @volatile private var keep: Option[(Int, Option[String]) => Boolean] = None

  private def inValues(p: Predicate): Option[(String, Seq[Any])] =
    p.children().toList match {
      case (f: NamedReference) :: rest if f.fieldNames().length == 1 =>
        Some((f.fieldNames()(0),
          rest.collect { case l: V2Literal[_] if l.value != null => l.value }))
      case _ => None
    }

  private def toFn(p: Predicate): Option[(Int, Option[String]) => Boolean] =
    p.name() match {
      case "IN" | "=" =>
        inValues(p).flatMap {
          case ("bucket", vs) =>
            val set = vs.collect { case n: Number => n.intValue() }.toSet
            Some((b: Int, _: Option[String]) => set.contains(b))
          case ("day", vs) =>
            val set = vs.map(String.valueOf).toSet
            Some((_: Int, d: Option[String]) => d.exists(set.contains))
          case _ => None
        }
      case "ALWAYS_FALSE" => Some((_, _) => false)
      case _ => None // unknown predicate: skip (prune less, never wrongly)
    }

  override def filter(predicates: Array[Predicate]): Unit = {
    val fns = predicates.toSeq.flatMap(p => toFn(p))
    if (fns.nonEmpty) keep = Some((b, d) => fns.forall(f => f(b, d)))
    filtered = true
  }

  private lazy val innerBatch: Batch = inner.toBatch

  // partition-value ordinals in the delegate's partition schema (bucket=INT,
  // day=STRING dirs; day's string type is pinned by the user schema)
  private lazy val (bucketOrd, dayOrd) = inner match {
    case fs: org.apache.spark.sql.execution.datasources.v2.FileScan =>
      (fs.readPartitionSchema.fieldIndex("bucket"), fs.readPartitionSchema.fieldIndex("day"))
    case other =>
      throw new IllegalStateException(s"row-level delegate is not a FileScan: $other")
  }

  override def toBatch: Batch = new Batch {
    override def planInputPartitions(): Array[InputPartition] = {
      val raw = innerBatch.planInputPartitions()
      val parts: Array[InputPartition] = keep match {
        case None => raw
        case Some(k) => raw.flatMap {
          case fp: FilePartition =>
            val fs = fp.files.filter { f =>
              val pv = f.partitionValues
              k(pv.getInt(bucketOrd),
                Option(pv.getUTF8String(dayOrd)).map(_.toString))
            }
            if (fs.isEmpty) None else Some(FilePartition(fp.index, fs))
          case other => Some(other)
        }
      }
      val base = java.nio.file.Paths.get(dataDir)
      op.recordPlanned(parts.toSeq.flatMap {
        case fp: FilePartition =>
          fp.files.map(f => base.relativize(java.nio.file.Paths.get(f.pathUri.getPath)).toString)
        case _ => Seq.empty
      }, postFilter = filtered)
      parts
    }
    override def createReaderFactory(): PartitionReaderFactory =
      innerBatch.createReaderFactory()
  }
}

/** Hadoop Configuration is Writable, not Serializable: carry the driver-side
  * job conf (which [[ParquetFileFormat.prepareWrite]] stamped with the write
  * schema + codec settings) to executors by value.
  */
class SerializableConf(@transient var conf: Configuration) extends Serializable {
  private def writeObject(out: java.io.ObjectOutputStream): Unit = {
    out.defaultWriteObject()
    conf.write(out)
  }
  private def readObject(in: java.io.ObjectInputStream): Unit = {
    in.defaultReadObject()
    conf = new Configuration(false)
    conf.readFields(in)
  }
}

case class CowTaskCommit(moves: Seq[(String, String)]) extends WriterCommitMessage

class CowWrite(table: PagesTable, op: GraftRowLevelOperation, writeSchema: StructType)
    extends Write with RequiresDistributionAndOrdering {

  // one task per replacement (bucket, day) partition: no small-file explosion
  override def requiredDistribution(): Distribution =
    Distributions.clustered(Array(Expressions.column("bucket"), Expressions.column("day")))
  override def requiredOrdering(): Array[SortOrder] = Array.empty

  override def toBatch: BatchWrite = new BatchWrite {
    override def createBatchWriterFactory(info: PhysicalWriteInfo): DataWriterFactory = {
      val spark = SparkSession.active
      val job = Job.getInstance(spark.sessionState.newHadoopConf())
      // persisted columns = write schema minus the directory-encoded
      // partition columns — contract + evolved extras, never hardcoded:
      // a merge on an evolved table must carry the extra columns through
      // the group rewrite or they'd silently null out. Computed ONCE and
      // passed through the factory so prepareWrite and the per-file
      // newInstance can never disagree on the parquet footer schema.
      val dataSchema = StructType(
        writeSchema.fields.filterNot(f => f.name == "bucket" || f.name == "day"))
      val owf = new ParquetFileFormat()
        .prepareWrite(spark, job, Map.empty[String, String], dataSchema)
      new CowWriterFactory(owf, new SerializableConf(job.getConfiguration),
        writeSchema, dataSchema, table.bucketCount, table.dataDir,
        spark.sessionState.conf.sessionLocalTimeZone)
    }

    override def commit(messages: Array[WriterCommitMessage]): Unit = {
      val moves = messages.toSeq.collect { case c: CowTaskCommit => c.moves }.flatten
      RowLevelCommit.run(table.tableDir, moves, op.replacedFiles)
    }

    override def abort(messages: Array[WriterCommitMessage]): Unit =
      messages.toSeq.collect { case c: CowTaskCommit => c.moves }.foreach(_.foreach {
        case (hidden, _) => new java.io.File(s"${table.dataDir}/$hidden").delete()
      })
  }
}

/** The MERGE commit: one [[Recovery]] intent whose header `base=<v>` is
  * the latest version at commit time and whose op lines are the renames
  * (`mv\t<hidden>\t<final>`) and the replaced files (`rm\t<path>`), then
  * the replay that applies them and records a snapshot.
  */
object RowLevelCommit {
  /** @param moves   dataDir-relative (hiddenName, finalName) pairs
    * @param deletes dataDir-relative paths the merge scan planned (replaced)
    */
  def run(tableDir: String, moves: Seq[(String, String)], deletes: Seq[String]): Unit = {
    val base = Snapshots.latestVersion(tableDir).getOrElse(0)
    Recovery.commit(tableDir, Recovery.MERGE, Seq("base" -> base.toString),
      moves.map { case (h, f) => Seq("mv", h, f) } ++ deletes.map(d => Seq("rm", d)))
    replay(tableDir)
  }

  /** Apply a pending MERGE intent (no-op without one); idempotent. The
    * snapshot is recorded only while the latest version is still `base`:
    * a MERGE that crashed after its record and before clearing its intent
    * already committed, and records nothing on replay. An intent without a
    * `base=` header (written before the header existed) always records.
    * The rule is by version, not by file set, so a MERGE that changed no
    * file still commits its own version.
    */
  def replay(tableDir: String): Unit =
    Recovery.read(tableDir, Recovery.MERGE).foreach { intent =>
      val dataDir = new java.io.File(tableDir, "data")
      val base = dataDir.toPath
      intent.ops.foreach {
        case List("mv", hidden, fin) => Recovery.move(base.resolve(hidden), base.resolve(fin))
        case List("rm", rel) => java.nio.file.Files.deleteIfExists(base.resolve(rel))
        case other => throw new IllegalStateException(
          s"corrupt ${Recovery.MERGE} line: ${other.mkString("\t")}")
      }
      Recovery.pruneEmpty(dataDir)
      val latest = Snapshots.latestVersion(tableDir).getOrElse(0)
      if (intent.header.get("base").forall(_.toInt == latest)) Snapshots.record(tableDir)
      Recovery.clear(tableDir, Recovery.MERGE)
    }
}

class CowWriterFactory(owf: OutputWriterFactory, conf: SerializableConf,
    writeSchema: StructType, dataSchema: StructType,
    numBuckets: Int, dataDir: String, tzId: String)
    extends DataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long): DataWriter[InternalRow] =
    new CowDataWriter(owf, conf.conf, writeSchema, dataSchema, numBuckets,
      dataDir, tzId, partitionId, taskId)
}

/** Routes replacement rows into the bucket/day layout, one dot-hidden
  * parquet file per (bucket, day) this task sees (the write's clustered
  * distribution makes that one file per partition overall). Projects away
  * the physical partition columns — they are directory-encoded, exactly
  * like every other writer of this layout.
  */
class CowDataWriter(owf: OutputWriterFactory, conf: Configuration,
    writeSchema: StructType, dataSchema: StructType,
    numBuckets: Int, dataDir: String, tzId: String,
    partitionId: Int, taskId: Long)
    extends DataWriter[InternalRow] {

  // Spark 4.1's group-based rewrite prepends `__row_operation` (int) to the
  // ReplaceData query output, but ReplaceDataExec.writingTask only applies
  // the stripping rowProjection when a metadataProjection also exists — with
  // no metadata attrs the writer receives the RAW query row (writeSchema
  // + 1 leading field). Detected per-row-width once, offset applied to every
  // ordinal; a mismatch beyond one extra leading field is a loud error, not
  // a silent mis-read (field ordinals into an UnsafeRow are unchecked).
  private var off = -1
  private def resolveOffset(row: InternalRow): Int = {
    val o = row.numFields - writeSchema.length
    require(o == 0 || o == 1,
      s"pages merge: row has ${row.numFields} fields for ${writeSchema.length}-col write schema")
    o
  }

  private val urlI = writeSchema.fieldIndex("url")
  private val tsI = writeSchema.fieldIndex("warc_ts")

  /** (field, ordinal-in-writeSchema) of every PERSISTED column — exactly
    * the `dataSchema` prepareWrite was given (single source of truth from
    * CowWrite), located in the write row by name. Copied generically so
    * evolved extra columns survive group rewrites.
    */
  private val dataFields: Array[(org.apache.spark.sql.types.StructField, Int)] =
    dataSchema.fields.map(f => (f, writeSchema.fieldIndex(f.name)))

  private val ctx = new TaskAttemptContextImpl(conf,
    new TaskAttemptID(new TaskID(new JobID("graft-cow", 0), TaskType.MAP, partitionId),
      taskId.toInt & Int.MaxValue))
  private val ext = owf.getFileExtension(ctx)
  private val uuid = java.util.UUID.randomUUID().toString.take(8)

  private val dayFmt = java.time.format.DateTimeFormatter.ofPattern("yyyy-MM-dd")
    .withZone(java.time.ZoneId.of(tzId))

  // (bucket, day) -> (writer, hiddenRel, finalRel); bounded by the distinct
  // partitions routed to this task (one, under clustered distribution)
  private val writers =
    scala.collection.mutable.LinkedHashMap.empty[(Int, String), (OutputWriter, String, String)]

  private def day(micros: Long): String =
    dayFmt.format(java.time.Instant.EPOCH.plus(micros, java.time.temporal.ChronoUnit.MICROS))

  override def write(row: InternalRow): Unit = {
    if (off < 0) off = resolveOffset(row)
    val url = row.getUTF8String(off + urlI)
    require(url != null, "pages merge: url must not be null (layout key)")
    val h = XxHash64Function.hash(url, StringType, 42L)
    val b = ((h % numBuckets) + numBuckets) % numBuckets
    val d = if (row.isNullAt(off + tsI)) "__HIVE_DEFAULT_PARTITION__" else day(row.getLong(off + tsI))
    val (w, _, _) = writers.getOrElseUpdate((b.toInt, d), {
      val dir = new java.io.File(s"$dataDir/bucket=$b/day=$d")
      dir.mkdirs()
      val name = s"merge-$uuid-p$partitionId-${writers.size}$ext"
      val rel = s"bucket=$b/day=$d"
      val writer = owf.newInstance(s"$dir/.$name", dataSchema, ctx)
      (writer, s"$rel/.$name", s"$rel/$name")
    })
    val out = new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(dataFields.length)
    var j = 0
    while (j < dataFields.length) {
      val (f, i) = dataFields(j)
      out.update(j, if (row.isNullAt(off + i)) null else row.get(off + i, f.dataType))
      j += 1
    }
    w.write(out)
  }

  override def commit(): WriterCommitMessage = {
    writers.values.foreach(_._1.close())
    CowTaskCommit(writers.values.map(v => (v._2, v._3)).toSeq)
  }

  override def abort(): Unit = {
    writers.values.foreach { case (w, hidden, _) =>
      try w.close() catch { case _: Exception => () }
      new java.io.File(s"$dataDir/$hidden").delete()
    }
  }

  override def close(): Unit = ()
}
