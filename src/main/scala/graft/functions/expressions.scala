package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, ExpressionInfo, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.{FunctionIdentifier, InternalRow}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{BinaryType, DataType, LongType, StringType, StructField, StructType}
import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst scalar expressions (SURVEY.md §2.10 U1) — the only
  * custom code-carrying scalars in the engine. Each has `nullSafeEval` AND
  * `doGenCode`, so a projection using them stays inside WholeStageCodegen
  * (a Scala `udf` would force an object-serialization boundary instead).
  *
  * Registered as SQL functions (`sniff_kind`, `decode_sniff`,
  * `decode_entities`) via [[GraftExtensions]]:
  * `spark.sql.extensions=graft.functions.GraftExtensions` or
  * `SparkSession.builder.withExtensions(new GraftExtensions)`.
  */
object exprs {
  import org.apache.spark.sql.graftshim.GraftShim.{column, expression}
  def sniffKind(c: Column): Column = column(SniffKind(expression(c)))
  def decodeSniff(c: Column): Column = column(DecodeSniff(expression(c)))
  def decodeEntities(c: Column): Column = column(DecodeEntities(expression(c)))
  def nfcNormalize(c: Column): Column = column(NfcNormalize(expression(c)))
  def deflateLen(c: Column): Column = column(DeflateLen(expression(c)))
  def gopherSignals(c: Column): Column = column(GopherSignals(expression(c)))
  def keptLines(text: Column, keptPos: Column): Column =
    column(KeptLines(expression(text), expression(keptPos)))
}

/** binary payload → 'html' | 'pdf' | 'text' | 'empty' (F1 payload sniff). */
case class SniffKind(child: Expression) extends UnaryExpression {
  override def dataType: DataType = StringType
  override def nullIntolerant: Boolean = true
  override protected def nullSafeEval(input: Any): Any =
    UTF8String.fromString(Charset.sniffKind(input.asInstanceOf[Array[Byte]]))
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"org.apache.spark.unsafe.types.UTF8String.fromString(" +
        s"graft.functions.Charset.sniffKind($c))")
  override protected def withNewChildInternal(newChild: Expression): SniffKind =
    copy(child = newChild)
  override def prettyName: String = "sniff_kind"
}

/** binary payload → decoded text under the fixed charset policy (F2). */
case class DecodeSniff(child: Expression) extends UnaryExpression {
  override def dataType: DataType = StringType
  override def nullIntolerant: Boolean = true
  override protected def nullSafeEval(input: Any): Any =
    UTF8String.fromString(Charset.decode(input.asInstanceOf[Array[Byte]]))
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"org.apache.spark.unsafe.types.UTF8String.fromString(" +
        s"graft.functions.Charset.decode($c))")
  override protected def withNewChildInternal(newChild: Expression): DecodeSniff =
    copy(child = newChild)
  override def prettyName: String = "decode_sniff"
}

/** WHATWG named/numeric entity decode over a string (U1). */
case class DecodeEntities(child: Expression) extends UnaryExpression {
  override def dataType: DataType = StringType
  override def nullIntolerant: Boolean = true
  override protected def nullSafeEval(input: Any): Any =
    UTF8String.fromString(Entities.decodeAll(input.asInstanceOf[UTF8String].toString))
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"org.apache.spark.unsafe.types.UTF8String.fromString(" +
        s"graft.functions.Entities.decodeAll($c.toString()))")
  override protected def withNewChildInternal(newChild: Expression): DecodeEntities =
    copy(child = newChild)
  override def prettyName: String = "decode_entities"
}

/** Unicode NFC normalization (UAX #15) — canonical composition so that
  * visually-identical text (decomposed e+◌́ vs precomposed é, compatibility
  * singletons like U+212B ANGSTROM SIGN) hashes/dedups/joins as ONE key.
  * Runs before any fingerprint/dedup stage on real web text; oracled
  * bit-exactly against DuckDB's `nfc_normalize` (both implement UAX #15).
  * Fast path: `Normalizer.isNormalized` is O(n) with no allocation — ASCII
  * and already-NFC text (the overwhelming majority at web scale) never pays
  * for the rewrite.
  */
case class NfcNormalize(child: Expression) extends UnaryExpression {
  override def dataType: DataType = StringType
  override def nullIntolerant: Boolean = true
  override protected def nullSafeEval(input: Any): Any =
    NfcNormalize.nfc(input.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"graft.functions.NfcNormalize.nfc($c)")
  override protected def withNewChildInternal(newChild: Expression): NfcNormalize =
    copy(child = newChild)
  override def prettyName: String = "nfc_normalize"
}

object NfcNormalize {
  /** Codegen target: UTF8String → UTF8String, identity when already NFC. */
  def nfc(u: UTF8String): UTF8String = {
    val s = u.toString
    if (java.text.Normalizer.isNormalized(s, java.text.Normalizer.Form.NFC)) u
    else UTF8String.fromString(
      java.text.Normalizer.normalize(s, java.text.Normalizer.Form.NFC))
  }
}

/** DEFLATE length of the string's UTF-8 bytes (level 6, raw stream) — the
  * codec half of the compression-ratio quality signal (`ta_zratio` and the
  * opt-in curate gate): text whose `1000*deflate_len(text)` falls far below
  * `octet_length(text)` is repetition/keyword-stuffing. As a native
  * codegen'd expression the gate FUSES into the surrounding columnar pass —
  * no typed mapPartitions boundary in the curate pipeline's one verdict
  * stage. One `Deflater` per task thread (ThreadLocal, reset per call): the
  * native-stream allocation is paid once per executor thread, not per row.
  */
case class DeflateLen(child: Expression) extends UnaryExpression {
  override def dataType: DataType = org.apache.spark.sql.types.LongType
  override def nullIntolerant: Boolean = true
  override protected def nullSafeEval(input: Any): Any =
    DeflateLen.deflateLen(input.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.DeflateLen.deflateLen($c)")
  override protected def withNewChildInternal(newChild: Expression): DeflateLen =
    copy(child = newChild)
  override def prettyName: String = "deflate_len"
}

object DeflateLen {
  private val local = new ThreadLocal[java.util.zip.Deflater] {
    override def initialValue(): java.util.zip.Deflater =
      new java.util.zip.Deflater(6, true)
  }
  private val bufLocal = new ThreadLocal[Array[Byte]] {
    override def initialValue(): Array[Byte] = new Array[Byte](1 << 16)
  }

  /** Codegen target: UTF8String → compressed byte count (level 6, nowrap). */
  def deflateLen(u: UTF8String): Long = {
    val d = local.get()
    val buf = bufLocal.get()
    d.reset()
    d.setInput(u.getBytes)
    d.finish()
    var n = 0L
    while (!d.finished()) n += d.deflate(buf)
    n
  }
}

/** The five Gopher repetition signals of a document
  * ([[graft.operators.TextAnalysis.withGopherSignals]]) as one struct:
  * n_lines, dup_line_frac_x1000, dup_char_frac_x1000, top_bigram_n,
  * top_bigram_frac_x1000. Lines are the non-empty LF-separated segments,
  * tokens the non-empty space-separated segments of a line, bigrams two
  * adjacent tokens of one line joined by a space, lengths are codepoints,
  * and the top bigram is the greatest by (count, UTF-8 byte order — the
  * order of `UTF8String.compareTo`). Fractions are integer x1000 (`div`).
  * One walk over the bytes counts lines and bigrams in hash tables. It is
  * a native kernel because Spark has no codegen for higher-order
  * functions: as filter/transform/aggregate/array_sort lambdas the same
  * signals run interpreted per row.
  */
case class GopherSignals(child: Expression) extends UnaryExpression {
  override def dataType: DataType = GopherSignals.schema
  override def nullIntolerant: Boolean = true
  override protected def nullSafeEval(input: Any): Any =
    GopherSignals.signals(input.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.GopherSignals.signals($c)")
  override protected def withNewChildInternal(newChild: Expression): GopherSignals =
    copy(child = newChild)
  override def prettyName: String = "gopher_signals"
}

object GopherSignals {
  val schema: StructType = StructType(Seq("n_lines", "dup_line_frac_x1000",
    "dup_char_frac_x1000", "top_bigram_n", "top_bigram_frac_x1000")
    .map(StructField(_, LongType, nullable = false)))

  private val space = UTF8String.fromString(" ")

  /** Codegen target: UTF8String → the five signals. Invalid UTF-8 is first
    * repaired the way Spark's `split` repairs it (a `String` round trip). */
  def signals(text: UTF8String): InternalRow = {
    val u = if (text.isValid) text else UTF8String.fromString(text.toString)
    val base = u.getBaseObject
    val off = u.getBaseOffset
    val n = u.numBytes
    // lines and tokens are views of the text's bytes; only bigrams are copied
    def slice(from: Int, to: Int) = UTF8String.fromAddress(base, off + from, to - from)
    val lines = new java.util.HashSet[UTF8String]
    val bigrams = new java.util.HashMap[UTF8String, Integer]
    var nLines, lineChars, uniqChars = 0L
    var topN = 0
    var top: UTF8String = null // greatest (count, bigram) so far
    var lineStart = 0
    var tokStart = -1
    var prev: UTF8String = null // the token before, on this line
    var i = 0
    while (i <= n) {
      val c = if (i < n) Platform.getByte(base, off + i) else '\n'.toByte
      if (c == ' ' || c == '\n') {
        if (tokStart >= 0) {
          val tok = slice(tokStart, i)
          if (prev != null) {
            val bg = UTF8String.concat(prev, space, tok)
            val cnt = bigrams.getOrDefault(bg, 0) + 1
            bigrams.put(bg, cnt)
            if (cnt > topN || (cnt == topN && bg.compareTo(top) > 0)) {
              topN = cnt
              top = bg
            }
          }
          prev = tok
          tokStart = -1
        }
        if (c == '\n') {
          if (i > lineStart) {
            val line = slice(lineStart, i)
            val chars = line.numChars
            nLines += 1
            lineChars += chars
            if (lines.add(line)) uniqChars += chars
          }
          lineStart = i + 1
          prev = null
        }
      } else if (tokStart < 0) tokStart = i
      i += 1
    }
    val lineDiv = math.max(lineChars, 1L)
    val topChars = if (top == null) 0L else top.numChars.toLong
    InternalRow(nLines, 1000L * (nLines - lines.size) / math.max(nLines, 1L),
      1000L * (lineChars - uniqChars) / lineDiv, topN.toLong,
      1000L * topN * topChars / lineDiv)
  }
}

/** A document rebuilt from the lines that line dedup keeps
  * ([[graft.operators.Dedup.lineDedupOver]]), as the struct n_lines,
  * n_kept, text_dedup. Lines are the LF-separated segments of the text,
  * numbered from 0 the way `split(text, '\n')` numbers them; n_lines counts
  * the non-empty ones, and text_dedup joins with LF the n_kept non-empty
  * lines whose number is in `kept_pos` (ascending, repeats allowed). One
  * walk over the UTF-8 bytes copies the kept lines; when every byte is
  * kept the text itself is returned. Invalid UTF-8 is first repaired the
  * way `split` repairs it. It is a native kernel because the
  * filter/transform lambdas it replaces run interpreted per row.
  */
case class KeptLines(left: Expression, right: Expression) extends BinaryExpression {
  override def dataType: DataType = KeptLines.schema
  override def nullIntolerant: Boolean = true
  override protected def nullSafeEval(text: Any, keptPos: Any): Any =
    KeptLines.kept(text.asInstanceOf[UTF8String], keptPos.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (t, p) => s"graft.functions.KeptLines.kept($t, $p)")
  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): KeptLines =
    copy(left = newLeft, right = newRight)
  override def prettyName: String = "kept_lines"
}

object KeptLines {
  val schema: StructType = StructType(Seq(
    StructField("n_lines", LongType, nullable = false),
    StructField("n_kept", LongType, nullable = false),
    StructField("text_dedup", StringType, nullable = false)))

  /** Codegen target: (text, ascending kept line numbers) → the struct. */
  def kept(text: UTF8String, keptPos: ArrayData): InternalRow = {
    val u = if (text.isValid) text else UTF8String.fromString(text.toString)
    val base = u.getBaseObject
    val off = u.getBaseOffset
    val n = u.numBytes
    // k kept lines and their k - 1 separators never exceed the text
    val out = new Array[Byte](n)
    var len = 0
    var nLines, nKept = 0L
    var line = 0 // number of the current segment
    var p = 0 // first unread entry of keptPos
    var start = 0
    var i = 0
    while (i <= n) {
      if (i == n || Platform.getByte(base, off + i) == '\n') {
        if (i > start) {
          nLines += 1
          while (p < keptPos.numElements && keptPos.getInt(p) < line) p += 1
          if (p < keptPos.numElements && keptPos.getInt(p) == line) {
            if (nKept > 0) { out(len) = '\n'.toByte; len += 1 }
            Platform.copyMemory(base, off + start, out, Platform.BYTE_ARRAY_OFFSET + len, i - start)
            len += i - start
            nKept += 1
          }
        }
        line += 1
        start = i + 1
      }
      i += 1
    }
    // the kept bytes are a subsequence of the text: all of them is the text
    InternalRow(nLines, nKept, if (len == n) u else UTF8String.fromBytes(out, 0, len))
  }
}

/** SparkSessionExtensions hook registering the graft SQL functions. */
object GraftExtensions {
  val functions: Seq[(FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression)] = Seq(
    (FunctionIdentifier("sniff_kind"),
      new ExpressionInfo(classOf[SniffKind].getName, "sniff_kind"),
      (children: Seq[Expression]) => SniffKind(children.head)),
    (FunctionIdentifier("decode_sniff"),
      new ExpressionInfo(classOf[DecodeSniff].getName, "decode_sniff"),
      (children: Seq[Expression]) => DecodeSniff(children.head)),
    (FunctionIdentifier("decode_entities"),
      new ExpressionInfo(classOf[DecodeEntities].getName, "decode_entities"),
      (children: Seq[Expression]) => DecodeEntities(children.head)),
    (FunctionIdentifier("nfc_normalize"),
      new ExpressionInfo(classOf[NfcNormalize].getName, "nfc_normalize"),
      (children: Seq[Expression]) => NfcNormalize(children.head)),
    (FunctionIdentifier("deflate_len"),
      new ExpressionInfo(classOf[DeflateLen].getName, "deflate_len"),
      (children: Seq[Expression]) => DeflateLen(children.head)),
    FreqSketchMG.registration
  )

  /** Register on an already-running session (tests, REPL). */
  def register(spark: org.apache.spark.sql.SparkSession): Unit =
    functions.foreach { case (id, info, b) =>
      org.apache.spark.sql.graftshim.GraftShim.registerFunction(spark, id, info, b)
    }
}

class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    GraftExtensions.functions.foreach(ext.injectFunction)
    // Whole-operator stack: the TopKPerKey strategy plus the optimizer rule
    // that rewrites naive row_number-filter top-k into it (AutoTopKRewrite).
    ext.injectPlannerStrategy(_ => graft.plans.TopKStrategy)
    ext.injectOptimizerRule(_ => graft.plans.AutoTopKRewrite)
  }
}
