package graft.operators

import graft.Page
import org.apache.spark.sql.{Dataset, Observation, SparkSession}
import org.apache.spark.sql.functions._

/** The end-to-end curation pipeline — the operators of this library composed
  * into the one program a training-data run actually executes:
  *
  *   extract → C4 line dedup → quality gate (length + Gopher repetition) →
  *   exact dedup → deterministic split → partitioned write
  *
  * Three writes and no other action. The extraction lands as a parquet
  * artifact (`<out>-extracted`) — cheaper than block-manager checkpointing
  * at corpus scale, resumable, and column-pruned by every downstream
  * consumer — and the line-deduped text as a second (`<out>-linededup`).
  * The whole verdict chain (Gopher signals, dedup window, split) then runs
  * in ONE pass fused with the final partitioned write; the audit funnel is
  * collected DURING the writes via `observe` (the A3 metrics pattern), so
  * no per-stage recount jobs and no second materialization.
  *
  * Every parquet file the pipeline writes, artifacts and corpus alike, is
  * [[CODEC]] (zstd at its default level), set on each writer so that it
  * holds whatever the session's codec is. On the curate funnel zstd writes
  * 31 % fewer bytes than snappy, and so reads 31 % fewer back, in the same
  * wall time (BASELINE.md, *Curate output codec*).
  */
object Curate {

  /** The parquet codec of every curate output (and of [[graft.streaming.StreamingCurate]]'s). */
  private[graft] val CODEC = "zstd"

  case class Report(
      extracted: Long, nonEmpty: Long, qualityKept: Long,
      uniqueKept: Long, train: Long, `val`: Long, test: Long,
      piiDocs: Long = 0L, nearDropped: Long = 0L)

  /** Quality thresholds (integer, documented in the report):
    * ≥ 20 whitespace tokens, ≤ 30 % duplicate lines, top bigram ≤ 20 % of
    * characters.
    */
  val MIN_TOKENS = 20L
  val MAX_DUP_LINE_X1000 = 300L
  val MAX_TOP_BIGRAM_X1000 = 200L
  val MIN_ZRATIO_X1000 = 150L

  /** Whitespace token count (the non-empty space-separated segments) —
    * shared by the verdict pass, the near-dedup keeper election and
    * curate-stream's token floor so they can never diverge on what
    * "quality" means. */
  private[graft] def nTokCol = regexp_count(col("text"), lit("[^ ]+")).cast("long")

  /** The quality gate predicate, over columns (n_tok, dup_line_frac_x1000,
    * top_bigram_frac_x1000, text). One definition, two evaluation sites. */
  private def qualityPred(zratioGate: Boolean) =
    col("n_tok") >= MIN_TOKENS &&
      col("dup_line_frac_x1000") <= MAX_DUP_LINE_X1000 &&
      col("top_bigram_frac_x1000") <= MAX_TOP_BIGRAM_X1000 &&
      (if (!zratioGate) lit(true)
       // exact integer cross-multiplication: 1000*n_def/n_raw >= τ
       else lit(1000L) * graft.functions.exprs.deflateLen(col("text")) >=
         lit(MIN_ZRATIO_X1000) * octet_length(col("text")).cast("long"))

  /** @param cutSpans opt-in EXACTSUBSTR stage (Lee et al. 2022): after line
    *                  dedup, every corpus-wide duplicated >= 8-token span is
    *                  cut from its documents before the quality gate judges
    *                  the remainder. Off by default — it adds two exchanges
    *                  of the gram table (see [[Dedup.substrOver]]) and the
    *                  measured funnel in BENCH.md is the default pipeline.
    */
  /** @param scrubPii opt-in compliance stage: emails / NANP phones / IPv4
    *                  literals in surviving documents are redacted to typed
    *                  placeholders ([[TextAnalysis.scrubPii]]) inside the
    *                  SAME fused verdict/write pass — per-row regexes only,
    *                  zero added exchanges; the report counts affected docs.
    *                  Off by default so the committed funnel measurements
    *                  and rerun-determinism checks stay byte-comparable.
    */
  /** @param zratioGate opt-in compression-ratio gate (CCNet/RefinedWeb): a
    *                  doc fails quality when `1000*deflate_len(text) <
    *                  MIN_ZRATIO_X1000 * octet_length(text)` — repetition/
    *                  keyword-stuffing that the Gopher signals' line- and
    *                  bigram-granularity can miss. The native codegen'd
    *                  `deflate_len` expression keeps the check inside the
    *                  same fused verdict pass (exact integer comparison by
    *                  cross-multiplication — no division). Off by default:
    *                  a deflate call per doc is real CPU (~the cost of
    *                  re-tokenizing), so it's a knob, not a baseline stage.
    */
  /** @param nearDedup opt-in MinHash near-duplicate stage (the C4/RefinedWeb
    *                  fuzzy-dedup step the default funnel's EXACT dedup does
    *                  not cover): LSH band-collision candidates (>= 2 of 4
    *                  bands — one 36-bit agreement is the precision knob;
    *                  production would add an exact-Jaccard verify pass on
    *                  the survivors) over the EXTRACTED text (pre line-dedup
    *                  — see the stage comment for why), min-label-propagation
    *                  connected components, keep the lexicographically-least
    *                  url per cluster. The fused verdict pass left-joins
    *                  the drop set on url; that join is the only one the
    *                  pass has (the Gopher signals are per-row columns, not
    *                  a join). Off by default:
    *                  the component loop is a multi-job iteration, and the
    *                  committed funnel measurements are the default path.
    */
  def run(spark: SparkSession, pages: Dataset[Page], outDir: String,
          cutSpans: Boolean = false, scrubPii: Boolean = false,
          zratioGate: Boolean = false, nearDedup: Boolean = false,
          robotsGate: Boolean = false): Report = {
    import org.apache.spark.sql.expressions.Window
    def timed[T](stage: String)(f: => T): T = {
      val t0 = System.nanoTime()
      val r = f
      System.err.println(f"[curate] $stage%-12s ${(System.nanoTime() - t0) / 1e9}%.1f s")
      r
    }

    // optional page-level robots compliance gate (opt-in): drop pages whose
    // OWN markup says noindex before any byte of them is extracted — a
    // compliant corpus must honor the page directive even when robots.txt
    // allows the path (the ex_metarobots rule, fused into the product
    // pipeline). Uses the production parser (Structured.robotsMeta) over
    // the production decode, per-row and partition-local: scan-speed, zero
    // exchanges, no plan change downstream (the funnel's `extracted` count
    // reflects the gate).
    val input: Dataset[Page] =
      if (!robotsGate) pages
      else pages.filter { (p: Page) =>
        p.html == null ||
          graft.functions.Charset.sniffKind(p.html) != "html" || {
            val h = graft.functions.Charset.decode(p.html)
            !Structured.robotsMeta(h)._2.contains("noindex")
          }
      }

    // both artifacts are read back with the schema of the frame that wrote
    // them (no schema-inference job), and the extracted count is observed
    // on the write (no recount job)
    val exDir = s"$outDir-extracted"
    val extracted = Observation("extracted")
    val exFrame = Extract.extract(input).toDF()
      .select(col("url"), col("warc_ts"), col("lang"), col("text"), col("contentKind"))
    timed("extract")(exFrame.observe(extracted, count(lit(1)).as("n"))
      .write.mode("overwrite").option("compression", CODEC).parquet(exDir))
    val docs = spark.read.schema(exFrame.schema).parquet(exDir)

    val nonEmpty = docs.filter(col("contentKind") =!= "empty" && length(col("text")) > 0)

    // C4 corpus-level line dedup: boilerplate lines keep one occurrence.
    // The line-deduped frame ALSO lands as a parquet artifact. The default
    // verdict pass reads it once; it stays because the opt-in stages read
    // the deduped text again (the span cut scans it twice, near-dedup
    // judges cluster members on it) and would otherwise re-run the dedup
    // per consumer, because a stopped run can resume from it, and because
    // perfbench measures its bytes and reads it back
    val ldDir = s"$outDir-linededup"
    val ldFrame = Dedup.lineDedupOver(nonEmpty)
      .select(col("url"), col("warc_ts"), col("lang"), col("contentKind"),
        col("text_dedup").as("text"))
    timed("linededup")(ldFrame.write.mode("overwrite").option("compression", CODEC).parquet(ldDir))
    val withText0 = spark.read.schema(ldFrame.schema).parquet(ldDir)

    // optional EXACTSUBSTR span cut: corpus-wide duplicated spans removed,
    // document remainders kept (the cut text then faces the quality gate).
    // The cut passes the other columns through, one row per line-deduped
    // row, so no join puts them back. The result lands as a parquet
    // artifact like the extract stage: near-dedup reads the text again, and
    // without the artifact each consumer would re-run the gram pipeline
    val withText =
      if (!cutSpans) withText0
      else {
        val cutDir = s"$outDir-cut"
        val cutFrame = Dedup.substrCutOver(withText0.withColumnRenamed("url", "doc_id"))
          .select(col("doc_id").as("url"), col("warc_ts"), col("lang"),
            col("contentKind"), col("text_cut").as("text"))
        timed("cut-spans")(cutFrame.write.mode("overwrite").option("compression", CODEC)
          .parquet(cutDir))
        spark.read.schema(cutFrame.schema).parquet(cutDir)
      }

    // optional MinHash near-dedup: candidates from >= 2 shared LSH bands,
    // clustered to connected components, all but the least url dropped.
    // Similarity is measured on the EXTRACTED text (pre line-dedup — the
    // GPT-3/Pile fuzzy-dedup input): an exact re-serve of a page would
    // otherwise shred at the line deduper (every line loses to the
    // original's earlier occurrence) and die at the gate mislabeled
    // "low quality" instead of "duplicate" — the distinction a curation
    // audit needs. Reads the column-pruned extract artifact; the drop set
    // lands as a tiny (url)-only table that the fused pass left-joins on
    // url, the one join that pass has.
    val nearDrop =
      if (!nearDedup) None
      else Some(timed("near-dedup") {
        val pairs = Dedup.minhashPairsOver(
            nonEmpty.select(col("url").as("doc_id"), col("text")))
          .filter(col("n_bands") >= 2)
          .select(col("doc_a"), col("doc_b"))
        val labels = Dedup.componentsOver(pairs)
        // keeper election among GATE-PASSING members: the naive rule (keep
        // the component label = least url) lets a low-quality canonical
        // erase its whole cluster — the keeper fails the gate AND every
        // other member is dropped as a near-dup. Re-judge just the cluster
        // members (a cluster-overhead-sized set) on the SAME line-deduped
        // text + thresholds the verdict pass uses, then keep the least
        // quality-passing url per component; least url overall when no
        // member passes (outcome identical — the gate drops them all).
        val members = withText.select(col("url"), col("text"))
          .join(labels.withColumnRenamed("id", "url"), Seq("url"))
        val judgedM = TextAnalysis.withGopherSignals(members)
          .withColumn("n_tok", nTokCol)
          .withColumn("ok", qualityPred(zratioGate))
        val w = Window.partitionBy("comp")
        judgedM
          .withColumn("keeper", coalesce(
            min(when(col("ok"), col("url"))).over(w), min(col("url")).over(w)))
          .filter(col("url") =!= col("keeper"))
          .select("url")
          // the drop set is cluster-overhead-sized; materialize it once so
          // the verdict pass doesn't re-run the LSH join + component loop
          .localCheckpoint()
      })

    // Gopher repetition signals + length gate, as verdict columns — computed
    // IN PLACE (every signal is a per-row expression): the former url-keyed
    // self-join shuffled the full corpus text twice and scanned the artifact
    // twice just to attach columns derivable from the row itself
    val judged0 = TextAnalysis.withGopherSignals(withText)
    val judged = nearDrop.fold(judged0.withColumn("near_dup", lit(false))) { d =>
      judged0.join(d.withColumn("near_dup", lit(true)), Seq("url"), "left_outer")
        .withColumn("near_dup", coalesce(col("near_dup"), lit(false)))
    }
      .withColumn("n_tok", nTokCol)
      .withColumn("quality_ok", qualityPred(zratioGate))

    // exact dedup among quality survivors: first url per text fingerprint
    val w = Window.partitionBy("fp").orderBy("url")
    val flagged = judged
      // rejected rows get a per-row key: a shared NULL fp would funnel every
      // rejected document through one window partition (skew)
      .withColumn("fp", when(col("quality_ok") && !col("near_dup"), md5(col("text")))
        .otherwise(concat(lit("rejected:"), col("url"))))
      .withColumn("unique_ok",
        col("quality_ok") && !col("near_dup") && row_number().over(w) === 1)
      .withColumn("split",
        when(!col("unique_ok"), lit(null).cast("string")).otherwise {
          val h = conv(substring(md5(col("url")), 1, 4), 16, 10).cast("long") % 100
          when(h < 80, "train").when(h < 90, "val").otherwise("test")
        })

    // opt-in PII scrub: redaction + per-row match count, fused into the same
    // pass (per-row regexes, zero exchanges — plan pinned for ta_pii)
    val scrubbed =
      if (!scrubPii) flagged.withColumn("n_pii", lit(0L))
      else {
        val (n, red) = TextAnalysis.scrubPii(col("text"))
        flagged.withColumn("n_pii", n).withColumn("text", red)
      }

    // one fused pass: verdicts + audit counts (observe) + partitioned write
    val obs = Observation("curate")
    timed("curate+write")(scrubbed
      .observe(obs,
        count(lit(1)).as("nonEmpty"),
        count(when(col("quality_ok"), 1)).as("qualityKept"),
        count(when(col("unique_ok"), 1)).as("uniqueKept"),
        count(when(col("split") === "train", 1)).as("train"),
        count(when(col("split") === "val", 1)).as("val"),
        count(when(col("split") === "test", 1)).as("test"),
        count(when(col("unique_ok") && col("n_pii") > 0, 1)).as("piiDocs"),
        count(when(col("near_dup"), 1)).as("nearDropped"))
      .filter(col("unique_ok"))
      .select(col("split"), col("url"), col("warc_ts"), col("lang"),
        col("contentKind"), col("n_tok"), col("text"))
      .write.mode("overwrite").option("compression", CODEC)
      .partitionBy("split").parquet(outDir))

    val m = obs.get
    Report(extracted.get("n").asInstanceOf[Long], m("nonEmpty").asInstanceOf[Long],
      m("qualityKept").asInstanceOf[Long], m("uniqueKept").asInstanceOf[Long],
      m("train").asInstanceOf[Long], m("val").asInstanceOf[Long],
      m("test").asInstanceOf[Long], m("piiDocs").asInstanceOf[Long],
      m("nearDropped").asInstanceOf[Long])
  }
}
