package graft.operators

import graft.functions.Toks
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Deduplication operators for large-scale training-data pipelines: exact
  * (hash-groupBy), n-gram Jaccard over an inverted shingle index, MinHash+LSH
  * band candidates, and SimHash fingerprints. Everything is built from
  * md5 + integer arithmetic only, so each query has a bit-exact DuckDB oracle
  * (the SQL strings below ARE the second implementation).
  *
  * Scale notes (100 TB shape):
  *   - the shingle inverted index is the canonical near-dup plan: one shuffle
  *     on `shingle`, candidate pairs only where postings meet — never a
  *     quadratic cross join;
  *   - MinHash/LSH bounds candidate generation further (band buckets), the
  *     standard trick when even the inverted index is too hot;
  *   - all group keys are high-cardinality (shingle, band sig) — skew-safe;
  *     hot shingles (stopword runs) ARE frequency-capped ([[DF_CAP]]): a
  *     count window partitioned by shingle rides the self-join's own
  *     exchange (ReusedExchange — the df pass costs no extra shuffle) and
  *     hot postings are filtered before the join, so no single-key quadratic
  *     blowup; AQE skew-join handles the residue below the cap. (The
  *     groupBy + broadcast-anti alternative was measured 3x slower — see the
  *     DF_CAP comment.)
  */
object Dedup {

  /** documents ∪ shifted copies of every 10th/7th doc — deterministic dup
    * injection so dedup queries have non-trivial positives to find.
    */
  private def docsWithDups(spark: SparkSession, sfDir: String): DataFrame = {
    val d = spark.read.parquet(s"$sfDir/documents.parquet").select("doc_id", "text")
    d.unionByName(
      d.filter(col("doc_id") % 10 === 0).withColumn("doc_id", col("doc_id") + 1000000L)
    )
  }

  private val SQL_DOCS_WITH_DUPS =
    """WITH all_docs AS (
      |  SELECT doc_id, text FROM documents
      |  UNION ALL
      |  SELECT doc_id + 1000000, text FROM documents WHERE doc_id % 10 = 0
      |)""".stripMargin

  /** Distinct (doc_id, shingle) pairs — the inverted-index input. */
  private[graft] def shingleIndex(docs: DataFrame): DataFrame =
    docs
      .select(col("doc_id"), Toks.tokens(col("text")).as("t"))
      .select(col("doc_id"), explode(Toks.shingles3(col("t"))).as("shingle"))
      .distinct()

  private val SQL_SHINGLES =
    s"""toks AS (SELECT doc_id, ${Toks.SQL_TOKENS} t FROM all_docs),
       |sh AS (SELECT DISTINCT doc_id, shingle FROM (
       |  SELECT doc_id, unnest(${Toks.SQL_SHINGLES}) AS shingle FROM toks))""".stripMargin

  /** Document-frequency cap on hot shingles — the 100 TB guardrail for the
    * inverted-index self-join: a boilerplate shingle with df=k ("click here
    * to read more" runs) emits k² candidate pairs, a single-key quadratic
    * blowup. Shingles with df > DF_CAP carry no near-dup signal (they match
    * everything) and are dropped BEFORE the join.
    *
    * Plan shape: df as a count window over the shingle partitioning — the
    * SAME hash partitioning the candidate self-join needs, so Catalyst's
    * EnsureRequirements inserts no further exchange and ReuseExchange
    * dedups the two join sides: ONE shuffle of the postings total, and the
    * hottest key costs one linear counting task (never k² join rows).
    * (A groupBy-df + broadcast-left_anti variant avoids even that linear
    * straggler but re-scans the postings per consumer — measured 3x slower
    * end-to-end at sf0.1; see BENCH.md.)
    */
  val DF_CAP = 128

  private[graft] def cappedIndex(sh: DataFrame): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window.partitionBy("shingle")
    sh.withColumn("df", count(lit(1)).over(w))
      .filter(col("df") <= DF_CAP)
      .drop("df")
  }

  private val SQL_CAPPED =
    s"""shc AS (SELECT doc_id, shingle FROM (
       |  SELECT doc_id, shingle, count(*) OVER (PARTITION BY shingle) df FROM sh)
       |  WHERE df <= $DF_CAP)""".stripMargin

  // ---- exact dedup -------------------------------------------------------

  def exact(spark: SparkSession, sfDir: String): DataFrame =
    docsWithDups(spark, sfDir)
      .groupBy(md5(col("text")).as("dup_hash"))
      .agg(count(lit(1)).as("n_copies"), min(col("doc_id")).as("keep_id"))
      .orderBy("keep_id")

  val exactSql: String =
    s"""$SQL_DOCS_WITH_DUPS
       |SELECT md5(text) AS dup_hash, count(*) AS n_copies, min(doc_id) AS keep_id
       |FROM all_docs GROUP BY 1 ORDER BY keep_id""".stripMargin

  // ---- content-defined chunking dedup (LBFS/rsync/FastCDC family) --------

  /** Rolling-gram width for chunk boundaries. Kept small enough that the
    * polynomial hash of one gram never wraps 64 bits (max BMP char 0xffff:
    * 0xffff·Σ257^i, i<6 ≈ 7.4e16 ≪ 2^63), so the boundary rule has an exact
    * SQL formulation — same reasoning as the winnowing oracle
    * ([[TextAnalysis.winnowSql]]).
    */
  private val CDC_K = 6

  /** Boundary modulus/residue: a chunk cut lands after position p whenever
    * hash(text[p-5..p]) % CDC_MOD == CDC_R — expected chunk length ≈ 64
    * chars on uniform content.
    */
  private val CDC_MOD = 64L
  private val CDC_R = 13L

  /** Content-defined chunks of `text`: boundaries wherever the rolling
    * 6-gram hash hits the residue (stateless Rabin-style cut rule, the
    * LBFS/rsync shape without min/max clamps so the rule stays a pure
    * per-position predicate — identical in SQL). The gram window rolls over
    * the ORIGINAL text across cut points, so an insertion early in a doc
    * only perturbs chunks until the next content-defined boundary — the
    * property that makes CDC find shared runs between partially-edited
    * documents where fixed-size blocks lose alignment. Concatenation of the
    * returned chunks is exactly `text`.
    */
  def cdcChunks(text: String): Vector[String] = {
    val n = text.length
    if (n == 0) return Vector.empty
    if (n < CDC_K) return Vector(text)
    val out = Vector.newBuilder[String]
    var pow = 1L
    var i = 1
    while (i < CDC_K) { pow *= 257L; i += 1 }
    var h = 0L
    i = 0
    while (i < CDC_K) { h = h * 257L + text.charAt(i); i += 1 }
    var start = 0
    var p = CDC_K - 1 // gram covers text[p-K+1 .. p]
    while (p < n) {
      if (h % CDC_MOD == CDC_R) { out += text.substring(start, p + 1); start = p + 1 }
      p += 1
      if (p < n) h = (h - text.charAt(p - CDC_K) * pow) * 257L + text.charAt(p)
    }
    if (start < n) out += text.substring(start, n)
    out.result()
  }

  /** Per-document chunk-level dedup stats over the dup-injected corpus:
    * every chunk occurrence after the fingerprint's global first occurrence
    * (lexicographic min (doc_id, seq)) counts as duplicated, byte-weighted —
    * the storage-dedup ratio, and for a training corpus the "how much of
    * this doc is recycled content" signal that catches partial overlap exact
    * dedup (DD1) misses and near-dup similarity (DD2/DD3) only thresholds.
    *
    * Scale shape (100 TB): the chunk table is corpus-sized but
    * embarrassingly parallel to produce (per-row scan); the first-occurrence
    * fold is a partial-aggregable min(struct) on the fingerprint key — hot
    * boilerplate chunks combine map-side, never a single-reducer pileup; the
    * join back takes the distinct-fp-sized first-occurrence table as the
    * BROADCAST side below the threshold (measured plan at bench scale) and
    * falls back to an fp-co-partitioned join above it (AQE skew-split
    * covers hot fingerprints); the final per-doc rollup rides the doc_id
    * key. Two hash exchanges (fp fold, doc rollup) + the deterministic
    * output sort's range exchange — pinned by test.
    */
  def cdc(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val chunks = docsWithDups(spark, sfDir)
      .select(col("doc_id"), col("text"))
      .as[(Long, String)]
      .flatMap { case (id, t) =>
        cdcChunks(t).iterator.zipWithIndex.map { case (c, s) => (id, s.toLong, c) }
      }
      .toDF("doc_id", "seq", "chunk")
      .select(
        col("doc_id"),
        col("seq"),
        md5(col("chunk")).as("fp"),
        length(col("chunk")).cast("long").as("len")
      )
    val first = chunks
      .groupBy("fp")
      .agg(min(struct(col("doc_id"), col("seq"))).as("f"))
      .select(col("fp"), col("f.doc_id").as("f_doc"), col("f.seq").as("f_seq"))
    val isDup = col("f_doc") =!= col("doc_id") || col("f_seq") =!= col("seq")
    chunks
      .join(first, "fp")
      .groupBy("doc_id")
      .agg(
        count(lit(1)).as("n_chunks"),
        sum(when(isDup, 1L).otherwise(0L)).as("dup_chunks"),
        sum(when(isDup, col("len")).otherwise(0L)).as("dup_bytes"),
        sum(col("len")).as("n_bytes")
      )
      .orderBy("doc_id")
  }

  /** The boundary rule in exact SQL (the second implementation): the 6-term
    * weighted char-code sum per position, residue filter, lag() to pair
    * consecutive boundaries into spans, per-doc tail span, md5 chunk
    * fingerprints, first occurrence via a min over the order-embedding
    * doc_id·2^20+seq (seq < 2^20 always: max doc length ≪ 1M chars).
    * BMP/ASCII precondition shared with winnowSql (unicode() == charAt).
    */
  val cdcSql: String = {
    val p5 = 257L * 257 * 257 * 257 * 257
    val p4 = 257L * 257 * 257 * 257
    val p3 = 257L * 257 * 257
    val p2 = 257L * 257
    s"""$SQL_DOCS_WITH_DUPS,
       |pos AS (
       |  SELECT doc_id, text, unnest(generate_series($CDC_K, length(text))) p
       |  FROM all_docs WHERE length(text) >= $CDC_K),
       |bnd AS (
       |  SELECT doc_id, p FROM (
       |    SELECT doc_id, p,
       |           unicode(substr(text, CAST(p - 5 AS INT), 1)) * $p5
       |         + unicode(substr(text, CAST(p - 4 AS INT), 1)) * $p4
       |         + unicode(substr(text, CAST(p - 3 AS INT), 1)) * $p3
       |         + unicode(substr(text, CAST(p - 2 AS INT), 1)) * $p2
       |         + unicode(substr(text, CAST(p - 1 AS INT), 1)) * 257
       |         + unicode(substr(text, CAST(p AS INT), 1)) AS h
       |    FROM pos)
       |  WHERE h % $CDC_MOD = $CDC_R),
       |sp AS (
       |  SELECT doc_id,
       |         coalesce(lag(p) OVER (PARTITION BY doc_id ORDER BY p), 0) + 1 s,
       |         p e
       |  FROM bnd
       |  UNION ALL
       |  SELECT d.doc_id, coalesce(m.mx, 0) + 1 s, length(d.text) e
       |  FROM all_docs d
       |  LEFT JOIN (SELECT doc_id, max(p) mx FROM bnd GROUP BY doc_id) m
       |    USING (doc_id)
       |  WHERE length(d.text) > coalesce(m.mx, 0)),
       |ch AS (
       |  SELECT d.doc_id,
       |         row_number() OVER (PARTITION BY d.doc_id ORDER BY sp.s) - 1 seq,
       |         md5(substr(d.text, CAST(sp.s AS INT), CAST(sp.e - sp.s + 1 AS INT))) fp,
       |         sp.e - sp.s + 1 len
       |  FROM sp JOIN all_docs d USING (doc_id)),
       |f AS (
       |  SELECT fp, min(doc_id * 1048576 + seq) fkey FROM ch GROUP BY fp)
       |SELECT ch.doc_id,
       |       count(*) AS n_chunks,
       |       CAST(sum(CASE WHEN f.fkey <> ch.doc_id * 1048576 + ch.seq THEN 1 ELSE 0 END) AS BIGINT) AS dup_chunks,
       |       CAST(sum(CASE WHEN f.fkey <> ch.doc_id * 1048576 + ch.seq THEN ch.len ELSE 0 END) AS BIGINT) AS dup_bytes,
       |       CAST(sum(ch.len) AS BIGINT) AS n_bytes
       |FROM ch JOIN f USING (fp)
       |GROUP BY ch.doc_id ORDER BY ch.doc_id""".stripMargin
  }

  // ---- n-gram Jaccard ----------------------------------------------------

  /** Jaccard over the df-capped shingle sets: both |A∩B| and |A|,|B| are
    * computed from the SAME capped index, so the score is the exact Jaccard
    * of the capped sets (a well-defined, reproducible semantics — the cap is
    * part of the algorithm, not an approximation knob applied inconsistently).
    * `jacc_pct` uses Spark integral `div` == DuckDB `//` (never `/`+cast:
    * double division can round across an integer boundary).
    */
  def ngramJaccard(spark: SparkSession, sfDir: String): DataFrame = {
    val sh = cappedIndex(shingleIndex(docsWithDups(spark, sfDir)))
    val n = sh.groupBy("doc_id").agg(count(lit(1)).as("n"))
    val inter = sh.as("a")
      .join(sh.as("b"),
        col("a.shingle") === col("b.shingle") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .agg(count(lit(1)).as("inter"))
    inter
      .join(n.as("na"), col("doc_a") === col("na.doc_id"))
      .join(n.as("nb"), col("doc_b") === col("nb.doc_id"))
      .selectExpr(
        "doc_a", "doc_b", "inter",
        "(100 * inter) div (na.n + nb.n - inter) AS jacc_pct"
      )
      .filter(col("jacc_pct") >= 5)
      .orderBy("doc_a", "doc_b")
  }

  val ngramJaccardSql: String =
    s"""$SQL_DOCS_WITH_DUPS,
       |$SQL_SHINGLES,
       |$SQL_CAPPED,
       |n AS (SELECT doc_id, count(*) n FROM shc GROUP BY 1),
       |p AS (SELECT a.doc_id doc_a, b.doc_id doc_b, count(*) inter
       |      FROM shc a JOIN shc b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
       |      GROUP BY 1, 2)
       |SELECT doc_a, doc_b, inter,
       |       (100 * inter) // (na.n + nb.n - inter) AS jacc_pct
       |FROM p JOIN n na ON na.doc_id = doc_a JOIN n nb ON nb.doc_id = doc_b
       |WHERE (100 * inter) // (na.n + nb.n - inter) >= 5
       |ORDER BY doc_a, doc_b""".stripMargin

  // ---- prefix-filtered all-pairs similarity join (AllPairs / PPJoin) ------

  /** Jaccard threshold for the prefix-filtered join, in percent. */
  val AP_T = 50

  /** EXACT all-pairs similarity self-join with PREFIX FILTERING (Bayardo et
    * al. WWW'07 AllPairs; Xiao et al. WWW'08 PPJoin): every document pair
    * with Jaccard ≥ [[AP_T]]% over UNCAPPED 3-shingle sets — same semantics
    * as a naive inverted-index join, at a fraction of its candidate volume.
    *
    * Each doc's shingles are ranked by a global (df, shingle) order —
    * rarest first — and only the PREFIX of length n − ⌈t·n⌉ + 1 is indexed.
    * Prefix-filtering principle: if J(x,y) ≥ t then |x∩y| ≥ ⌈t·max(|x|,|y|)⌉,
    * and an intersection that large cannot avoid both prefixes under one
    * global order (the suffix left after each prefix holds < ⌈t·n⌉ elements)
    * — so every qualifying pair meets on ≥1 prefix shingle: candidate
    * generation is COMPLETE, and exact verification (full-set intersection,
    * integer `div` Jaccard) makes it sound. The DuckDB oracle is the naive
    * uncapped inverted-index join — agreement proves the prefix filter
    * changed candidate volume only, never the result.
    *
    * Scale shape (the principled alternative to [[DF_CAP]], which trades
    * exactness for a hard bound): globally hot (boilerplate) shingles have
    * the HIGHEST df, rank last inside every document, and drop out of the
    * prefixes entirely unless a doc is tiny — so hot keys never reach the
    * candidate self-join at all, by construction rather than by cap. df is
    * a partial-agg groupBy (map-side combine, no single-key count
    * straggler); at t=0.5 the prefix is ~half of each doc's postings, and
    * verification touches full sets only for surviving candidates (≈ output
    * volume, not n²).
    */
  /** The (doc_id, shingle, n, r) prefix index: each doc's n − ⌈t·n⌉ + 1
    * rarest shingles under the global (df, shingle) order, with `r` = the
    * shingle's 1-based position in that order (the PPJoin positional-filter
    * input). Factored out so the candidate-volume claim is testable in
    * isolation.
    */
  private[graft] def apPrefix(sh: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val dfc = sh.groupBy("shingle").agg(count(lit(1)).as("df"))
    sh.join(dfc, Seq("shingle"))
      .withColumn("r",
        row_number().over(Window.partitionBy("doc_id").orderBy("df", "shingle")))
      .withColumn("n", count(lit(1)).over(Window.partitionBy("doc_id")))
      .filter(col("r") <= col("n") - expr(s"($AP_T * n + 99) div 100") + 1)
      .select("doc_id", "shingle", "n", "r")
  }

  def allpairs(spark: SparkSession, sfDir: String): DataFrame =
    allpairsOver(docsWithDups(spark, sfDir))

  /** Density guard (VERDICT_r04 #2): the exact prefix join's candidate
    * volume is Σ_s c_s·(c_s−1)/2 over the PREFIX postings — when that
    * exceeds this factor × n_docs, the corpus is saturated (shingles shared
    * by large doc fractions survive even prefix selection) and NO exact
    * algorithm escapes the blow-up: candidate volume is inherent, not an
    * implementation artifact. Above the threshold [[allpairsOver]] routes
    * candidates through the banded MinHash index instead — LOUDLY (stderr
    * routing message) — and keeps the exact full-set verification, so every
    * emitted pair still has true Jaccard ≥ t (false negatives bounded by
    * LSH band recall; zero false positives). Real-web density stays on the
    * exact path: boilerplate shingles are hot, rank last, and never reach
    * the prefixes, so the probe stays far under the threshold there.
    */
  val AP_DENSITY_FACTOR = 64L

  /** The prefix+positional-filtered join over any (doc_id, text) frame
    * (tests drive it with planted corpora), density-guarded. The probe is
    * ONE partial-aggregated pass over the prefix postings (at archive scale
    * the prefix index would be at-rest and the probe a metadata read).
    */
  private[graft] def allpairsOver(docs: DataFrame): DataFrame = {
    val sh = shingleIndex(docs)
    // persist the prefix index: the probe and the self-join share ONE
    // computation (Spark's cache is logical-plan-keyed, so repeated calls
    // over the same input reuse the same entry rather than accumulate).
    // At archive scale this is the at-rest index the probe would read as
    // metadata; MEMORY_AND_DISK so an oversized index degrades, not OOMs.
    val prefix = apPrefix(sh)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val estCand = prefix.groupBy("shingle").agg(count(lit(1)).as("c"))
      .agg(coalesce(sum(expr("c * (c - 1L) div 2L")), lit(0L)).as("cand"))
      .collect()(0).getLong(0)
    val nDocs = docs.count()
    if (estCand > AP_DENSITY_FACTOR * nDocs) {
      System.err.println(
        s"[dd_allpairs] WARNING: dense corpus — prefix join would meet on " +
          s"~$estCand candidate pairs for $nDocs docs " +
          s"(> ${AP_DENSITY_FACTOR}x); routing candidates through banded " +
          "MinHash (exact verification kept: emitted pairs are true " +
          "J>=t, recall bounded by the bands). Use dd_minhash_lsh / " +
          "dd_ngram_jaccard directly for tunable dense-corpus dedup.")
      return apVerify(
        minhashPairsOver(docs).select("doc_a", "doc_b"), sh)
    }
    val cand = prefix.as("a")
      .join(
        prefix.as("b"),
        col("a.shingle") === col("b.shingle") && col("a.doc_id") < col("b.doc_id")
          // length filter: t·max(|x|,|y|) ≤ min(|x|,|y|) is necessary for J ≥ t
          && lit(100L) * least(col("a.n"), col("b.n"))
            >= lit(AP_T.toLong) * greatest(col("a.n"), col("b.n"))
          // PPJoin positional filter (Xiao et al. WWW'08), lossless: J ≥ t
          // needs |x∩y| ≥ ⌈t(|x|+|y|)/(1+t)⌉, and at a pair's FIRST common
          // prefix shingle every shared element sits at or after (r_a, r_b)
          // in the shared global order (an earlier common element would be
          // in both prefixes — an earlier meeting), so
          // |x∩y| ≤ 1 + min(n_a−r_a, n_b−r_b). Meetings whose positional
          // bound can't reach the required overlap are pruned; a qualifying
          // pair always survives via its first meeting, where the bound
          // dominates the true intersection. Integer form of the ceil:
          // ⌈T(na+nb)/(100+T)⌉ = (T(na+nb) + 99 + T) div (100 + T).
          && lit(1L) + least(col("a.n") - col("a.r"), col("b.n") - col("b.r"))
            >= expr(s"(${AP_T}L * (a.n + b.n) + ${99 + AP_T}L) div ${100 + AP_T}L"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .distinct()
    apVerify(cand, sh)
  }

  /** Exact verification tail shared by both candidate routes: full-set
    * intersection + integer-div Jaccard against the UNCAPPED shingle sets.
    */
  private def apVerify(cand: DataFrame, sh: DataFrame): DataFrame = {
    val sets = sh.groupBy("doc_id")
      .agg(sort_array(collect_list("shingle")).as("s"), count(lit(1)).as("n"))
    cand
      .join(sets.as("sa"), col("doc_a") === col("sa.doc_id"))
      .join(sets.as("sb"), col("doc_b") === col("sb.doc_id"))
      .withColumn("inter", size(array_intersect(col("sa.s"), col("sb.s"))).cast("long"))
      .selectExpr("doc_a", "doc_b", "inter",
        "(100 * inter) div (sa.n + sb.n - inter) AS jacc_pct")
      .filter(col("jacc_pct") >= AP_T)
      .orderBy("doc_a", "doc_b")
  }

  val allpairsSql: String =
    s"""$SQL_DOCS_WITH_DUPS,
       |$SQL_SHINGLES,
       |n AS (SELECT doc_id, count(*) n FROM sh GROUP BY 1),
       |p AS (SELECT a.doc_id doc_a, b.doc_id doc_b, count(*) inter
       |      FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
       |      GROUP BY 1, 2)
       |SELECT doc_a, doc_b, inter,
       |       (100 * inter) // (na.n + nb.n - inter) AS jacc_pct
       |FROM p JOIN n na ON na.doc_id = doc_a JOIN n nb ON nb.doc_id = doc_b
       |WHERE (100 * inter) // (na.n + nb.n - inter) >= $AP_T
       |ORDER BY doc_a, doc_b""".stripMargin

  // ---- benchmark decontamination -----------------------------------------

  /** Eval-set decontamination (the step every training corpus runs before a
    * model sees it): flag corpus documents sharing any 3-gram shingle with a
    * held-out benchmark set. The benchmark shingle set is tiny at any corpus
    * scale — broadcast it; the corpus side streams through map-side, no
    * shuffle of the big side at all. Here the "benchmark" is doc_id < 20.
    */
  def contam(spark: SparkSession, sfDir: String): DataFrame = {
    val d = spark.read.parquet(s"$sfDir/documents.parquet").select("doc_id", "text")
    val benchSh = shingleIndex(d.filter(col("doc_id") < 20))
      .select("shingle").distinct()
    shingleIndex(d.filter(col("doc_id") >= 20))
      .join(broadcast(benchSh), Seq("shingle"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_shared"))
      .orderBy("doc_id")
  }

  val contamSql: String =
    s"""WITH all_docs AS (SELECT doc_id, text FROM documents),
       |$SQL_SHINGLES,
       |bench AS (SELECT DISTINCT shingle FROM sh WHERE doc_id < 20)
       |SELECT sh.doc_id, count(*) n_shared
       |FROM sh JOIN bench USING (shingle)
       |WHERE sh.doc_id >= 20
       |GROUP BY 1 ORDER BY sh.doc_id""".stripMargin

  // ---- MinHash + LSH -----------------------------------------------------

  private val K = 12 // minhashes
  private val R = 3  // rows per band -> 4 bands

  def minhashLsh(spark: SparkSession, sfDir: String): DataFrame =
    minhashPairsOver(docsWithDups(spark, sfDir)).orderBy("doc_a", "doc_b")

  /** (doc_id, band, sig) LSH band keys over any (doc_id, text) frame — the
    * shape of an at-rest signature table. Signatures over the df-capped
    * shingle sets (same cap as ngramJaccard): near-universal shingles add no
    * discriminating signal to a min-hash and their postings are the skew
    * hazard at corpus scale. The df cap is computed WITHIN the given frame,
    * so a side banded separately (the incremental history table) keeps a
    * self-contained, reproducible semantics.
    *
    * K permutations FOLDED into one aggregate of K conditional mins (r2
    * verdict note): no explode(0..K-1), so the shuffle carries |shingles|
    * rows instead of K×|shingles|, and the two-level (doc,j)→doc aggregate
    * collapses to a single doc_id groupBy whose partial agg leaves one
    * K-column row per doc per partition. Hash inputs are unchanged
    * (md5("j:shingle") with the same int→string cast), so signatures,
    * bands, and the oracle output are bit-identical to the exploded form.
    */
  private[graft] def bandsOver(docs: DataFrame): DataFrame = {
    val sh = cappedIndex(shingleIndex(docs))
    val minExprs = (0 until K).map(k =>
      min(md5(concat_ws(":", lit(k), col("shingle")))).as(s"s$k"))
    val sig = sh
      .groupBy("doc_id")
      .agg(minExprs.head, minExprs.tail: _*)
    sig.select(
      col("doc_id"),
      explode(array((0 until K / R).map { b =>
        struct(
          lit(b).as("band"),
          md5(concat((b * R until (b + 1) * R).map(k => col(s"s$k")): _*)).as("sig")
        )
      }: _*)).as("bs")
    ).select(col("doc_id"), col("bs.band").as("band"), col("bs.sig").as("sig"))
  }

  /** MinHash+LSH candidate pairs over any (doc_id, text) frame — doc_id may
    * be any orderable type (the curate stage passes urls). Returns
    * (doc_a, doc_b, n_bands) with doc_a < doc_b, unordered.
    */
  private[graft] def minhashPairsOver(docs: DataFrame): DataFrame = {
    val bands = bandsOver(docs)
    bands.as("a")
      .join(bands.as("b"),
        col("a.band") === col("b.band") && col("a.sig") === col("b.sig") &&
          col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .agg(count(lit(1)).as("n_bands"))
  }

  val minhashLshSql: String = {
    val minCases = (0 until K).map(k => s"min(CASE WHEN j = $k THEN h END) s$k").mkString(", ")
    val bandRows = (0 until K / R).map { b =>
      val cat = (b * R until (b + 1) * R).map(k => s"s$k").mkString(" || ")
      s"SELECT doc_id, $b AS band, md5($cat) AS sig FROM sig"
    }.mkString("\n  UNION ALL ")
    s"""$SQL_DOCS_WITH_DUPS,
       |$SQL_SHINGLES,
       |$SQL_CAPPED,
       |mh AS (SELECT doc_id, j, min(md5(concat_ws(':', j, shingle))) h
       |       FROM shc, generate_series(0, ${K - 1}) g(j) GROUP BY doc_id, j),
       |sig AS (SELECT doc_id, $minCases FROM mh GROUP BY doc_id),
       |bands AS (
       |  $bandRows
       |)
       |SELECT a.doc_id doc_a, b.doc_id doc_b, count(*) n_bands
       |FROM bands a JOIN bands b
       |  ON a.band = b.band AND a.sig = b.sig AND a.doc_id < b.doc_id
       |GROUP BY 1, 2 ORDER BY doc_a, doc_b""".stripMargin
  }

  // ---- near-dup connected components -------------------------------------

  /** Cluster the near-dup pair graph into CONNECTED COMPONENTS — the step
    * that turns pairwise similarity into dedup decisions (keep one canonical
    * doc per cluster; transitive near-dups A~B~C collapse even when A~C was
    * never scored). Edges: jaccard pairs with jacc_pct >= 50.
    *
    * Algorithm: iterative min-label propagation to a fixpoint — each round,
    * every vertex takes the min of its own label and its neighbors' labels;
    * rounds needed = graph diameter (dup clusters are tiny, so 2-3 here; the
    * loop converges by a driver-checked changed-count, capped at 20).
    * 100 TB shape: each round is one join + one partial-aggregated groupBy
    * on doc_id — the standard large-scale CC recipe (alternating-star
    * variants only pay off on web-graph-diameter inputs, documented here as
    * the upgrade path); `localCheckpoint` cuts the growing lineage each
    * round so the plan stays O(1) per iteration.
    *
    * Output: one row per doc in a non-singleton cluster, with the cluster
    * label (= min doc_id in the component), the cluster size, and the
    * canonical flag. Oracle: DuckDB recursive CTE transitive closure.
    */
  def components(spark: SparkSession, sfDir: String): DataFrame = {
    val edges = ngramJaccard(spark, sfDir)
      .filter(col("jacc_pct") >= 50)
      .select(col("doc_a"), col("doc_b"))
    val labels = componentsOver(edges)
    val sizes = labels.groupBy("comp").agg(count(lit(1)).as("cluster_size"))
    labels.join(sizes, Seq("comp"))
      .select(
        col("id").as("doc_id"),
        col("comp").as("cluster_id"),
        col("cluster_size"),
        (col("id") === col("comp")).as("is_canonical"))
      .orderBy("doc_id")
  }

  /** Min-label-propagation connected components over any (doc_a, doc_b)
    * edge frame (ids of any orderable type). Returns (id, comp) labels for
    * every vertex; comp = min id in the component.
    */
  private[graft] def componentsOver(edges: DataFrame): DataFrame = {
    val sym = edges.select(col("doc_a").as("s"), col("doc_b").as("d"))
      .unionByName(edges.select(col("doc_b").as("s"), col("doc_a").as("d")))
      .localCheckpoint() // edges reused every round: compute the pairs once
    var labels = sym.select(col("s").as("id")).distinct()
      .withColumn("comp", col("id"))
      .localCheckpoint()
    // label propagation needs `diameter` rounds; dup clusters are tiny (2-3
    // here) but an adversarial chain could exceed any fixed cap — so the cap
    // FAILS LOUDLY instead of silently returning unconverged (= wrong)
    // labels that would also diverge from the recursive-CTE oracle
    val maxIters =
      sys.props.get("graft.components.maxIters").map(_.toInt).getOrElse(30)
    var changed = 1L
    var iter = 0
    while (changed > 0 && iter < maxIters) {
      val prop = sym.join(labels, sym("d") === labels("id"))
        .groupBy(col("s").as("pid"))
        .agg(min(col("comp")).as("ncomp"))
      // carry the old label through the checkpointed step so convergence
      // detection is a scan of the materialized result, not a second
      // labels-vs-labels join per round
      val step = labels
        .join(prop, labels("id") === prop("pid"), "left")
        .select(col("id"),
          least(col("comp"), coalesce(col("ncomp"), col("comp"))).as("ncomp"),
          col("comp").as("ocomp"))
        .localCheckpoint()
      changed = step.filter(col("ncomp") =!= col("ocomp")).count()
      labels = step.select(col("id"), col("ncomp").as("comp"))
      iter += 1
    }
    require(changed == 0,
      s"connected components did not converge in $maxIters rounds " +
        s"($changed labels still changing) — raise -Dgraft.components.maxIters")
    labels
  }

  val componentsSql: String =
    s"""${SQL_DOCS_WITH_DUPS.replaceFirst("WITH ", "WITH RECURSIVE ")},
       |$SQL_SHINGLES,
       |$SQL_CAPPED,
       |n AS (SELECT doc_id, count(*) n FROM shc GROUP BY 1),
       |p AS (SELECT a.doc_id doc_a, b.doc_id doc_b, count(*) inter
       |      FROM shc a JOIN shc b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
       |      GROUP BY 1, 2),
       |e AS (SELECT doc_a, doc_b FROM p
       |      JOIN n na ON na.doc_id = doc_a JOIN n nb ON nb.doc_id = doc_b
       |      WHERE (100 * inter) // (na.n + nb.n - inter) >= 50),
       |sym AS (SELECT doc_a s, doc_b d FROM e UNION ALL SELECT doc_b, doc_a FROM e),
       |reach(id, lab) AS (
       |  SELECT DISTINCT s, s FROM sym
       |  UNION
       |  SELECT sym.d, reach.lab FROM reach JOIN sym ON sym.s = reach.id),
       |comp AS (SELECT id, min(lab) comp FROM reach GROUP BY id),
       |cs AS (SELECT comp, count(*) cluster_size FROM comp GROUP BY 1)
       |SELECT c.id doc_id, c.comp cluster_id, CAST(cs.cluster_size AS BIGINT) cluster_size,
       |       (c.id = c.comp) is_canonical
       |FROM comp c JOIN cs USING (comp)
       |ORDER BY doc_id""".stripMargin

  // ---- SimHash -----------------------------------------------------------

  private val SIM_BITS = 16
  private val HI_NIBBLE = Seq("8", "9", "a", "b", "c", "d", "e", "f")

  def simhash(spark: SparkSession, sfDir: String): DataFrame = {
    val sh = shingleIndex(docsWithDups(spark, sfDir))
    sh.withColumn("k", explode(sequence(lit(0), lit(SIM_BITS - 1))))
      .withColumn(
        "sgn",
        when(substring(md5(concat_ws("#", col("shingle"), col("k"))), 1, 1)
          .isin(HI_NIBBLE: _*), lit(1)).otherwise(lit(-1))
      )
      .groupBy("doc_id", "k")
      .agg(sum(col("sgn")).as("s"))
      .groupBy("doc_id")
      .agg(
        // shiftleft: pure 64-bit integer bit math (repo exactness rule)
        sum(when(col("s") >= 0, expr("shiftleft(CAST(1 AS BIGINT), k)")).otherwise(0L))
          .as("simhash16")
      )
      .orderBy("doc_id")
  }

  val simhashSql: String =
    s"""$SQL_DOCS_WITH_DUPS,
       |$SQL_SHINGLES,
       |bits AS (
       |  SELECT doc_id, k, sum(CASE WHEN substr(md5(concat_ws('#', shingle, k)), 1, 1)
       |                               IN ('8','9','a','b','c','d','e','f')
       |                        THEN 1 ELSE -1 END) s
       |  FROM sh, generate_series(0, ${SIM_BITS - 1}) g(k) GROUP BY doc_id, k)
       |SELECT doc_id,
       |       CAST(sum(CASE WHEN s >= 0 THEN CAST(1 AS BIGINT) << k ELSE 0 END)
       |            AS BIGINT) AS simhash16
       |FROM bits GROUP BY doc_id ORDER BY doc_id""".stripMargin

  // ---- simhash hamming-distance near-dup pairing ---------------------------

  /** Max hamming distance for a 64-bit simhash near-dup pair (Manku et al.
    * 2007 use k=3 at 64 bits for web-scale dedup).
    */
  private val HAM_MAX = 3

  /** SimHash near-dup PAIRING — the hamming-space complement to the minhash
    * band join (Manku/Charikar web dedup): each doc gets a 64-bit simhash
    * (sign of the per-bit shingle vote; bit k taken from bit k%4 of hex
    * digit k/4 of md5(shingle) — ONE md5 per shingle), stored as FOUR
    * 16-bit band values. By pigeonhole, two fingerprints within hamming
    * [[HAM_MAX]]=3 agree on at least one of the 4 bands, so candidates meet
    * in a band-value equi-join and the exact popcount distance filters —
    * never a quadratic fingerprint cross join. Identical copies (every 10th
    * doc) land at hamming 0; single-token mutations (every 7th, ' mutato'
    * appended) land at small nonzero hamming — both planted.
    *
    * Scale shape: band join on a 2^16-value key per band — collisions of
    * non-near fingerprints are ~df²/65536 per band (rare, AQE-splittable);
    * the fingerprint table is 4 longs/doc.
    */
  def simhashPairs(spark: SparkSession, sfDir: String): DataFrame = {
    val d = spark.read.parquet(s"$sfDir/documents.parquet").select("doc_id", "text")
    // identical %10 copies from the shared planting helper; this query adds
    // the mutated %7 branch (nonzero-hamming positives)
    val aug = docsWithDups(spark, sfDir)
      .unionByName(d.filter(col("doc_id") % 7 === 0)
        .withColumn("doc_id", col("doc_id") + 2000000L)
        .withColumn("text", concat(col("text"), lit(" mutato"))))
    val sh = shingleIndex(aug).withColumn("h", md5(col("shingle")))
    val bits = sh
      .withColumn("k", explode(sequence(lit(0), lit(63))))
      .withColumn("digit",
        conv(col("h").substr(expr("CAST(k div 4 AS INT) + 1"), lit(1)), 16, 10)
          .cast("long"))
      .withColumn("bit", expr("shiftright(digit, CAST(k % 4 AS INT)) & 1"))
      .groupBy(col("doc_id"), col("k"))
      .agg(sum(when(col("bit") === 1, 1L).otherwise(-1L)).as("s"))
    val fp = bits
      .groupBy(col("doc_id"), expr("k div 16").as("band"))
      .agg(sum(when(col("s") >= 0,
        expr("shiftleft(CAST(1 AS BIGINT), CAST(k % 16 AS INT))")).otherwise(0L)).as("b"))
      .groupBy("doc_id")
      .agg(
        sum(when(col("band") === 0, col("b")).otherwise(0L)).as("b0"),
        sum(when(col("band") === 1, col("b")).otherwise(0L)).as("b1"),
        sum(when(col("band") === 2, col("b")).otherwise(0L)).as("b2"),
        sum(when(col("band") === 3, col("b")).otherwise(0L)).as("b3"))
    val br = fp.select(col("doc_id"), col("b0"), col("b1"), col("b2"), col("b3"),
      posexplode(array(col("b0"), col("b1"), col("b2"), col("b3"))).as(Seq("band", "bv")))
    val x = br.select(br.columns.map(c => col(c).as(s"x_$c")): _*)
    val y = br.select(br.columns.map(c => col(c).as(s"y_$c")): _*)
    x.join(y,
        col("x_band") === col("y_band") && col("x_bv") === col("y_bv") &&
          col("x_doc_id") < col("y_doc_id"))
      .select(
        col("x_doc_id").as("doc_a"), col("y_doc_id").as("doc_b"),
        (expr("bit_count(x_b0 ^ y_b0) + bit_count(x_b1 ^ y_b1)") +
          expr("bit_count(x_b2 ^ y_b2) + bit_count(x_b3 ^ y_b3)")).cast("long")
          .as("hamming"))
      .filter(col("hamming") <= HAM_MAX)
      .distinct()
      .orderBy("doc_a", "doc_b")
  }

  val simhashPairsSql: String =
    s"""WITH d0 AS (SELECT doc_id, text FROM documents),
       |all_docs AS (
       |  SELECT doc_id, text FROM d0
       |  UNION ALL SELECT doc_id + 1000000, text FROM d0 WHERE doc_id % 10 = 0
       |  UNION ALL SELECT doc_id + 2000000, text || ' mutato' FROM d0 WHERE doc_id % 7 = 0),
       |$SQL_SHINGLES,
       |shh AS (SELECT doc_id, md5(shingle) h FROM sh),
       |bits AS (
       |  SELECT doc_id, k,
       |         sum(CASE WHEN (CAST(('0x' || substr(h, CAST(k // 4 AS INT) + 1, 1)) AS BIGINT)
       |                        >> CAST(k % 4 AS INT)) & 1 = 1
       |                  THEN 1 ELSE -1 END) s
       |  FROM shh, generate_series(0, 63) g(k) GROUP BY doc_id, k),
       |bands AS (
       |  SELECT doc_id, k // 16 AS band,
       |         CAST(sum(CASE WHEN s >= 0 THEN CAST(1 AS BIGINT) << CAST(k % 16 AS INT)
       |                       ELSE 0 END) AS BIGINT) b
       |  FROM bits GROUP BY doc_id, k // 16),
       |fp AS (
       |  SELECT doc_id,
       |         CAST(sum(CASE WHEN band = 0 THEN b ELSE 0 END) AS BIGINT) b0,
       |         CAST(sum(CASE WHEN band = 1 THEN b ELSE 0 END) AS BIGINT) b1,
       |         CAST(sum(CASE WHEN band = 2 THEN b ELSE 0 END) AS BIGINT) b2,
       |         CAST(sum(CASE WHEN band = 3 THEN b ELSE 0 END) AS BIGINT) b3
       |  FROM bands GROUP BY doc_id),
       |br AS (
       |  SELECT doc_id, b0, b1, b2, b3, band,
       |         (CASE band WHEN 0 THEN b0 WHEN 1 THEN b1 WHEN 2 THEN b2 ELSE b3 END) bv
       |  FROM fp, generate_series(0, 3) g(band)),
       |p AS (
       |  SELECT x.doc_id doc_a, y.doc_id doc_b,
       |         CAST(bit_count(xor(x.b0, y.b0)) + bit_count(xor(x.b1, y.b1))
       |            + bit_count(xor(x.b2, y.b2)) + bit_count(xor(x.b3, y.b3)) AS BIGINT) hamming
       |  FROM br x JOIN br y
       |    ON x.band = y.band AND x.bv = y.bv AND x.doc_id < y.doc_id)
       |SELECT DISTINCT doc_a, doc_b, hamming FROM p
       |WHERE hamming <= $HAM_MAX ORDER BY doc_a, doc_b""".stripMargin

  // ---- fuzzy string matching (blocked levenshtein join) ------------------

  /** Fuzzy entity matching: distinct part-name pairs within edit distance 3,
    * found through a BLOCKED self-join — candidates share a blocking key
    * (the name's last token) and pass a length-band prefilter, so the
    * quadratic levenshtein only runs inside blocks, never as a cross join.
    * This is the standard record-linkage shape at 100 TB: dedup the
    * vocabulary FIRST (distinct names ≪ rows), block on a stable token,
    * band by length (|Δlen| > d implies distance > d — a sound prune),
    * then score survivors. Levenshtein is a well-defined metric, identical
    * in both engines.
    */
  def fuzzy(spark: SparkSession, sfDir: String): DataFrame = {
    val names = spark.read.parquet(s"$sfDir/part.parquet")
      .select(col("p_name")).distinct()
      .withColumn("blk", element_at(split(col("p_name"), " "), -1))
    // join on the cheap prefilters with the distance as a post-join filter.
    // Catalyst pushes the dist predicate back into the join condition (no
    // pushdown barrier exists for a deterministic projection), so the DP
    // runs once per candidate pair in the join plus once per SURVIVING pair
    // in the projection — survivors are the few real matches, so the
    // effective cost is one evaluation per candidate
    names.as("a").join(names.as("b"),
      col("a.blk") === col("b.blk") &&
        col("a.p_name") < col("b.p_name") &&
        abs(length(col("a.p_name")) - length(col("b.p_name"))) <= 3)
      .select(
        col("a.p_name").as("name_a"), col("b.p_name").as("name_b"),
        levenshtein(col("a.p_name"), col("b.p_name")).cast("long").as("dist"))
      .filter(col("dist") <= 3)
      .orderBy("name_a", "name_b")
  }

  val fuzzySql: String =
    """WITH n AS (
      |  SELECT DISTINCT p_name, str_split(p_name, ' ')[-1] blk FROM part)
      |SELECT a.p_name name_a, b.p_name name_b,
      |       levenshtein(a.p_name, b.p_name) dist
      |FROM n a JOIN n b
      |  ON a.blk = b.blk AND a.p_name < b.p_name
      | AND abs(length(a.p_name) - length(b.p_name)) <= 3
      | AND levenshtein(a.p_name, b.p_name) <= 3
      |ORDER BY name_a, name_b""".stripMargin

  // ---- corpus-level line dedup (C4-style boilerplate line removal) -------

  /** Corpus-wide duplicate-LINE removal (the C4 / CCNet line-dedup stage,
    * Raffel et al. 2020 §2.2): any non-empty line occurring more than once
    * across the whole corpus keeps only its FIRST occurrence (first = min
    * (url, pos), a total order), and every document is reassembled from its
    * surviving lines in original order. This is the sub-document complement
    * of [[exact]]: it strips the shared template boilerplate ("all rights
    * reserved" navs/footers) that whole-document hashing can never catch.
    *
    * Scale shape (verified on the executed plan): the dedup DECISION rides
    * 16-byte (length, murmur3-32, xxhash64) line keys — the corpus text
    * never shuffles for it. The keeper per key is `min(struct(url, pos))`,
    * a PARTIAL-AGG-friendly aggregate, so the hottest boilerplate line
    * combines map-side and the key exchange carries at most one row per
    * distinct line per map partition. Every keeper is itself a kept
    * (url, pos), so the keepers go straight to their document: a second
    * partial-agg'd aggregate groups them by url into one sorted int array
    * of kept positions per document. No row per line occurrence outlives
    * the key aggregate, so there is no line-keyed join for a hot line to
    * skew. The text crosses the wire exactly once, in the one url-keyed
    * join that attaches the kept positions, and the native `kept_lines`
    * kernel ([[graft.functions.KeptLines]]) rebuilds each document in one
    * walk over its bytes (collision envelope documented in
    * [[lineDedupOver]]).
    */
  def lineDedup(spark: SparkSession, sfDir: String): DataFrame =
    // the oracle dump needs a deterministic total order; the pipeline form
    // (lineDedupOver) deliberately omits it — a global range sort of the
    // full text corpus is pure waste mid-pipeline (Curate consumes unordered)
    lineDedupOver(graft.sources.OracleCorpus.docs(spark).select("url", "text"))
      .orderBy("url")

  /** Core of [[lineDedup]] over any frame with `url` and `text` columns —
    * unit-testable, and the form [[Curate]] runs. The result leads with
    * url, n_lines, n_kept, n_dropped, text_dedup and passes every other
    * input column through, one row per input row. A url repeated with the
    * same text keeps each line once and every copy gets the same
    * text_dedup, as in the SQL oracle; copies of a url with different
    * texts share (url, pos) line names, so their lines are not told apart.
    */
  private[graft] def lineDedupOver(d: DataFrame): DataFrame = {
    // Key = (length, murmur3-32, xxhash64): independent hash families plus
    // the length discriminator, ~96 collision bits — a cross-family
    // collision (P ≈ n²/2^97; ~0.006 even at 3x10^13 corpus lines) costs
    // one wrongly-dropped duplicate line, never a crash. The SQL oracle
    // deduplicates by the line string itself, so the correctness gate also
    // re-checks the no-collision envelope at test scale.
    val keptPos = d
      .select(col("url"), posexplode(split(col("text"), "\n")).as(Seq("pos", "line")))
      .filter(col("line") =!= "")
      .groupBy(struct(length(col("line")).as("len"), hash(col("line")).as("h32"),
        xxhash64(col("line")).as("h64")).as("lk"))
      .agg(min(struct(col("url"), col("pos"))).as("keeper"))
      .groupBy(col("keeper.url").as("url"))
      .agg(sort_array(collect_list(col("keeper.pos"))).as("kept_pos"))
    val rest = d.columns.filterNot(Set("url", "text")).map(col).toSeq
    d.join(keptPos, Seq("url"), "left")
      .select(col("url") +: graft.functions.exprs.keptLines(col("text"),
        coalesce(col("kept_pos"), typedLit(Seq.empty[Int]))).as("kept") +: rest: _*)
      // NULL text: n_lines and n_dropped NULL, nothing kept
      .select(Seq(col("url"), col("kept.n_lines"),
        coalesce(col("kept.n_kept"), lit(0L)).as("n_kept"),
        (col("kept.n_lines") - col("kept.n_kept")).as("n_dropped"),
        coalesce(col("kept.text_dedup"), lit("")).as("text_dedup")) ++ rest: _*)
  }

  val lineDedupSql: String = {
    val D = graft.sources.OracleCorpus.DOCS_PQ
    s"""WITH l0 AS (
       |  SELECT url, string_split(text, chr(10)) lines FROM $D),
       |l AS (
       |  SELECT url, unnest(generate_series(1, len(lines))) AS pos, lines FROM l0),
       |occ AS (
       |  SELECT url, pos, lines[pos] AS line FROM l WHERE lines[pos] <> ''),
       |r AS (
       |  SELECT url, pos, line,
       |         row_number() OVER (PARTITION BY line ORDER BY url, pos) rn
       |  FROM occ),
       |kept AS (SELECT * FROM r WHERE rn = 1),
       |a AS (
       |  SELECT url, count(*) n_kept,
       |         string_agg(line, chr(10) ORDER BY pos) text_dedup
       |  FROM kept GROUP BY url),
       |n AS (
       |  SELECT url,
       |         len(list_filter(string_split(text, chr(10)), x -> x <> '')) n_lines
       |  FROM $D)
       |SELECT n.url,
       |       CAST(n_lines AS BIGINT) n_lines,
       |       CAST(coalesce(n_kept, 0) AS BIGINT) n_kept,
       |       CAST(n_lines - coalesce(n_kept, 0) AS BIGINT) n_dropped,
       |       coalesce(text_dedup, '') text_dedup
       |FROM n LEFT JOIN a USING (url) ORDER BY url""".stripMargin
  }

  // ---- contract surface --------------------------------------------------

  // ---- incremental dedup (new batch vs historical fingerprints) ------------

  /** The daily-ingest dedup shape: yesterday's corpus is already deduped
    * and summarized as a FINGERPRINT table; only the new batch is checked —
    * against history (left join on fp) and within itself (first-occurrence
    * window per fp) — so the daily cost scales with the batch, never the
    * accumulated corpus. Recrawled copies are planted deterministically
    * (doc_id % 50 = 0 re-arrives as doc_id + 100000000 with identical
    * text — the offset is far above any scale factor's id range, so planted
    * ids never collide with real ones and ORDER BY doc_id stays total) to
    * exercise both dup paths.
    *
    * Scale shape: history is a distinct-fp table (bucketed/sorted at rest
    * in production → the probe join is shuffle-free with O5 layouts; here
    * one fp shuffle); the in-batch window rides the same fp partitioning
    * as the join — one exchange for the batch side.
    */
  def incremental(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    val hist = docs.filter(col("doc_id") < 400)
      .select(md5(col("text")).as("fp")).distinct()
      .withColumn("seen", lit(true))
    val batch = docs.filter(col("doc_id") >= 400)
      .select(col("doc_id"), md5(col("text")).as("fp"))
      .unionByName(docs.filter(col("doc_id") % 50 === 0)
        .select((col("doc_id") + 100000000L).as("doc_id"), md5(col("text")).as("fp")))
    val w = Window.partitionBy("fp").orderBy("doc_id")
    batch.join(hist, Seq("fp"), "left")
      .withColumn("rn", row_number().over(w))
      .select(col("doc_id"), col("fp"),
        coalesce(col("seen"), lit(false)).as("dup_of_history"),
        (col("rn") > 1).as("dup_in_batch"),
        (coalesce(col("seen"), lit(false)) === false && col("rn") === 1).as("kept"))
      .orderBy("doc_id")
  }

  val incrementalSql: String =
    """WITH hist AS (
      |  SELECT DISTINCT md5(text) fp FROM documents WHERE doc_id < 400),
      |batch AS (
      |  SELECT doc_id, md5(text) fp FROM documents WHERE doc_id >= 400
      |  UNION ALL
      |  SELECT doc_id + 100000000, md5(text) FROM documents WHERE doc_id % 50 = 0),
      |keep AS (
      |  SELECT b.doc_id, b.fp,
      |         row_number() OVER (PARTITION BY b.fp ORDER BY b.doc_id) rn,
      |         (h.fp IS NOT NULL) seen
      |  FROM batch b LEFT JOIN hist h ON b.fp = h.fp)
      |SELECT doc_id, fp, seen AS dup_of_history, (rn > 1) AS dup_in_batch,
      |       (NOT seen AND rn = 1) AS kept
      |FROM keep ORDER BY doc_id""".stripMargin

  // ---- bloom-pre-filtered incremental dedup --------------------------------

  /** Bloom-filter semi-join reduction of incremental dedup — the missing
    * half of [[incremental]]'s scale story. There, the HISTORY side (every
    * fingerprint ever ingested — the trillion-row side at 100 TB) shuffles
    * in full for the join. Here the ingest BATCH (the small side: one day's
    * crawl) aggregates into a fixed-size bloom filter executor-side; the one
    * bounded row returns to the driver and re-broadcasts as a foldable
    * binary literal, and the giant history scan is pre-filtered MAP-SIDE by
    * `might_contain` — only fingerprints the bloom admits (true batch
    * matches + the fpp sliver) ever reach history's distinct/shuffle, so the
    * exchanged volume scales with the BATCH, not the accumulated corpus.
    *
    * Output is EXACT and bloom-parameter-independent: false negatives are
    * impossible (every real match passes the filter), and false positives
    * die in the exact equi-join that follows. This is the manual form of the
    * runtime bloom-filter pruning pinned in ScaleSurfaceSpec (O6), built
    * from the same native codegen'd expressions the optimizer injects
    * (BloomFilterAggregate / BloomFilterMightContain via xxhash64) — no
    * Scala UDF, no closure serialization.
    */
  def bloomIncr(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.catalyst.expressions.{Literal, XxHash64, BloomFilterMightContain}
    import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
    import org.apache.spark.sql.graftshim.GraftShim
    import org.apache.spark.sql.types.BinaryType

    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    val hist = docs.filter(col("doc_id") < 400)
      .select(md5(col("text")).as("fp")) // the giant side (not yet distinct)
    val batch = docs.filter(col("doc_id") >= 400)
      .select(col("doc_id"), md5(col("text")).as("fp"))
      .unionByName(docs.filter(col("doc_id") % 50 === 0)
        .select((col("doc_id") + 100000000L).as("doc_id"), md5(col("text")).as("fp")))

    val bloomAgg = GraftShim.column(
      new BloomFilterAggregate(
        new XxHash64(Seq(GraftShim.catalystExpression(col("fp")))),
        Literal(4096L), Literal(1L << 15)).toAggregateExpression())
    val bloomBytes = batch.agg(bloomAgg.as("bf")).head().getAs[Array[Byte]](0)
    val mightContain = GraftShim.column(new BloomFilterMightContain(
      Literal(bloomBytes, BinaryType),
      new XxHash64(Seq(GraftShim.catalystExpression(col("fp"))))))

    val candidates = hist.filter(mightContain).distinct()
      .withColumn("seen", lit(true))
    batch.join(candidates, Seq("fp"), "left")
      .select(col("doc_id"), col("fp"),
        coalesce(col("seen"), lit(false)).as("dup_of_history"))
      .orderBy("doc_id")
  }

  /** EXACT `left LEFT ANTI JOIN right ON key` with the big RIGHT side
    * pre-filtered map-side by a bloom of the small LEFT side's keys — the
    * dd_bloom device as a reusable primitive (consumed by the extract-incr
    * compaction guard). Right rows whose key cannot occur on the left never
    * enter the exchange, so the shuffle carries the candidate overlap, not
    * the archive; bloom false positives merely pass through to the exact
    * join. `numBits` defaults to 2 MiB of filter — ~16 bits/key at 10^6
    * left keys (fpp < 1e-3); oversizing only wastes one broadcast literal.
    */
  private[graft] def bloomPreAnti(left: DataFrame, right: DataFrame, key: String,
      estItems: Long = 1L << 20, numBits: Long = 1L << 24): DataFrame = {
    import org.apache.spark.sql.catalyst.expressions.{Literal, XxHash64, BloomFilterMightContain}
    import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
    import org.apache.spark.sql.graftshim.GraftShim
    import org.apache.spark.sql.types.BinaryType
    val bloomAgg = GraftShim.column(new BloomFilterAggregate(
      new XxHash64(Seq(GraftShim.catalystExpression(col(key)))),
      Literal(estItems), Literal(numBits)).toAggregateExpression())
    val bytes = left.agg(bloomAgg.as("bf")).head().getAs[Array[Byte]](0)
    if (bytes == null) return left // empty left: nothing to subtract from
    val mightContain = GraftShim.column(new BloomFilterMightContain(
      Literal(bytes, BinaryType),
      new XxHash64(Seq(GraftShim.catalystExpression(col(key))))))
    left.join(right.filter(mightContain).select(key).distinct(),
      Seq(key), "left_anti")
  }

  /** The oracle never sees the bloom: it IS the plain exact join — agreement
    * proves the pre-filter changed nothing but the exchanged volume.
    */
  val bloomIncrSql: String =
    """WITH hist AS (
      |  SELECT DISTINCT md5(text) fp FROM documents WHERE doc_id < 400),
      |batch AS (
      |  SELECT doc_id, md5(text) fp FROM documents WHERE doc_id >= 400
      |  UNION ALL
      |  SELECT doc_id + 100000000, md5(text) FROM documents WHERE doc_id % 50 = 0)
      |SELECT b.doc_id, b.fp, (h.fp IS NOT NULL) AS dup_of_history
      |FROM batch b LEFT JOIN hist h ON b.fp = h.fp
      |ORDER BY doc_id""".stripMargin

  // ---- incremental NEAR-dup (new batch vs banded history) ------------------

  /** Incremental near-dedup — the LSH complement of [[incremental]]: the
    * accumulated corpus is summarized as an at-rest (doc_id, band, sig)
    * MinHash band table ([[bandsOver]]), and each day's drop is scored
    * against it without re-banding history. Near-copies (recrawls with
    * banner/footer drift, syndicated mirrors) share LSH bands even though
    * their md5 fingerprints differ, so [[incremental]] misses them by
    * construction — this closes that gap for the daily-ingest path.
    *
    * Planted positives (deterministic): every doc_id % 50 == 0 re-arrives
    * with suffix drift (" recrawl mirror banner") at +1e8 — for source ids
    * < 400 that is a near-dup of HISTORY under fingerprint divergence; for
    * source ids >= 400 the original itself sits in the batch, so those
    * plants surface as IN-BATCH near-dups instead (both paths asserted at
    * sf0.01: 8/8 history-derived plants flagged dup_of_history with exact
    * source match, batch-derived plants flagged dup_in_batch). Every batch
    * doc_id % 70 == 0 additionally re-arrives with different drift at +2e8.
    * Offsets sit far above any scale factor's id range, so planted ids never
    * collide and ORDER BY doc_id stays total.
    *
    * Scale shape: history bands are computed ONCE at ingest and stored
    * bucketed/sorted on (band, sig) — the daily probe join is then
    * zero-exchange against the O5 bucket layout and shuffles only the
    * batch's bands; the in-batch self-join is batch-sized. Daily cost scales
    * with the drop, never the accumulated corpus — [[incremental]]'s
    * contract, extended from exact to near. (Here both sides band in-query
    * because the test corpus has no at-rest signature table.)
    */
  def incrNear(spark: SparkSession, sfDir: String): DataFrame = {
    val d = spark.read.parquet(s"$sfDir/documents.parquet").select("doc_id", "text")
    val hist = d.filter(col("doc_id") < 400)
    val batch = d.filter(col("doc_id") >= 400)
      .unionByName(d.filter(col("doc_id") % 50 === 0).select(
        (col("doc_id") + 100000000L).as("doc_id"),
        concat(col("text"), lit(" recrawl mirror banner")).as("text")))
      .unionByName(d.filter(col("doc_id") >= 400 && col("doc_id") % 70 === 0).select(
        (col("doc_id") + 200000000L).as("doc_id"),
        concat(col("text"), lit(" syndicated copy")).as("text")))
    val hb = bandsOver(hist)
    val bb = bandsOver(batch)
    val cross = bb.as("n")
      .join(hb.as("h"), col("n.band") === col("h.band") && col("n.sig") === col("h.sig"))
      .groupBy(col("n.doc_id").as("doc_id"))
      .agg(min(col("h.doc_id")).as("hist_match"))
    val inBatch = bb.as("a")
      .join(bb.as("b"),
        col("a.band") === col("b.band") && col("a.sig") === col("b.sig") &&
          col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("b.doc_id").as("doc_id"))
      .agg(min(col("a.doc_id")).as("batch_match"))
    batch.select("doc_id")
      .join(cross, Seq("doc_id"), "left")
      .join(inBatch, Seq("doc_id"), "left")
      .select(col("doc_id"), col("hist_match"), col("batch_match"),
        col("hist_match").isNotNull.as("dup_of_history"),
        col("batch_match").isNotNull.as("dup_in_batch"),
        (col("hist_match").isNull && col("batch_match").isNull).as("kept"))
      .orderBy("doc_id")
  }

  val incrNearSql: String = {
    val minCases = (0 until K).map(k => s"min(CASE WHEN j = $k THEN h END) s$k").mkString(", ")
    def side(p: String, src: String): String = {
      val bandRows = (0 until K / R).map { b =>
        val cat = (b * R until (b + 1) * R).map(k => s"s$k").mkString(" || ")
        s"SELECT doc_id, $b AS band, md5($cat) AS sig FROM ${p}sig"
      }.mkString("\n  UNION ALL ")
      s"""${p}toks AS (SELECT doc_id, ${Toks.SQL_TOKENS} t FROM $src),
         |${p}sh AS (SELECT DISTINCT doc_id, shingle FROM (
         |  SELECT doc_id, unnest(${Toks.SQL_SHINGLES}) AS shingle FROM ${p}toks)),
         |${p}shc AS (SELECT doc_id, shingle FROM (
         |  SELECT doc_id, shingle, count(*) OVER (PARTITION BY shingle) df FROM ${p}sh)
         |  WHERE df <= $DF_CAP),
         |${p}mh AS (SELECT doc_id, j, min(md5(concat_ws(':', j, shingle))) h
         |       FROM ${p}shc, generate_series(0, ${K - 1}) g(j) GROUP BY doc_id, j),
         |${p}sig AS (SELECT doc_id, $minCases FROM ${p}mh GROUP BY doc_id),
         |${p}bands AS (
         |  $bandRows
         |)""".stripMargin
    }
    s"""WITH hist AS (SELECT doc_id, text FROM documents WHERE doc_id < 400),
       |batch AS (
       |  SELECT doc_id, text FROM documents WHERE doc_id >= 400
       |  UNION ALL
       |  SELECT doc_id + 100000000, text || ' recrawl mirror banner' FROM documents WHERE doc_id % 50 = 0
       |  UNION ALL
       |  SELECT doc_id + 200000000, text || ' syndicated copy' FROM documents WHERE doc_id >= 400 AND doc_id % 70 = 0),
       |${side("h", "hist")},
       |${side("b", "batch")},
       |cross_m AS (SELECT n.doc_id, min(h.doc_id) hist_match
       |            FROM bbands n JOIN hbands h ON n.band = h.band AND n.sig = h.sig
       |            GROUP BY 1),
       |inb AS (SELECT b.doc_id, min(a.doc_id) batch_match
       |        FROM bbands a JOIN bbands b
       |          ON a.band = b.band AND a.sig = b.sig AND a.doc_id < b.doc_id
       |        GROUP BY 1)
       |SELECT d.doc_id, c.hist_match, i.batch_match,
       |       (c.hist_match IS NOT NULL) AS dup_of_history,
       |       (i.batch_match IS NOT NULL) AS dup_in_batch,
       |       (c.hist_match IS NULL AND i.batch_match IS NULL) AS kept
       |FROM (SELECT doc_id FROM batch) d
       |LEFT JOIN cross_m c USING (doc_id)
       |LEFT JOIN inb i USING (doc_id)
       |ORDER BY doc_id""".stripMargin
  }

  // ---- exact duplicated-substring spans (suffix-dedup shape) --------------

  /** Token-gram length for duplicated-span detection: a span counts as
    * duplicated when an [[SUB_L]]-token window of it appears at more than one
    * (doc, pos) location corpus-wide. 8 is small enough to find real template
    * repetition in the word-salad corpus (≈2 k duplicated positions at
    * sf0.01) and large enough that random collisions are absent.
    */
  private val SUB_L = 8

  /** Exact duplicated-substring spans — the "deduplicating training data"
    * operator (Lee et al. 2022, EXACTSUBSTR): instead of dropping whole
    * near-dup documents, find every maximal token span whose content appears
    * elsewhere in the corpus, so a curation pass can cut the span and keep
    * the rest of the document. The distributed recast of the paper's suffix
    * array: every [[SUB_L]]-token window is keyed by md5 of its joined
    * tokens; windows whose key occurs at >1 (doc,pos) location are
    * duplicated; per document, overlapping-or-adjacent duplicated windows
    * (start gap <= L) merge into maximal spans (gaps-and-islands).
    *
    * Scale shape (100 TB): exactly TWO exchanges of the gram table — one on
    * the md5 gram key (the location window: least and greatest
    * (doc_id, pos) per gram; partition = one gram's postings, no pairwise
    * join so a hot boilerplate gram costs O(df) not O(df²)), then one on
    * doc_id (island merge + span aggregation ride the same exchange). No
    * join back to the documents
    * table; gram payload is (doc_id, pos, 16-byte key). The suffix-array
    * formulation this replaces needs a global sort of every suffix — the
    * gram-hash form shuffles fixed-size records and never materializes
    * suffixes.
    */
  def substr(spark: SparkSession, sfDir: String): DataFrame =
    substrOver(spark.read.parquet(s"$sfDir/documents.parquet"))
      .orderBy("doc_id", "span_start")

  /** Core of [[substr]] over any (doc_id, text) frame — unit-testable; the
    * pipeline form omits the global sort (a curation pass consumes spans
    * unordered). A doc_id repeated with the same text gets the spans of one
    * copy; its `n_dup_grams` counts the grams of every copy.
    */
  private[graft] def substrOver(d: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val L = SUB_L
    val grams = d
      .select(col("doc_id"), Toks.tokens(col("text")).as("t"))
      .filter(size(col("t")) >= L)
      .select(
        col("doc_id"),
        posexplode(
          transform(
            sequence(lit(0), size(col("t")) - L),
            i => md5(concat_ws(" ", slice(col("t"), i + 1, lit(L)))))).as(Seq("pos", "h")))
    // duplicated = the gram's locations span more than one (doc_id, pos):
    // copies of a repeated doc_id share their locations, so a document
    // repeated in the input does not cut itself away
    val wh = Window.partitionBy("h")
    val loc = struct(col("doc_id"), col("pos"))
    val dup = grams
      .select(col("*"), min(loc).over(wh).as("lo"), max(loc).over(wh).as("hi"))
      .filter(col("lo") =!= col("hi"))
    val wd = Window.partitionBy("doc_id").orderBy("pos")
    dup
      .withColumn("brk",
        when(col("pos") - lag("pos", 1).over(wd) <= L, lit(0L)).otherwise(lit(1L)))
      .withColumn("span_id", sum("brk").over(wd.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col("doc_id"), col("span_id"))
      .agg(
        min(col("pos")).cast("long").as("span_start"),
        (max(col("pos")) + L).cast("long").as("span_end"),
        count(lit(1)).as("n_dup_grams"))
      .withColumn("span_toks", col("span_end") - col("span_start"))
      .select("doc_id", "span_id", "span_start", "span_end", "span_toks", "n_dup_grams")
  }

  val substrSql: String = {
    val L = SUB_L
    s"""WITH t0 AS (
       |  SELECT doc_id, ${Toks.SQL_TOKENS} t FROM documents),
       |t AS (SELECT doc_id, t FROM t0 WHERE len(t) >= $L),
       |g AS (
       |  SELECT doc_id, CAST(i - 1 AS BIGINT) pos,
       |         md5(array_to_string(t[i:i+${L - 1}], ' ')) h
       |  FROM t, unnest(generate_series(1, len(t) - ${L - 1})) AS u(i)),
       |d AS (
       |  SELECT doc_id, pos FROM (
       |    SELECT doc_id, pos, count(*) OVER (PARTITION BY h) c FROM g)
       |  WHERE c > 1),
       |i AS (
       |  SELECT doc_id, pos,
       |         CASE WHEN pos - lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) <= $L
       |              THEN 0 ELSE 1 END brk
       |  FROM d),
       |s AS (
       |  SELECT doc_id, pos,
       |         CAST(SUM(brk) OVER (PARTITION BY doc_id ORDER BY pos
       |                             ROWS UNBOUNDED PRECEDING) AS BIGINT) span_id
       |  FROM i)
       |SELECT doc_id, span_id,
       |       CAST(min(pos) AS BIGINT) span_start,
       |       CAST(max(pos) + $L AS BIGINT) span_end,
       |       CAST(max(pos) + $L - min(pos) AS BIGINT) span_toks,
       |       count(*) n_dup_grams
       |FROM s GROUP BY doc_id, span_id
       |ORDER BY doc_id, span_start""".stripMargin
  }

  /** Span application — the second half of the suffix-dedup pipeline: CUT
    * every duplicated span found by [[substrOver]] out of its document and
    * keep the remainder (the paper's point: don't drop near-dup documents,
    * surgically remove the repeated text). Per doc: tokens whose 0-based
    * position falls inside any span are dropped; output counts + md5 of the
    * cleaned bytes pin the result.
    *
    * Scale shape: the span table aggregates on the SAME doc_id partitioning
    * the island merge already produced (no extra exchange), then joins back
    * to the corpus on doc_id — the spans side is tiny (docs-with-dups only)
    * and broadcasts in production; the token drop is a per-row indexed
    * lambda.
    */
  def substrCut(spark: SparkSession, sfDir: String): DataFrame =
    substrCutOver(spark.read.parquet(s"$sfDir/documents.parquet"))
      .select(
        col("doc_id"), col("n_tok"), col("n_kept"), col("n_cut"),
        md5(col("text_cut").cast("binary")).as("clean_md5"))
      .orderBy("doc_id")

  /** Core of [[substrCut]] over any frame with `doc_id` and `text` columns
    * (doc_id of any type — [[Curate]] keys by url): returns the CLEANED
    * text plus token accounting, leading with doc_id, n_tok, n_kept, n_cut,
    * text_cut and passing every other input column through, one row per
    * input row. Tokens are space-split, so newlines embedded in tokens
    * survive reassembly byte-identically.
    */
  private[graft] def substrCutOver(d: DataFrame): DataFrame = {
    val spans = substrOver(d)
      .groupBy("doc_id")
      .agg(collect_list(struct(col("span_start"), col("span_end"))).as("sp"))
    val rest = d.columns.filterNot(Set("doc_id", "text")).map(col).toSeq
    d
      .select(col("doc_id") +: Toks.tokens(col("text")).as("t") +: rest: _*)
      .join(spans, Seq("doc_id"), "left")
      .withColumn("sp",
        coalesce(col("sp"),
          array().cast("array<struct<span_start:bigint,span_end:bigint>>")))
      .withColumn("kept",
        filter(col("t"), (_, i) =>
          !exists(col("sp"),
            s => i.cast("long") >= s("span_start") && i.cast("long") < s("span_end"))))
      .select(Seq(
        col("doc_id"),
        size(col("t")).cast("long").as("n_tok"),
        size(col("kept")).cast("long").as("n_kept"),
        (size(col("t")) - size(col("kept"))).cast("long").as("n_cut"),
        array_join(col("kept"), " ").as("text_cut")) ++ rest: _*)
  }

  val substrCutSql: String = {
    val L = SUB_L
    s"""WITH t0 AS (
       |  SELECT doc_id, ${Toks.SQL_TOKENS} t FROM documents),
       |tl AS (SELECT doc_id, t FROM t0 WHERE len(t) >= $L),
       |g AS (
       |  SELECT doc_id, CAST(i - 1 AS BIGINT) pos,
       |         md5(array_to_string(t[i:i+${L - 1}], ' ')) h
       |  FROM tl, unnest(generate_series(1, len(t) - ${L - 1})) AS u(i)),
       |d AS (
       |  SELECT doc_id, pos FROM (
       |    SELECT doc_id, pos, count(*) OVER (PARTITION BY h) c FROM g)
       |  WHERE c > 1),
       |isl AS (
       |  SELECT doc_id, pos,
       |         CASE WHEN pos - lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) <= $L
       |              THEN 0 ELSE 1 END brk
       |  FROM d),
       |sm AS (
       |  SELECT doc_id, pos,
       |         SUM(brk) OVER (PARTITION BY doc_id ORDER BY pos
       |                        ROWS UNBOUNDED PRECEDING) span_id
       |  FROM isl),
       |spans AS (
       |  SELECT doc_id, min(pos) s, max(pos) + $L e
       |  FROM sm GROUP BY doc_id, span_id),
       |spl AS (
       |  SELECT doc_id, list(struct_pack(s := s, e := e)) sp
       |  FROM spans GROUP BY doc_id),
       |j AS (
       |  SELECT t0.doc_id, t, coalesce(sp, []) sp
       |  FROM t0 LEFT JOIN spl ON t0.doc_id = spl.doc_id),
       |k AS (
       |  SELECT doc_id, t,
       |         list_filter(t, (x, i) ->
       |           len(list_filter(sp, r -> i - 1 >= r.s AND i - 1 < r.e)) = 0) kept
       |  FROM j)
       |SELECT doc_id,
       |       CAST(len(t) AS BIGINT) n_tok,
       |       CAST(len(kept) AS BIGINT) n_kept,
       |       CAST(len(t) - len(kept) AS BIGINT) n_cut,
       |       md5(coalesce(array_to_string(kept, ' '), '')) clean_md5
       |FROM k ORDER BY doc_id""".stripMargin
    // ^ coalesce: DuckDB's array_to_string([]) is NULL, Spark's array_join is ''
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "dd_substr" -> (substr _),
    "dd_substr_cut" -> (substrCut _),
    "dd_incr" -> (incremental _),
    "dd_incr_near" -> (incrNear _),
    "dd_bloom" -> (bloomIncr _),
    "dd_lines" -> (lineDedup _),
    "dd_fuzzy" -> (fuzzy _),
    "dd_exact" -> (exact _),
    "dd_cdc" -> (cdc _),
    "dd_allpairs" -> (allpairs _),
    "dd_contam" -> (contam _),
    "dd_ngram_jaccard" -> (ngramJaccard _),
    "dd_minhash_lsh" -> (minhashLsh _),
    "dd_simhash" -> (simhash _),
    "dd_simhash_pairs" -> (simhashPairs _),
    "dd_components" -> (components _)
  )

  def oracles: Map[String, String] = Map(
    "dd_substr" -> substrSql,
    "dd_substr_cut" -> substrCutSql,
    "dd_incr" -> incrementalSql,
    "dd_incr_near" -> incrNearSql,
    "dd_bloom" -> bloomIncrSql,
    "dd_lines" -> lineDedupSql,
    "dd_fuzzy" -> fuzzySql,
    "dd_exact" -> exactSql,
    "dd_cdc" -> cdcSql,
    "dd_allpairs" -> allpairsSql,
    "dd_contam" -> contamSql,
    "dd_ngram_jaccard" -> ngramJaccardSql,
    "dd_minhash_lsh" -> minhashLshSql,
    "dd_simhash" -> simhashSql,
    "dd_simhash_pairs" -> simhashPairsSql,
    "dd_components" -> componentsSql
  )
}
