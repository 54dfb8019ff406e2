package graft

import graft.operators.Extract
import graft.sources.Corpus
import org.apache.spark.sql.SparkSession

/** Benchmark main (driver contract; BASELINE.md protocol).
  *
  * Headline metric: extracted-docs/sec of the full pipeline over a staged
  * synthetic pages table (generation is NOT timed, stamped against code
  * changes), min of 5 measured passes after two full warm-up passes — the
  * first pass of a fresh JVM runs largely interpreted (C2 warm-up inflates
  * CPU 20x+; see BASELINE.md), and the host's bursty co-tenant load only
  * ever ADDS time, so min estimates capability; the per-rep spread and
  * median are also emitted in the JSON line.
  *
  * Also times the headline relational / dedup / similarity queries at
  * `SPARK_GRAFT_SF_DIR` (second of two runs each). Prints ONE JSON line.
  *
  * Scaling protocol (two-cluster-size stand-in): `graft.Main scale` at two
  * parallelism levels; full protocol + results in BASELINE.md / BENCH.md.
  */
object Bench {

  /** Headline subset — big shuffly queries, one per operator family.
    * Round 3 adds the iterative connected-components clustering and the
    * Lloyd-refined IVF (both multi-job shapes worth tracking), then the
    * late-round scale stories: tf-idf (broadcast df + TopKPerKey),
    * sessionization (single-exchange window stack), and the bucketized
    * no-equi-key interval join; the fifth batch adds the bloom-reduced
    * incremental dedup and the inverted-index conjunctive search; the
    * seventh adds PQ encode+ADC search and the bigram-LM fluency scorer;
    * round 4 adds the banded-history incremental near-dedup and the
    * content-defined-chunking dedup (corpus-sized chunk shuffle — a
    * different cost shape from the shingle index); the continuation adds
    * the stateful streaming rate limiter (flatMapGroupsWithState + event-
    * time timeout over a two-batch split — the state-store cost shape).
    */
  private val HEADLINE = Seq(
    "q1_agg", "q3_join", "q_window", "q_range_join", "q_distinct",
    "q_topk_per_key", "q_sessionize", "q_interval_join",
    "dd_exact", "dd_ngram_jaccard", "dd_allpairs", "dd_minhash_lsh", "dd_simhash", "dd_contam",
    "dd_components", "dd_lines", "dd_substr", "dd_bloom", "dd_incr_near", "dd_cdc", "ta_gopher",
    "sim_knn", "sim_ivf", "sim_pq", "dd_embed_cos", "dd_semantic", "ta_quality", "ta_tokens", "ta_ngrams",
    "ta_tfidf", "ta_pii", "ta_search", "ta_bpe", "ta_lm", "ta_dsir", "q_funnel",
    "q_bucket_join", "st_session", "st_left_join", "st_ratelimit", "st_topk",
    "q_pattern", "q_run_distinct", "q_drift", "q_outliers",
    // round 5: the trained-artifact model stages (broadcast shapes), the
    // sentence splitter, and the lossy-codec decode — staged-corpus ops,
    // tracked for presence/cost-shape rather than raw weight
    "ta_weights", "ta_langid_w", "ta_lm_w", "ta_sentences", "mm_jpeg"
  )

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    // >=1.28M pages: the ~4 s/pass fixed overhead (scheduling + first-stage
    // JIT tails) must be amortized against >=3.5 s of steady-state work or
    // the reported docs/s understates the engine several-fold (round-1
    // driver bench read 64.7k docs/s on a 320k corpus vs 377k steady-state)
    val nPages = sys.env.getOrElse("SPARK_GRAFT_BENCH_PAGES", "1280000").toLong
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", (cpus.toInt * 4).toString) // 4x cores; AQE coalesces small stages
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
    import spark.implicits._

    def time(f: => Unit): Double = {
      val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
    }

    // stage the bench corpus once (generation/IO excluded from the metric).
    // Same marker protocol as OracleCorpus: keyed on (nPages, code mtime) so
    // a Corpus/tokenizer change across rounds can never silently reuse a
    // stale staged corpus and misreport docs/s.
    val corpusDir = sys.env.getOrElse("SPARK_GRAFT_BENCH_CORPUS",
      s"/dev/shm/graft-bench-pages-$nPages")
    val marker = new java.io.File(s"$corpusDir/_GRAFT_STAMP")
    val stamp = s"$nPages:${graft.sources.OracleCorpus.codeStamp()}"
    if (!graft.sources.OracleCorpus.markerFresh(marker, stamp)) {
      Corpus.pages(spark, nPages).write.mode("overwrite").parquet(corpusDir)
      graft.sources.OracleCorpus.writeMarker(marker, stamp)
    }
    val pages = spark.read.schema(Model.PAGES).parquet(corpusDir).as[Page]

    // two full warm-up passes (C2 needs >1 full pass to compile the hot
    // tokenizer + codegen paths), then MINIMUM of 5: co-tenant interference
    // on this host is bursty (load 1 -> 13 within a minute) and only ever
    // ADDS time, so min is the unbiased estimator of engine capability
    // (the python timeit rationale); the spread is recorded in BENCH.md
    var nDocs = Extract.extract(pages).count()
    nDocs = Extract.extract(pages).count()
    // 5 reps for the headline metric: interference bursts last minutes, so
    // more ~3 s samples raise the odds that one lands between bursts
    val reps = (1 to 5).map(_ => time { nDocs = Extract.extract(pages).count() })
    val tExtract = reps.min
    val docsPerSec = nDocs / tExtract
    // min is the capability estimator (bursty co-tenant load only adds time);
    // the per-rep spread goes into the machine-readable output so downstream
    // comparisons see variance, not just the floor (ADVICE r2)
    val repsJson = reps.map(r => f"$r%.3f").mkString("[", ",", "]")
    val tExtractMedian = reps.sorted.apply(reps.size / 2)

    val results = scala.collection.mutable.LinkedHashMap[String, Double]()
    results("extract") = tExtract
    HEADLINE.foreach { name =>
      SparkEntry.queries.get(name).foreach { fn =>
        // a failing query fails the run under its name: no stand-in value
        // that the total would silently drop
        results(name) =
          try {
            time { fn(spark, sfDir).count() } // warm-up run (discarded)
            // min of 3: bursty external load only ever adds time
            (1 to 3).map(_ => time { fn(spark, sfDir).count() }).min
          } catch {
            case e: Exception =>
              spark.stop()
              throw new RuntimeException(s"bench query $name failed", e)
          }
      }
    }

    val qs = results.map { case (k, v) => f""""$k":$v%.3f""" }.mkString("{", ",", "}")
    val total = results.values.sum
    println(
      f"""{"metric":"total","value":$total%.3f,"unit":"sec","queries":$qs,"sf":"$sfDir","cpus":$cpus,"extract_pages":$nPages,"extract_docs_per_sec":$docsPerSec%.1f,"extract_reps_sec":$repsJson,"extract_median_sec":$tExtractMedian%.3f}""")
    spark.stop()
  }
}
