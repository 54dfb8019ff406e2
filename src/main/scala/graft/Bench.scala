package graft

import org.apache.spark.sql.SparkSession

/** Benchmark main (driver contract; BASELINE.md protocol).
  *
  * Times the headline relational / dedup / similarity queries at
  * `SPARK_GRAFT_SF_DIR`: one warm-up run, then the minimum of three, each
  * terminated by `count()` as the contract defines. Prints ONE JSON line;
  * a failing query fails the run under its name, and a headline name
  * missing from [[SparkEntry.queries]] fails it before the session starts.
  *
  * Extraction throughput is not measured here: `perfbench/run.py` times
  * full parquet-to-parquet reps and checks every output column, and
  * `graft.Main extract-dir` at two `SPARK_GRAFT_CPUS` values is the
  * scaling protocol (BASELINE.md).
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
  private[graft] val HEADLINE = Seq(
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
    // every headline name resolves before the session starts: a renamed
    // query fails the run under its name, never drops out of the total
    val headline = HEADLINE.map(name => name -> SparkEntry.queries.getOrElse(name,
      throw new NoSuchElementException(s"bench headline query $name is not in SparkEntry.queries")))
    val spark = Main.session(SparkSession.builder().master(s"local[$cpus]"), cpus.toInt)

    def time(f: => Unit): Double = {
      val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
    }

    val results = scala.collection.mutable.LinkedHashMap[String, Double]()
    headline.foreach { case (name, fn) =>
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

    val qs = results.map { case (k, v) => f""""$k":$v%.3f""" }.mkString("{", ",", "}")
    val total = results.values.sum
    println(
      f"""{"metric":"total","value":$total%.3f,"unit":"sec","queries":$qs,"sf":"$sfDir","cpus":$cpus}""")
    spark.stop()
  }
}
