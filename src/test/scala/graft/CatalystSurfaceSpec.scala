package graft

import graft.functions.{Charset, Entities, GraftExtensions, exprs}
import graft.operators.Extract
import graft.sources.Corpus
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Custom Catalyst surface (SURVEY.md §2.10) + physical-plan shape checks. */
class CatalystSurfaceSpec extends AnyFunSuite {

  private lazy val spark = SparkFixture.spark

  test("native expressions agree with the scalar functions on the corpus") {
    import spark.implicits._
    val pages = Corpus.pages(spark, 120).cache()
    val viaExpr = pages.toDF()
      .select(col("url"), exprs.sniffKind(col("html")).as("k"),
        exprs.decodeSniff(col("html")).as("t"))
      .collect().map(r => (r.getString(0), r.getString(1), r.getString(2)))
      .sortBy(_._1)
    val viaScala = pages.collect()
      .map(p => (p.url, Charset.sniffKind(p.html), Charset.decode(p.html)))
      .sortBy(_._1)
    assert(viaExpr.toSeq == viaScala.toSeq)
    pages.unpersist()
  }

  test("decode_entities expression matches Entities.decodeAll incl. codegen path") {
    import spark.implicits._
    val samples = Seq("Fish &amp; chips", "&#x41;&#66;", "&nbsp;&mdash;&bogus;", "café &eacute;")
    val viaExpr = samples.toDF("s")
      .select(exprs.decodeEntities(col("s"))).as[String].collect().toSeq
    assert(viaExpr == samples.map(Entities.decodeAll))
    // projection over the expression stays inside WholeStageCodegen (use a
    // Range source — a LocalRelation is constant-folded before codegen)
    val df = spark.range(4)
      .select(exprs.decodeEntities(concat(lit("&amp;"), col("id").cast("string"))).as("d"))
    // `*(n)` prefix marks operators fused into a WholeStageCodegen region
    assert(df.queryExecution.executedPlan.toString.contains("*(1) Project"))
    assert(df.collect().map(_.getString(0)).toSeq == (0 until 4).map(i => s"&$i"))
  }

  test("GraftExtensions registers SQL functions") {
    GraftExtensions.register(spark)
    val r = spark.sql(
      "SELECT decode_entities('Fish &amp; chips') e, sniff_kind(CAST('x' AS BINARY)) k"
    ).collect().head
    assert(r.getString(0) == "Fish & chips")
    assert(r.getString(1) == "text")
  }

  test("nfc_normalize expression: UAX#15 semantics, identity fast path, codegen") {
    import spark.implicits._
    // decomposed -> composed; ANGSTROM singleton -> U+00C5; combining stack
    // composes the base pair only; already-NFC passes through unchanged
    val samples = Seq("cafe\u0301", "\u212B", "a\u0308\u0301", "plain ascii", "caf\u00e9")
    val viaExpr = samples.toDF("s")
      .select(exprs.nfcNormalize(col("s"))).as[String].collect().toSeq
    assert(viaExpr == Seq("caf\u00e9", "\u00c5", "\u00e4\u0301", "plain ascii", "caf\u00e9"))
    // stays inside WholeStageCodegen over a Range source
    val df = spark.range(4)
      .select(exprs.nfcNormalize(concat(lit("e\u0301x"), col("id").cast("string"))).as("d"))
    assert(df.queryExecution.executedPlan.toString.contains("*(1) Project"))
    assert(df.collect().map(_.getString(0)).toSeq ==
      (0 until 4).map(i => s"\u00e9x$i"))
    // SQL registration
    GraftExtensions.register(spark)
    // (Spark's chr() is ASCII-mod-256, unlike DuckDB's — embed the
    // combining mark as a literal)
    assert(spark.sql("SELECT nfc_normalize('e\u0301') n").collect()
      .head.getString(0) == "\u00e9")
  }

  test("mg_topk TypedImperativeAggregate: MG bounds, mergeability, exact regime, SQL") {
    import spark.implicits._
    import graft.functions.FreqSketchMG.mgTopK
    // Zipf-ish stream: item i appears 2000/i times, i in 1..50 -> N = sum
    val freqs = (1 to 50).map(i => (s"w$i", 2000 / i))
    val n = freqs.map(_._2).sum.toLong
    val rows = freqs.flatMap { case (w, c) => Seq.fill(c)(w) }
    val k = 8
    for (parts <- Seq(1, 4, 32)) {
      val sk = rows.toDF("w").repartition(parts)
        .agg(mgTopK(col("w"), k).as("sk"))
        .select(explode(col("sk")).as("e"))
        .select(col("e.item").as("w"), col("e.cnt").as("cnt"))
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(sk.size <= k)
      val truth = freqs.toMap
      // Misra-Gries guarantee: true - N/(k+1) <= cnt <= true
      sk.foreach { case (w, c) =>
        assert(c <= truth(w), s"$w overcounted: $c > ${truth(w)}")
        assert(truth(w) - c <= n / (k + 1), s"$w undercounted beyond bound")
      }
      // every item more frequent than N/(k+1) is guaranteed present
      freqs.filter(_._2 > n / (k + 1)).foreach { case (w, _) =>
        assert(sk.contains(w), s"heavy hitter $w missing at parts=$parts")
      }
    }
    // exact regime (distinct <= k): equals GROUP BY at any parallelism
    val exact = rows.toDF("w").repartition(7)
      .agg(mgTopK(col("w"), 64).as("sk"))
      .select(explode(col("sk")).as("e"))
      .select(col("e.item"), col("e.cnt"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(exact == freqs.map { case (w, c) => w -> c.toLong }.toMap)
    // SQL registration path
    GraftExtensions.register(spark)
    rows.toDF("w").createOrReplaceTempView("mg_in")
    val viaSql = spark.sql(
      "SELECT inline(mg_topk(w, 64)) FROM mg_in")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(viaSql == exact)
    // non-string child must fail ANALYSIS (clean error), not crash each task
    // on asInstanceOf[UTF8String] at execution
    Seq(1L, 2L, 2L).toDF("k").createOrReplaceTempView("mg_bad")
    val err = intercept[org.apache.spark.sql.AnalysisException] {
      spark.sql("SELECT mg_topk(k, 8) FROM mg_bad").collect()
    }
    assert(err.getMessage.toLowerCase.contains("string"))
  }

  test("extract plan: one scan and zero exchanges, with AQE on and off") {
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    import org.apache.spark.sql.execution.exchange.Exchange
    import spark.implicits._
    object Plans extends AdaptiveSparkPlanHelper
    val dir = java.nio.file.Files.createTempDirectory("graft-explan").toString
    Corpus.pages(spark, 50).write.mode("overwrite").parquet(dir)
    val prev = spark.conf.get("spark.sql.adaptive.enabled")
    try {
      for (aqe <- Seq("true", "false")) {
        spark.conf.set("spark.sql.adaptive.enabled", aqe)
        val docs = Extract.extract(spark.read.schema(Model.PAGES).parquet(dir).as[Page])
        assert(docs.collect().length == 50)
        // the executed (AQE: final) plan — each page is read, tokenized and
        // assembled in the task that scanned it
        val plan = docs.queryExecution.executedPlan
        val exchanges = Plans.collect(plan) { case e: Exchange => e }
        assert(exchanges.isEmpty, s"aqe=$aqe: no exchange expected:\n$plan")
        val leaves = Plans.collectLeaves(plan)
        assert(leaves.size == 1 && leaves.head.isInstanceOf[FileSourceScanExec],
          s"aqe=$aqe: exactly one parquet scan expected:\n$plan")
      }
    } finally spark.conf.set("spark.sql.adaptive.enabled", prev)
  }

  test("q_sessionize plan: one user_id shuffle serves both windows and the aggregate") {
    val prev = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val df = graft.operators.Relational.qSessionize(spark, "/root/testdata/sf0.001")
      val plan = df.queryExecution.executedPlan.toString
      // lag flag window + running-sum window + groupBy(user_id, sess) all
      // cluster on user_id: hashpartitioning(user_id) satisfies every stage,
      // so the whole sessionization is ONE data shuffle; the only other
      // exchange is the presentation orderBy's rangepartitioning.
      val hash = "Exchange hashpartitioning\\(user_id".r.findAllIn(plan).length
      assert(hash == 1, s"expected one user_id exchange, plan:\n$plan")
      val all = "(?<!Reused)(?<!Broadcast)Exchange ".r.findAllIn(plan).length
      assert(all == 2, s"one data shuffle + one presentation sort only:\n$plan")
    } finally spark.conf.set("spark.sql.adaptive.enabled", prev)
  }

  test("q_pattern plan: one user_id shuffle with map-side partial collect; " +
    "regex work is pure projection") {
    val prev = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val df = graft.operators.Relational.qPattern(spark, "/root/testdata/sf0.001")
      val plan = df.queryExecution.executedPlan.toString
      val hash = "Exchange hashpartitioning\\(user_id".r.findAllIn(plan).length
      assert(hash == 1, s"expected one user_id exchange, plan:\n$plan")
      val all = "(?<!Reused)(?<!Broadcast)Exchange ".r.findAllIn(plan).length
      assert(all == 2, s"one data shuffle + one presentation sort only:\n$plan")
      // collect_list combines map-side (partial ObjectHashAggregate below
      // the exchange) — the per-user string never ships as raw rows twice
      assert(plan.contains("partial_collect_list") ||
        "ObjectHashAggregate".r.findAllIn(plan).length == 2, plan)
    } finally spark.conf.set("spark.sql.adaptive.enabled", prev)
  }

  test("q_interval_join plan: bucketized range join is hash/merge-joinable, never a nested loop") {
    val prevB = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    // broadcast off: a bare ts-range join would now plan as a cartesian
    // nested loop; the bucketized rewrite must stay an equi join
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val df = graft.operators.Relational.qIntervalJoin(spark, "/root/testdata/sf0.001")
      val plan = df.queryExecution.executedPlan.toString
      assert(!plan.contains("BroadcastNestedLoopJoin") && !plan.contains("CartesianProduct"),
        s"nested-loop join in bucketized range join plan:\n$plan")
      assert(plan.contains("SortMergeJoin") || plan.contains("ShuffledHashJoin"),
        s"expected a shuffled equi join on the bucket key:\n$plan")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevB)
  }

  test("bucketed co-located join plans with ZERO exchanges (q_bucket_join)") {
    val prevB = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    // broadcast off so the join must be a shuffled join — which bucketing
    // then makes exchange-free: bucket i only ever meets bucket i
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val (ord, cust) = graft.operators.Relational
        .bucketedPair(spark, "/root/testdata/sf0.001")
      val j = ord.join(cust, col("o_custkey") === col("c_custkey"))
        .select(col("o_orderkey"), col("c_name"))
      j.collect()
      val plan = j.queryExecution.executedPlan.toString
      assert(plan.contains("SortMergeJoin") || plan.contains("ShuffledHashJoin"),
        s"expected a shuffled join over bucketed sides:\n$plan")
      assert(!plan.contains("Exchange"),
        s"bucketed co-located join must plan with no Exchange on either side:\n$plan")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevB)
  }

  test("q_asof_join plan: union + LOCF runs on one event_type shuffle, no range join") {
    val prev = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val df = graft.operators.Relational.qAsofJoin(spark, "/root/testdata/sf0.001")
      val plan = df.queryExecution.executedPlan.toString
      // the as-of itself is JOIN-FREE: the event stream unions with the
      // quote spine and one carry-forward window resolves every lookup —
      // no equi/merge/range join of the events table exists in the plan.
      // The only join anywhere is the quote-spine synthesis cross join,
      // whose build side is the literal 120-row Range.
      assert(!plan.contains("CartesianProduct"), s"cartesian in plan:\n$plan")
      assert(!plan.contains("SortMergeJoin") && !plan.contains("ShuffledHashJoin")
        && !plan.contains("BroadcastHashJoin"), s"unexpected join of events:\n$plan")
      val bnlj = plan.indexOf("BroadcastNestedLoopJoin")
      assert(bnlj < 0 || plan.substring(bnlj).contains("Range (0, 120"),
        s"nested loop is not the 120-row quote spine:\n$plan")
      assert("Window ".r.findAllIn(plan).length == 1,
        s"expected exactly one carry-forward window:\n$plan")
    } finally spark.conf.set("spark.sql.adaptive.enabled", prev)
  }

  test("TopKPerKey custom operator equals the window formulation, no Window/sort-all plan") {
    import org.apache.spark.sql.expressions.Window
    val li = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet").select(
      col("l_returnflag"), col("l_linestatus"), col("l_orderkey"), col("l_linenumber"),
      (col("l_extendedprice").cast("decimal(12,2)") * 100).cast("long").as("price_c"))
    val ord = Seq(col("price_c").desc, col("l_orderkey").asc, col("l_linenumber").asc)
    val sortAll = Seq(col("l_returnflag"), col("l_linestatus")) ++ ord
    val custom = graft.plans.TopK.perKey(
      li, Seq(col("l_returnflag"), col("l_linestatus")), ord, 3)
      .orderBy(sortAll: _*)
    val w = Window.partitionBy("l_returnflag", "l_linestatus")
      .orderBy(col("price_c").desc, col("l_orderkey").asc, col("l_linenumber").asc)
    val windowed = li.withColumn("rn", row_number().over(w)).filter(col("rn") <= 3)
      .drop("rn").orderBy(sortAll: _*)
    val a = custom.collect()
    val b = windowed.collect()
    assert(a.length == b.length && a.nonEmpty)
    a.zip(b).foreach { case (x, y) => assert(x == y) }
    // plan shape: our two physical nodes present, no Window operator, and the
    // only sort is the final presentation orderBy
    val plan = custom.queryExecution.executedPlan.toString
    assert(plan.contains("PartialTopK") && plan.contains("FinalTopK"), plan)
    assert(!plan.contains("Window"), plan)
    // invariance under input repartitioning (heap fold is order-insensitive
    // because the ordering is total)
    val re = graft.plans.TopK.perKey(
      li.repartition(7), Seq(col("l_returnflag"), col("l_linestatus")), ord, 3)
      .orderBy(sortAll: _*).collect()
    re.zip(b).foreach { case (x, y) => assert(x == y) }
    // null keys group together, like groupBy/window partitioning semantics
    import spark.implicits._
    val withNulls = Seq((Some("a"), 1L), (None, 2L), (None, 3L), (Some("a"), 4L), (None, 5L))
      .toDF("k", "v")
    val topNull = graft.plans.TopK
      .perKey(withNulls, Seq(col("k")), Seq(col("v").desc), 2)
      .orderBy(col("k").asc_nulls_first, col("v").asc).collect()
    assert(topNull.map(r => (Option(r.getString(0)), r.getLong(1))).toSeq ==
      Seq((None, 3L), (None, 5L), (Some("a"), 1L), (Some("a"), 4L)))
  }

  test("AutoTopKRewrite: naive row_number filter plans as TopKPerKey, equal results") {
    import org.apache.spark.sql.expressions.Window
    def naive(s: org.apache.spark.sql.SparkSession) = {
      val li = s.read.parquet("/root/testdata/sf0.001/lineitem.parquet").select(
        col("l_returnflag"), col("l_orderkey"), col("l_linenumber"),
        (col("l_extendedprice").cast("decimal(12,2)") * 100).cast("long").as("price_c"))
      val w = Window.partitionBy("l_returnflag")
        .orderBy(col("price_c").desc, col("l_orderkey").asc, col("l_linenumber").asc)
      li.withColumn("rn", row_number().over(w)).filter(col("rn") <= 2)
        .orderBy(col("l_returnflag"), col("rn"))
    }
    val stock = naive(spark).collect() // fixture session: no rule
    assert(!naive(spark).queryExecution.executedPlan.toString.contains("PartialTopK"))
    val s = spark.newSession()
    graft.plans.TopK.ensureRule(s)
    val rewritten = naive(s)
    val plan = rewritten.queryExecution.executedPlan.toString
    // bounded-heap stack present; InferWindowGroupLimit's node stripped; the
    // retained Window (recomputing rn over <= k rows/key) is expected
    assert(plan.contains("PartialTopK") && plan.contains("FinalTopK"), plan)
    assert(!plan.contains("WindowGroupLimit"), plan)
    val got = rewritten.collect()
    assert(got.nonEmpty && got.length == stock.length)
    got.zip(stock).foreach { case (a, b) => assert(a == b) }

    // extra conjunct on a non-rank column: still rewrites, full filter kept
    def conj(s2: org.apache.spark.sql.SparkSession) = {
      val li = s2.read.parquet("/root/testdata/sf0.001/lineitem.parquet").select(
        col("l_returnflag"), col("l_orderkey"), col("l_linenumber"),
        (col("l_extendedprice").cast("decimal(12,2)") * 100).cast("long").as("price_c"))
      val w = Window.partitionBy("l_returnflag")
        .orderBy(col("price_c").desc, col("l_orderkey").asc, col("l_linenumber").asc)
      li.withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 3 && col("l_orderkey") % 2 === 0)
        .orderBy(col("l_returnflag"), col("rn"))
    }
    val cPlan = conj(s).queryExecution.executedPlan.toString
    assert(cPlan.contains("PartialTopK"), cPlan)
    val cGot = conj(s).collect()
    val cStock = conj(spark).collect()
    assert(cGot.length == cStock.length)
    cGot.zip(cStock).foreach { case (a, b) => assert(a == b) }
  }

  test("AutoTopKRewrite guard rails: rank(), OR conditions, huge k stay stock") {
    import org.apache.spark.sql.expressions.Window
    val s = spark.newSession()
    graft.plans.TopK.ensureRule(s)
    val li = s.read.parquet("/root/testdata/sf0.001/lineitem.parquet").select(
      col("l_returnflag"), col("l_orderkey"), col("l_linenumber"),
      (col("l_extendedprice").cast("decimal(12,2)") * 100).cast("long").as("price_c"))
    val w = Window.partitionBy("l_returnflag")
      .orderBy(col("price_c").desc, col("l_orderkey").asc, col("l_linenumber").asc)
    // rank() can emit > k rows per key on ties — a k-heap would lose rows
    val rk = li.withColumn("r", rank().over(w)).filter(col("r") <= 2)
    assert(!rk.queryExecution.executedPlan.toString.contains("PartialTopK"))
    // a disjunction implies no upper bound on rn
    val or = li.withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 2 || col("l_orderkey") > 100)
    assert(!or.queryExecution.executedPlan.toString.contains("PartialTopK"))
    // k beyond the heap-pays-off threshold keeps Spark's spillable sort plan
    val huge = li.withColumn("rn", row_number().over(w))
      .filter(col("rn") <= graft.plans.AutoTopKRewrite.maxRewriteK + 1)
    assert(!huge.queryExecution.executedPlan.toString.contains("PartialTopK"))
  }

  test("TopKFold partial stage bails to passthrough on high-cardinality keys") {
    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.sql.catalyst.expressions.{Ascending, AttributeReference, SortOrder => CSortOrder}
    import org.apache.spark.sql.types.IntegerType
    val kAttr = AttributeReference("k", IntegerType, nullable = false)()
    val vAttr = AttributeReference("v", IntegerType, nullable = false)()
    val schema = Seq(kAttr, vAttr)
    val input: Seq[InternalRow] =
      for { k <- 0 until 100; v <- 0 until 10 } yield InternalRow(k, v)
    val ord = Seq(CSortOrder(vAttr, Ascending))
    def pairs(it: Iterator[InternalRow]): Seq[(Int, Int)] =
      it.map(r => (r.getInt(0), r.getInt(1))).toSeq.sorted

    // exact fold: 2 rows per key
    val exact = pairs(graft.plans.TopKFold.fold(
      input.iterator, Seq(kAttr), ord, 2, schema))
    assert(exact == (for { k <- 0 until 100; v <- 0 until 2 } yield (k, v)))

    // key-cap bail: only 8 keys folded, the rest passed through — output is
    // larger than the exact selection but still a superset of every top-2
    val bailed = pairs(graft.plans.TopKFold.foldPartial(
      input.iterator, Seq(kAttr), ord, 2, schema, 8, Long.MaxValue))
    assert(bailed.size > exact.size, s"expected passthrough, got ${bailed.size} rows")
    val refolded = pairs(graft.plans.TopKFold.fold(
      bailed.iterator.map { case (k, v) => InternalRow(k, v) }, Seq(kAttr), ord, 2, schema))
    assert(refolded == exact, "final fold over bailed partial output must stay exact")

    // selectivity-probe bail: unique keys, probe after 64 rows -> passthrough
    val uniq: Seq[InternalRow] = (0 until 500).map(i => InternalRow(i, i))
    val probed = pairs(graft.plans.TopKFold.foldPartial(
      uniq.iterator, Seq(kAttr), ord, 2, schema, Int.MaxValue, 64L))
    assert(probed.size == 500, "unique keys: every row survives either way")
  }

  test("TopKPerKey stays exact on ~1M near-unique keys (partial-stage fallback)") {
    val big = spark.range(1000000L).select(
      (col("id") % 900000L).as("k"),
      pmod(col("id") * 2654435761L, lit(1000003L)).as("v"),
      col("id"))
    val ord = Seq(col("v").asc, col("id").asc)
    val windowed = big.withColumn("rn",
      row_number().over(org.apache.spark.sql.expressions.Window
        .partitionBy("k").orderBy(col("v").asc, col("id").asc)))
      .filter(col("rn") <= 3).drop("rn")
    def check(): Unit = {
      val custom = graft.plans.TopK.perKey(big, Seq(col("k")), ord, 3)
      assert(custom.count() == windowed.count())
      assert(custom.exceptAll(windowed).count() == 0)
    }
    check() // default cap: selectivity probe bails (keys ~= rows per partition)
    sys.props("graft.topk.maxPartialKeys") = "1000"
    try check() // tiny cap: key-cap bail path end-to-end
    finally sys.props.remove("graft.topk.maxPartialKeys")
  }

  test("AQE skew-join split fires at runtime on a Zipf-hot join key") {
    // the OTHER half of the skew story (ex_skewjoin pins the explicit
    // salt-fold): AQE must detect a runtime-skewed sort-merge join and
    // split the hot partition — pinned by the `skew=true` marker the
    // OptimizeSkewedJoin rule stamps on the join node
    val prevB = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    val confs = Seq(
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "2",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "64KB",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "64KB",
      "spark.sql.adaptive.coalescePartitions.enabled" -> "false")
    val prev = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      // 200k fact rows, 95% on ONE key; 100-row dim joined without broadcast
      val fact = spark.range(200000L).select(
        when(col("id") % 20 =!= 0, lit(7L)).otherwise(col("id") % 100L).as("k"),
        col("id").as("payload"))
      val dim = spark.range(100L).select(col("id").as("k"), (col("id") * 3L).as("w"))
      // NOTE: no groupBy on the join key downstream — an agg reusing the
      // join's hash distribution makes the skew split ILLEGAL (splitting a
      // partition breaks the required clustering) and AQE rightly skips it
      val j = fact.join(dim, Seq("k")).select((col("payload") + col("w")).as("x"))
      // execute j ITSELF: AQE stamps skew markers on the executed plan only
      assert(j.collect().length == 200000)
      val plan = j.queryExecution.executedPlan.toString
      assert(plan.contains("skew=true"),
        s"AQE did not split the skewed join partition:\n$plan")
    } finally {
      prev.foreach {
        case (k, Some(v)) => spark.conf.set(k, v)
        case (k, None) => spark.conf.unset(k)
      }
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevB)
    }
  }

  test("ex_skewjoin: salted shuffle join, no broadcast, equals unsalted join") {
    val salted = graft.operators.ExtractOracle.exSkewJoin(spark, "")
    val plan = salted.queryExecution.executedPlan.toString
    // the join must be a shuffled join keyed on (host, salt) — a broadcast
    // join would make the skew demonstration vacuous
    assert(plan.contains("ShuffledHashJoin") || plan.contains("SortMergeJoin"), plan)
    val joinLine = plan.linesIterator
      .find(l => l.contains("ShuffledHashJoin") || l.contains("SortMergeJoin")).get
    assert(joinLine.contains("host") && joinLine.contains("salt"), joinLine)
    assert(!plan.contains("BroadcastHashJoin"), plan)
    // salting never changes results: equal to the plain host join
    import org.apache.spark.sql.functions._
    val docs = graft.sources.OracleCorpus.docs(spark)
      .withColumn("host", parse_url(col("url"), lit("HOST")))
    val dim = docs.groupBy("host").agg(count(lit(1)).as("host_docs"))
    val plain = docs.join(dim, Seq("host"))
      .select(col("url"), col("host"), col("host_docs")).orderBy("url")
    val a = salted.collect().map(_.toString).toSeq
    val b = plain.collect().map(_.toString).toSeq
    assert(a == b && a.nonEmpty)
  }

  test("processable filter (F3) pushes null/lang predicates to the parquet scan") {
    val dir = java.nio.file.Files.createTempDirectory("graft-f3").toString
    Corpus.pages(spark, 80).write.mode("overwrite").parquet(dir)
    val scanned = spark.read.schema(Model.PAGES).parquet(dir)
      .filter(Extract.processable(Seq("en", "de")))
    val plan = scanned.queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters: ["), s"no pushdown section:\n$plan")
    val pushed = plan.split("PushedFilters: ")(1).takeWhile(_ != ']')
    assert(pushed.contains("IsNotNull(html)"), s"html null filter not pushed: $pushed")
    assert(pushed.contains("In(lang"), s"lang isin not pushed: $pushed")
    // and the filter keeps exactly the allow-listed langs
    val langs = scanned.select("lang").distinct().collect().map(_.getString(0)).toSet
    assert(langs.subsetOf(Set("en", "de")) && langs.nonEmpty)
  }

  test("flatMapGroupsWithState sequence numbers carry state across microbatches") {
    import graft.streaming.StreamingOps
    val ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
      .select(col("event_id"), col("user_id"), col("ts").cast("timestamp").as("ts"))
    // split at the median ts into two files -> two microbatches in ts order
    val cutoff = ev.selectExpr("percentile(CAST(unix_timestamp(ts) AS DOUBLE), 0.5) c")
      .collect()(0).getDouble(0).toLong
    val dir = java.nio.file.Files.createTempDirectory("graft-seq2").toString
    ev.filter(unix_timestamp(col("ts")) <= cutoff)
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/f1")
    ev.filter(unix_timestamp(col("ts")) > cutoff)
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/f2")
    val staged = java.nio.file.Files.createTempDirectory("graft-seq2-in")
    def stage(sub: String, mtime: Long): Unit = {
      val src = new java.io.File(s"$dir/$sub").listFiles()
        .filter(_.getName.endsWith(".parquet")).head
      val dst = staged.resolve(s"$sub.parquet")
      java.nio.file.Files.copy(src.toPath, dst)
      dst.toFile.setLastModified(mtime)
    }
    val t0 = System.currentTimeMillis() - 60000
    stage("f1", t0); stage("f2", t0 + 30000)
    val schema = spark.read.parquet(staged.toString).schema
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1) // one file per microbatch
      .parquet(staged.toString)
    val got = StreamingOps.runToTable(
      StreamingOps.seqNumbered(stream), "st_seq2", "append")
      .orderBy("user_id", "seq_no").collect()
    // both files ride ts order, so state continuity across the two batches
    // must reproduce the single-pass global numbering
    val want = ev.select(col("user_id"), col("event_id"),
      row_number().over(org.apache.spark.sql.expressions.Window
        .partitionBy("user_id").orderBy("ts", "event_id")).cast("long").as("seq_no"))
      .orderBy("user_id", "seq_no").collect()
    assert(got.length == want.length)
    got.zip(want).foreach { case (g, w) => assert(g == w) }
  }

  test("streaming AvailableNow extraction equals batch extraction; rerun is a no-op") {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("graft-st-ex").toString
    val pagesDir = s"$tmp/pages"
    graft.sources.PageTable.write(Corpus.pages(spark, 300), pagesDir, numBuckets = 8)

    val streamed = graft.streaming.StreamingExtract
      .runOnce(spark, pagesDir, s"$tmp/out", s"$tmp/ckpt")
      .select("url", "text", "contentKind")
      .collect().map(_.toString).sorted.toSeq
    val batch = Extract.extract(Corpus.pages(spark, 300))
      .select("url", "text", "contentKind")
      .collect().map(_.toString).sorted.toSeq
    assert(streamed == batch)

    // resume with no new files: nothing is reprocessed, output unchanged
    val again = graft.streaming.StreamingExtract
      .runOnce(spark, pagesDir, s"$tmp/out", s"$tmp/ckpt")
      .select("url", "text", "contentKind")
      .collect().map(_.toString).sorted.toSeq
    assert(again == batch)
  }

  test("driver contract: entry yields rows; every oracle key has a query") {
    assert(SparkEntry.entry(spark).count() > 0)
    val qs = SparkEntry.queries.keySet
    val orphans = SparkEntry.oracleSql.keySet.diff(qs)
    assert(orphans.isEmpty, s"oracleSql keys without queries: $orphans")
  }

  test("q_funnel plan: the window chain and per-user collapse ride one user_id shuffle") {
    val prev = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val df = graft.operators.Relational.qFunnel(spark, "/root/testdata/sf0.001")
      val plan = df.queryExecution.executedPlan.toString
      // three chained conditional-min windows + groupBy(user_id) all cluster
      // on user_id -> ONE data shuffle; the global 3-long aggregate adds a
      // SinglePartition exchange and the presentation orderBy a range one.
      val hash = "Exchange hashpartitioning\\(user_id".r.findAllIn(plan).length
      assert(hash == 1, s"expected one user_id exchange, plan:\n$plan")
    } finally spark.conf.set("spark.sql.adaptive.enabled", prev)
  }

  test("ta_pack plan: prefix-sum window and shard aggregate share one source shuffle") {
    val prev = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val df = graft.operators.TextAnalysis.pack(spark, "/root/testdata/sf0.001")
      val plan = df.queryExecution.executedPlan.toString
      val hash = "Exchange hashpartitioning\\(source".r.findAllIn(plan).length
      assert(hash == 1, s"expected one source exchange, plan:\n$plan")
      val all = "(?<!Reused)(?<!Broadcast)Exchange ".r.findAllIn(plan).length
      assert(all == 2, s"one data shuffle + one presentation sort only:\n$plan")
    } finally spark.conf.set("spark.sql.adaptive.enabled", prev)
  }

  test("ta_pii plan: redaction is map-side only (no exchange before the presentation sort)") {
    val prev = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val df = graft.operators.TextAnalysis.pii(spark, "/root/testdata/sf0.001")
      val plan = df.queryExecution.executedPlan.toString
      val all = "(?<!Reused)(?<!Broadcast)Exchange ".r.findAllIn(plan).length
      assert(all == 1, s"only the presentation orderBy may shuffle:\n$plan")
    } finally spark.conf.set("spark.sql.adaptive.enabled", prev)
  }

  test("dd_bloom plan: might_contain pre-filters the history scan below its distinct exchange") {
    val prev = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val df = graft.operators.Dedup.bloomIncr(spark, "/root/testdata/sf0.001")
      val plan = df.queryExecution.executedPlan.toString
      assert(plan.contains("might_contain"), s"bloom filter absent from plan:\n$plan")
      // the might_contain Filter must sit in the history branch's SCAN
      // subtree, i.e. strictly below the distinct HashAggregate — the plan
      // prints top-down, so the filter line appears after the first
      // fp-keyed aggregate line
      val aggIdx = plan.indexOf("HashAggregate(keys=[fp")
      val mcIdx = plan.indexOf("might_contain")
      assert(aggIdx >= 0 && mcIdx > aggIdx,
        s"might_contain not below the distinct aggregate:\n$plan")
    } finally spark.conf.set("spark.sql.adaptive.enabled", prev)
  }

  test("ta_search plan: two partial-agg'd corpus exchanges, broadcast query side, TopK heaps") {
    val prev = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val df = graft.operators.TextAnalysis.search(spark, "/root/testdata/sf0.001")
      val plan = df.queryExecution.executedPlan.toString
      assert(plan.contains("BroadcastHashJoin"), s"query side must broadcast:\n$plan")
      assert(plan.contains("PartialTopK") && plan.contains("FinalTopK"),
        s"top-50 must use the bounded-heap operator:\n$plan")
      // postings (doc_id, term) + AND-count (qid, doc_id) + FinalTopK(qid)
      // + presentation sort = 4 non-broadcast exchanges, no more
      val all = "(?<!Reused)(?<!Broadcast)Exchange ".r.findAllIn(plan).length
      assert(all == 4, s"expected 4 exchanges (2 corpus aggs + topk + sort):\n$plan")
    } finally spark.conf.set("spark.sql.adaptive.enabled", prev)
  }

  test("ex_crawlrate plan: lag/rank/count windows, stats agg and median join all ride one host exchange") {
    val prev = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val df = graft.operators.ExtractOracle.exCrawlRate(spark, "")
      val plan = df.queryExecution.executedPlan.toString
      // a ReusedExchange node REFERENCES its target as ", Exchange hash..."
      // on the same line — subtract references from raw matches to count
      // live exchanges only
      val raw = "Exchange hashpartitioning\\(host".r.findAllIn(plan).length
      val refs = ", Exchange hashpartitioning\\(host".r.findAllIn(plan).length
      assert(raw - refs == 1, s"expected one live host exchange, plan:\n$plan")
      assert(plan.contains("ReusedExchange"),
        s"median branch must reuse the host exchange:\n$plan")
    } finally spark.conf.set("spark.sql.adaptive.enabled", prev)
  }

  test("q_zorder plan: bit-interleave profile is map-side + one tiny aggregate") {
    val prev = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val df = graft.operators.Relational.qZorder(spark, "/root/testdata/sf0.001")
      val plan = df.queryExecution.executedPlan.toString
      // one file_id agg exchange + the presentation sort; no global sort of
      // the data (the z key is quantized, not range-partitioned, here)
      val all = "(?<!Reused)(?<!Broadcast)Exchange ".r.findAllIn(plan).length
      assert(all == 2, s"expected agg + presentation sort only:\n$plan")
    } finally spark.conf.set("spark.sql.adaptive.enabled", prev)
  }
}
