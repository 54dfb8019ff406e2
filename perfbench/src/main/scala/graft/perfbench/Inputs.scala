package graft.perfbench

import graft.{Model, Page}
import graft.sources.Corpus
import java.sql.Timestamp
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** A benchmark workload: its page generator, pure in (seed, index), and its
  * default size. Sizes are fixed per workload so that one run (set-up plus
  * the timed window) stays well inside the per-run time limit on a 4-core
  * host; `BenchMain --pages` overrides them only for the benchmark's own
  * small-size tests.
  */
sealed trait Workload extends Serializable {
  def name: String
  def defaultPages: Long
  def page(seed: Long, i: Long): Page
}

object Workload {

  /** The program's synthetic crawl: 80 % HTML over 10 templates, 12 % PDF,
    * 4 % text, 4 % garbage or empty, Zipf-skewed hosts (`Corpus.page`).
    * Many small pages: per-page fixed costs dominate.
    */
  case object CrawlMix extends Workload {
    val name = "crawl_mix"
    val defaultPages = 16000L
    def page(seed: Long, i: Long): Page = Corpus.page(seed, i)
  }

  /** Few long articles wrapped in chrome (the benchmark's own generator):
    * thousands of blocks per url, so per-url windows and the span fold
    * dominate and task skew sets wall time. No PDFs.
    */
  case object HeavyTail extends Workload {
    val name = "heavy_tail"
    val defaultPages = 128L
    def page(seed: Long, i: Long): Page = HeavyTailPages.page(seed, i)
  }

  /** `Curate.run` with default flags over crawl-style pages drawn with a
    * seed of its own: column-pruned extraction, artifacts written and read
    * back, work dominated by line dedup and the Gopher gate.
    */
  case object CurateFunnel extends Workload {
    val name = "curate_funnel"
    val defaultPages = 1000L
    def page(seed: Long, i: Long): Page = Corpus.page(corpusSeed(seed), i)
    /** Keeps the funnel's pages disjoint from `crawl_mix` at the same seed. */
    def corpusSeed(seed: Long): Long = seed ^ 0x6375726174654cL
  }

  val all: Seq[Workload] = Seq(CrawlMix, HeavyTail, CurateFunnel)

  def named(n: String): Workload =
    all.find(_.name == n).getOrElse(
      throw new IllegalArgumentException(s"unknown workload '$n' (${all.map(_.name).mkString(", ")})"))
}

/** Long HTML articles with page sizes log-uniform between MIN_BYTES and
  * MAX_BYTES, each wrapped in nav, ad and footer chrome, on 7 hosts.
  * Self-contained: nothing here depends on the program's generators, so a
  * change to `Corpus` cannot move this workload.
  */
object HeavyTailPages {
  val MIN_BYTES = 1024.0
  val MAX_BYTES = 384.0 * 1024
  private val hosts = (0 until 7).map(h => s"news$h.example.net").toArray
  private val words = ("alpha beta gamma delta report market council river " +
    "harbour station winter evening quarter budget school bridge museum " +
    "festival garden railway weather season island library theatre village " +
    "measure history science energy transport health").split(' ')

  private def mix(z0: Long): Long = {
    var z = z0 + 0x9e3779b97f4a7c15L
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }
  private def draw(seed: Long, stream: Long, i: Long): Long = mix(mix(mix(seed) ^ stream) ^ i)
  private def below(seed: Long, stream: Long, i: Long, n: Int): Int =
    ((draw(seed, stream, i) >>> 1) % n).toInt

  private def sentence(seed: Long, i: Long, k: Long, sb: java.lang.StringBuilder): Unit = {
    val n = 6 + below(seed, 10L + k, i, 12)
    var w = 0
    while (w < n) {
      val word = words(below(seed, 1000L + k * 31 + w, i, words.length))
      if (w == 0) sb.append(word.substring(0, 1).toUpperCase).append(word.substring(1))
      else sb.append(' ').append(word)
      w += 1
    }
    sb.append(". ")
  }

  private def links(seed: Long, i: Long, k: Long, n: Int, sb: java.lang.StringBuilder): Unit = {
    var j = 0
    while (j < n) {
      val w = words(below(seed, 5000L + k * 7 + j, i, words.length))
      sb.append("<li><a href=\"/").append(w).append('/').append(j).append("\">")
        .append(w).append("</a></li>")
      j += 1
    }
  }

  def targetBytes(seed: Long, i: Long): Int = {
    val u = (draw(seed, 1L, i) >>> 11).toDouble / (1L << 53).toDouble
    math.round(MIN_BYTES * math.pow(MAX_BYTES / MIN_BYTES, u)).toInt
  }

  def page(seed: Long, i: Long): Page = {
    val host = hosts(below(seed, 2L, i, hosts.length))
    val target = targetBytes(seed, i)
    val sb = new java.lang.StringBuilder(target + 2048)
    sb.append("<!DOCTYPE html><html><head><meta charset=\"utf-8\"><title>")
    sentence(seed, i, 0, sb)
    sb.append("</title></head><body><nav class=\"menu\"><ul>")
    links(seed, i, 1, 12, sb)
    sb.append("</ul></nav><div class=\"ad-banner\"><a href=\"/buy\">Buy now!</a></div>")
    sb.append("<article><h1>")
    sentence(seed, i, 2, sb)
    sb.append("</h1>")
    var p = 0L
    while (sb.length < target) {
      if (p % 9 == 8) {
        sb.append("<aside class=\"related\"><ul>")
        links(seed, i, 100 + p, 4, sb)
        sb.append("</ul></aside>")
      } else if (p % 13 == 12) {
        sb.append("<h2>")
        sentence(seed, i, 7000 + p, sb)
        sb.append("</h2>")
      } else {
        sb.append("<p>")
        val ns = 1 + below(seed, 3L + p, i, 4)
        var s = 0
        while (s < ns) { sentence(seed, i, 10000 + p * 8 + s, sb); s += 1 }
        sb.append("</p>")
      }
      p += 1
    }
    sb.append("</article><footer><ul>")
    links(seed, i, 3, 8, sb)
    sb.append("</ul><p>privacy | terms | contact</p></footer></body></html>")
    Page(
      url = s"https://$host/article/${draw(seed, 4L, i) & 0xffffffL}-$i",
      warc_ts = new Timestamp(1735689600000L + (i * 7919L % 86400L) * 1000L),
      html = sb.toString.getBytes("UTF-8"),
      text = null,
      lang = "en")
  }
}

/** Row count plus an order-free content digest: the sum of each row's
  * 64-bit xxhash over every column, as decimal(38,0). The plain
  * `sum(xxhash64(...))` overflows bigint under Spark's ANSI mode.
  */
case class Fingerprint(rows: Long, digest: String) {
  def json: String = Json.value(asMap)
  def asMap: Map[String, Any] = scala.collection.immutable.ListMap("rows" -> rows, "digest" -> digest)
}

object Fingerprint {
  def of(df: DataFrame): Fingerprint = ofRow(df.agg(count(lit(1)), digest(df)).head())

  def digest(df: DataFrame) =
    sum(xxhash64(df.columns.toIndexedSeq.map(c => df.col(c)): _*).cast("decimal(38,0)"))

  /** From a row whose first two fields are count and [[digest]]. */
  def ofRow(r: org.apache.spark.sql.Row): Fingerprint =
    Fingerprint(r.getLong(0), Option(r.getDecimal(1)).map(_.toPlainString).getOrElse("0"))
}

/** Staged inputs: the workload's pages for one seed, written once as parquet
  * and fingerprinted from the written files.
  */
case class Staged(dir: String, fingerprint: Fingerprint, payloadBytes: Long)

object Staging {
  def stage(spark: SparkSession, w: Workload, seed: Long, n: Long, files: Int,
            dir: String): Staged = {
    import spark.implicits._
    spark.range(0, n, 1, files).map(i => w.page(seed, i))
      .write.mode("overwrite").parquet(dir)
    val df = read(spark, dir).toDF()
    val r = df.agg(count(lit(1)), Fingerprint.digest(df),
      sum(coalesce(length(col("html")), lit(0)).cast("long"))).head()
    Staged(dir, Fingerprint.ofRow(r), r.getLong(2))
  }

  def read(spark: SparkSession, dir: String) = {
    import spark.implicits._
    spark.read.schema(Model.PAGES).parquet(dir).as[Page]
  }
}
