package graft

import graft.functions.Entities
import graft.operators.{Curate, Links, Meta, Structured}
import java.nio.file.{Files, Paths}
import java.util.Locale
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** Case folding must not depend on the JVM default locale. Under `tr-TR`,
  * `I` lowercases to a dotless `ı`, so a default-locale fold turns `TITLE`
  * into `tıtle` and `NOINDEX` into `noındex`. Every fold under `src/main`
  * names `Locale.ROOT`, and the scanners give the root-locale answers under
  * a Turkish default.
  */
class LocaleSpec extends AnyFunSuite {
  import ExtractKernelSpec.withLocale
  private val turkish = Locale.forLanguageTag("tr-TR")

  private val page =
    """<HTML LANG="EN"><HEAD><TITLE>Title</TITLE><LINK REL="CANONICAL" HREF="https://x/c">""" +
      """<META NAME="ROBOTS" CONTENT="NOINDEX, NOFOLLOW"><META CHARSET="ISO-8859-9"></HEAD>""" +
      """<BODY><P>See <A HREF="https://x/i">Istanbul</A></P></BODY></HTML>"""

  test("Meta, Structured and Links give the root-locale answers under tr-TR") {
    def scan() = (Meta.extract(page), Structured.canonicalHref(page),
      Structured.robotsMeta(page)._2, Links.extract(page).map(l => (l.href, l.anchor)))
    val tr = withLocale(turkish)(scan())
    assert(tr == withLocale(Locale.ROOT)(scan()))
    assert(tr._1 == Meta.PageMeta("Title", "EN", "iso-8859-9"))
    assert(tr._2 == "https://x/c")
    assert(tr._3 == Set("noindex", "nofollow"))
    assert(tr._4 == Vector(("https://x/i", "Istanbul")))
  }

  test("curate robots-gate drops an upper-case NOINDEX page under tr-TR") {
    val spark = SparkFixture.spark
    import spark.implicits._
    val body = (1 to 40).map(j => s"body word w$j content").mkString(" ")
    def p(i: Int, head: String) = Page(s"https://tr.example.org/p$i",
      java.sql.Timestamp.valueOf("2025-03-01 00:00:00"),
      s"<HTML><HEAD>$head</HEAD><BODY><P>$body $i</P></BODY></HTML>".getBytes("UTF-8"), null, "en")
    val pages = spark.createDataset(Seq(
      p(1, """<META NAME="ROBOTS" CONTENT="NOINDEX">"""), p(2, "<TITLE>kept</TITLE>")))
    val out = Files.createTempDirectory("locale-rg").toString
    val rep = withLocale(turkish)(Curate.run(spark, pages, s"$out/gated", robotsGate = true))
    assert(rep.extracted == 1, s"noindex page kept: $rep")
  }

  test("Entities decodes lowercase Greek names in a JVM whose default locale is tr-TR") {
    val (code, out) = ChildJvm.run(Seq("-Duser.language=tr", "-Duser.country=TR"),
      "graft.EntitiesProbe", "&iota;&Iota;&pi;")
    assert(code == 0, out)
    assert(out.trim == "tr-TR 3b9 399 3c0")
  }

  test("no case fold under src/main without a Locale argument") {
    val fold = """\.to(Lower|Upper)Case(?!\s*\(\s*(java\.util\.)?Locale\.)""".r
    val files = Files.walk(Paths.get("src/main")).iterator().asScala
      .filter(_.toString.endsWith(".scala")).toSeq
    assert(files.size > 50, s"only ${files.size} sources under src/main")
    val hits = for {
      f <- files
      (line, i) <- Files.readAllLines(f).asScala.zipWithIndex
      if fold.findFirstIn(line).isDefined
    } yield s"$f:${i + 1}: ${line.trim}"
    assert(hits.isEmpty, hits.mkString("\n", "\n", ""))
  }
}

/** Prints the default locale and the code points `Entities.decodeAll`
  * gives for its argument; run in a child JVM by [[LocaleSpec]].
  */
object EntitiesProbe {
  def main(args: Array[String]): Unit =
    println((Locale.getDefault.toLanguageTag +:
      Entities.decodeAll(args(0)).map(c => f"${c.toInt}%x")).mkString(" "))
}
