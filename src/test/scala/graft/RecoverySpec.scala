package graft

import graft.sources.{Recovery, Snapshots}
import org.scalatest.funsuite.AnyFunSuite
import java.io.File
import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

/** The write-ahead-intent protocol lives in [[Recovery]] alone: its file
  * format, its create-or-fail commit, its idempotent move, and the lint
  * that keeps intent names and tmp-then-rename writes out of every other
  * main source.
  */
class RecoverySpec extends AnyFunSuite {

  private val tmp = Files.createTempDirectory("graft-recovery").toString

  private def text(f: File) = new String(Files.readAllBytes(f.toPath), "UTF-8")

  test("an intent commits header and op lines in the established format, once") {
    val dir = s"$tmp/fmt"
    new File(dir).mkdirs()
    Recovery.commit(dir, Recovery.ROLLBACK, Seq("target" -> "1", "aside" -> "rollback-aside-v3"),
      Seq(Seq("mv", "bucket=0/day=2025-01-01/a.parquet")))
    val f = new File(dir, "_rollback_pending")
    assert(text(f) == "target=1\naside=rollback-aside-v3\nmv\tbucket=0/day=2025-01-01/a.parquet")
    assert(!new File(dir, "._rollback_pending.tmp").exists())
    val e = intercept[IllegalStateException](
      Recovery.commit(dir, Recovery.ROLLBACK, Seq("target" -> "2"), Nil))
    assert(e.getMessage.contains("_rollback_pending exists"))
    assert(text(f).startsWith("target=1\n"), "a refused commit must not touch the pending intent")

    val i = Recovery.read(dir, Recovery.ROLLBACK).get
    assert(i("target") == "1" && i("aside") == "rollback-aside-v3")
    assert(i.paths("mv") == Seq("bucket=0/day=2025-01-01/a.parquet"))
    assert(Recovery.pending(dir) == Seq(Recovery.ROLLBACK))
    Recovery.clear(dir, Recovery.ROLLBACK)
    assert(Recovery.read(dir, Recovery.ROLLBACK).isEmpty && Recovery.pending(dir).isEmpty)

    Recovery.commit(dir, Recovery.MERGE, Nil, Seq(Seq("mv", "x/.m", "x/m"), Seq("rm", "x/a")))
    assert(text(new File(dir, "_merge_pending")) == "mv\tx/.m\tx/m\nrm\tx/a")
    assert(Recovery.read(dir, Recovery.MERGE).get.ops == Seq(List("mv", "x/.m", "x/m"), List("rm", "x/a")))
  }

  test("move is skip-if-done and fails on a file found in neither place") {
    val a = Paths.get(tmp, "mv/src/f.parquet")
    val b = Paths.get(tmp, "mv/deep/dst/f.parquet")
    Files.createDirectories(a.getParent)
    Files.write(a, Array[Byte](1))
    Recovery.move(a, b)
    assert(!Files.exists(a) && Files.isRegularFile(b))
    Recovery.move(a, b) // already done
    Files.delete(b)
    intercept[IllegalStateException](Recovery.move(a, b))
  }

  test("writeAtomic replaces in place; createAtomic refuses an existing file") {
    val f = new File(s"$tmp/atomic/sub/v1.txt")
    Recovery.writeAtomic(f, "one".getBytes("UTF-8"))
    Recovery.writeAtomic(f, "two".getBytes("UTF-8"))
    assert(text(f) == "two")
    assert(!Recovery.createAtomic(f, "three".getBytes("UTF-8")))
    assert(text(f) == "two")
    assert(f.getParentFile.list().toSeq == Seq("v1.txt"), "tmp sibling left behind")
  }

  test("recordOnce commits the live set once") {
    val dir = s"$tmp/once"
    val f = new File(s"$dir/data/bucket=0/day=2025-01-01/a.parquet")
    f.getParentFile.mkdirs()
    Files.write(f.toPath, Array[Byte](1))
    assert(Recovery.recordOnce(dir) == 1)
    assert(Recovery.recordOnce(dir) == 1)
    Files.delete(f.toPath)
    assert(Recovery.recordOnce(dir) == 2 && Snapshots.files(dir, 2).get._2.isEmpty)
  }

  test("no intent name and no tmp-then-rename write under src/main outside Recovery") {
    val rules = Seq(
      "an intent file name" -> Recovery.INTENTS.mkString("|").r,
      "a rename of a tmp file" ->
        """Files\.move\(\s*\w*[Tt]mp|\b\w*[Tt]mp\w*(\.toPath)?\.renameTo\(""".r,
      "a hidden .tmp sibling" -> """"\.[^"]*\.tmp"""".r)
    val files = Files.walk(Paths.get("src/main")).iterator().asScala
      .filter(p => p.toString.endsWith(".scala") && p.getFileName.toString != "Recovery.scala").toSeq
    assert(files.size > 50, s"only ${files.size} sources under src/main")
    val hits = for {
      f <- files
      (line, i) <- Files.readAllLines(f).asScala.zipWithIndex
      (what, re) <- rules if re.findFirstIn(line).isDefined
    } yield s"$f:${i + 1}: $what: ${line.trim}"
    assert(hits.isEmpty, hits.mkString("\n", "\n", ""))
  }
}
