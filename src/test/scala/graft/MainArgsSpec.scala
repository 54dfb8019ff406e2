package graft

import org.scalatest.funsuite.AnyFunSuite

/** The CLI arity check, without a SparkSession: every command's usage line
  * in [[Main.Commands]] is both the check and the text printed when the
  * check fails.
  */
class MainArgsSpec extends AnyFunSuite {

  /** The shortest argument list a usage line accepts. */
  private def required(line: String): Array[String] =
    line.split(' ').takeWhile(!_.startsWith("[")).map(w => if (w.startsWith("<")) "x" else w)

  test("every command accepts its required arguments and refuses one fewer") {
    Main.Commands.foreach { line =>
      val full = required(line)
      assert(Main.argsOk(full), line)
      assert(!Main.argsOk(full.init), s"'$line' accepts '${full.init.mkString(" ")}'")
      assert(Main.Usage.contains(line))
    }
  }

  test("unknown commands and subcommands and no arguments are refused; optional ones pass") {
    Seq("branch t rename b", "bogus a b c", "").foreach { s =>
      assert(!Main.argsOk(s.split(' ').filter(_.nonEmpty)), s)
    }
    Seq("curate 10 out 7 cut-spans robots-gate", "lookup t u1 u2 u3").foreach { s =>
      assert(Main.argsOk(s.split(' ')), s)
    }
  }

  test("the local-cluster executor classpath is the running code source") {
    val main = new java.io.File(Main.codeSource(Main.getClass))
    assert(new java.io.File(main, "graft/Main.class").isFile || main.getName.endsWith(".jar"), main)
    // derived per class, not fixed: this spec is compiled to another root
    val spec = new java.io.File(Main.codeSource(classOf[MainArgsSpec]))
    assert(new java.io.File(spec, "graft/MainArgsSpec.class").isFile, spec)
    assert(spec != main)
  }

  test("every Bench headline query is registered in SparkEntry.queries") {
    val missing = Bench.HEADLINE.filterNot(SparkEntry.queries.keySet)
    assert(missing.isEmpty, missing)
  }

  test("a refused command prints the usage and exits 2 before Spark starts") {
    for (args <- Seq(Seq("run", "a", "b"), Seq("nope", "a", "b", "c"))) {
      val (code, out) = ChildJvm.run(Nil, "graft.Main", args: _*)
      assert(code == 2, s"${args.mkString(" ")}: exit $code\n$out")
      assert(out.contains(Main.Usage), out)
      assert(!out.contains("Running Spark version"), out)
    }
  }
}
