package graft

import java.nio.charset.StandardCharsets
import java.nio.file.Paths

/** Runs a class from this JVM's classpath in a fresh child JVM: for checks
  * that need a process of their own, such as an exit code or a default
  * locale fixed before any class initializes.
  */
object ChildJvm {

  /** (exit code, stdout and stderr together) of `main` run with `args`. */
  def run(jvmArgs: Seq[String], main: String, args: String*): (Int, String) = {
    val java = Paths.get(System.getProperty("java.home"), "bin", "java").toString
    val cmd = Seq(java, "-Xmx128m", "-cp", System.getProperty("java.class.path")) ++
      jvmArgs ++ (main +: args)
    val p = new ProcessBuilder(cmd: _*).redirectErrorStream(true).start()
    val out = new String(p.getInputStream.readAllBytes(), StandardCharsets.UTF_8)
    (p.waitFor(), out)
  }
}
