package graft.tools

import java.nio.file.Files
import org.scalatest.funsuite.AnyFunSuite

/** Cross-process Store race (r13 verdict item 7, beyond the
  * in-process thread case): two independent JVMs — separate Spark
  * sessions, block managers and pids — race loadOrBuild of one key in
  * a shared store directory. Both must read the complete frame (no
  * torn read), and the store must end with exactly one published
  * entry and zero tmp residue. This is the many-sessions-one-store
  * deployment shape; the Store's pid-scoped tmp siblings and
  * validated publish are what make it safe. */
class StoreRaceSpec extends AnyFunSuite {

  private val addOpens = Seq(
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar"
  ).flatMap(p => Seq("--add-opens", s"$p=ALL-UNNAMED"))

  test("two JVMs racing one key: one winner, both full reads, no tmp residue") {
    val dir = Files.createTempDirectory("graft-xrace")
    val javaBin = System.getProperty("java.home") + "/bin/java"
    val cp = System.getProperty("java.class.path")
    def fork(tag: String): (Process, java.io.File) = {
      val out = Files.createTempFile(s"xrace-$tag", ".log").toFile
      val cmd = (Seq(javaBin) ++ addOpens ++ Seq(
        "-Xmx3g", "-Dspark.ui.enabled=false",
        "-Dspark.sql.session.timeZone=UTC",
        "-cp", cp, "graft.tools.StoreRaceProbe", dir.toString))
      val pb = new ProcessBuilder(cmd: _*)
      pb.redirectErrorStream(true)
      pb.redirectOutput(out)
      (pb.start(), out)
    }
    val (p1, o1) = fork("a")
    val (p2, o2) = fork("b")
    assert(p1.waitFor(180, java.util.concurrent.TimeUnit.SECONDS),
      "probe a timed out")
    assert(p2.waitFor(180, java.util.concurrent.TimeUnit.SECONDS),
      "probe b timed out")
    def logOf(f: java.io.File) = new String(
      Files.readAllBytes(f.toPath), "UTF-8")
    assert(p1.exitValue() == 0, s"probe a failed:\n${logOf(o1).takeRight(2000)}")
    assert(p2.exitValue() == 0, s"probe b failed:\n${logOf(o2).takeRight(2000)}")
    assert(logOf(o1).contains("\"rows\":200") && logOf(o1).contains("\"sum\":201000"))
    assert(logOf(o2).contains("\"rows\":200") && logOf(o2).contains("\"sum\":201000"))
    val names = {
      import scala.jdk.CollectionConverters._
      val l = Files.list(dir)
      try l.iterator().asScala.map(_.getFileName.toString).toVector
      finally l.close()
    }
    assert(names.count(_.startsWith("xrace_v")) == 1,
      s"exactly one published entry expected: $names")
    assert(!names.exists(_.contains(".tmp-")), s"tmp residue: $names")
  }
}
