package graft

import java.nio.file.Files
import java.util.concurrent.TimeUnit

/** Starts a main class of this test classpath in its own JVM, for probes
  * that need a Spark session of their own (a different master, or a
  * separate process) next to the suite's shared one. The flags match
  * build.sbt's forked JVMs. */
object ForkedJvm {

  private val addOpens = Seq(
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar"
  ).flatMap(p => Seq("--add-opens", s"$p=ALL-UNNAMED"))

  final class Probe(process: Process, log: java.io.File) {
    /** Waits up to `seconds`; false on timeout (the process is killed). */
    def await(seconds: Long): Boolean = {
      val done = process.waitFor(seconds, TimeUnit.SECONDS)
      if (!done) process.destroyForcibly()
      done
    }
    def exitValue: Int = process.exitValue()
    def output: String = new String(Files.readAllBytes(log.toPath), "UTF-8")
  }

  /** Starts `mainClass args` with stdout and stderr captured in a temp file. */
  def start(mainClass: String, args: String*): Probe = {
    val log = Files.createTempFile("graft-probe", ".log").toFile
    val cmd = Seq(System.getProperty("java.home") + "/bin/java") ++ addOpens ++ Seq(
      "-Xmx3g", "-Dspark.ui.enabled=false",
      "-Dspark.sql.session.timeZone=UTC",
      "-Dsun.net.httpserver.nodelay=true",
      "-cp", System.getProperty("java.class.path"), mainClass) ++ args
    val pb = new ProcessBuilder(cmd: _*)
    pb.redirectErrorStream(true)
    pb.redirectOutput(log)
    new Probe(pb.start(), log)
  }
}
