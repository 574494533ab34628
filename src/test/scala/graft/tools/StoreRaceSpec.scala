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

  test("two JVMs racing one key: one winner, both full reads, no tmp residue") {
    val dir = Files.createTempDirectory("graft-xrace")
    val p1 = graft.ForkedJvm.start("graft.tools.StoreRaceProbe", dir.toString)
    val p2 = graft.ForkedJvm.start("graft.tools.StoreRaceProbe", dir.toString)
    assert(p1.await(180), "probe a timed out")
    assert(p2.await(180), "probe b timed out")
    assert(p1.exitValue == 0, s"probe a failed:\n${p1.output.takeRight(2000)}")
    assert(p2.exitValue == 0, s"probe b failed:\n${p2.output.takeRight(2000)}")
    assert(p1.output.contains("\"rows\":200") && p1.output.contains("\"sum\":201000"))
    assert(p2.output.contains("\"rows\":200") && p2.output.contains("\"sum\":201000"))
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
