package graft.streaming

import graft.Sessions

import java.nio.file.{Files, Paths}

/** Driver-visible streaming-parity gate: the streaming twins' parity
  * evidence, outside ScalaTest. This main runs every definition in
  * `StreamTwins.all` on the sf0.001 corpus (or the twin's scripted
  * scenario) and emits ONE JSON line per twin — stream rows, batch-anchor
  * rows, the parity verdict and `dropped_by_watermark`, the rows Spark's
  * watermark dropped as late (0 on every corpus replay; a replay that
  * feeds rows behind the watermark loses them without an error) — then
  * a summary as the LAST stdout line. All lines are also written to
  * target/stream_parity.json. A twin that throws reports -1 counts and
  * its error; a failed parity prints the twin's diff on stderr.
  *
  * Run: sbt "runMain graft.streaming.StreamCheck [sfDir]"
  */
object StreamCheck {

  def main(args: Array[String]): Unit = {
    java.util.Locale.setDefault(java.util.Locale.ROOT)
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "8").toInt
    val spark = Sessions.local("graft-streamcheck", cores = cpus)

    val results = StreamTwins.all.map { twin =>
      val base = s"""{"twin":"${twin.name}","check":"${twin.check}""""
      try {
        val o = twin.run(spark, sfDir)
        if (!o.parity) System.err.println(s"[streamcheck] ${twin.name}: ${o.diff}")
        (s"""$base,"stream_rows":${o.streamRows},"batch_rows":${o.batchRows},"parity":${o.parity},"dropped_by_watermark":${o.droppedByWatermark}}""",
          o.parity)
      } catch { case e: Throwable =>
        val err = e.toString.replaceAll("\\s+", " ").take(180)
          .replace("\\", "\\\\").replace("\"", "\\\"")
        (s"""$base,"stream_rows":-1,"batch_rows":-1,"parity":false,"dropped_by_watermark":-1,"err":"$err"}""",
          false)
      }
    }
    val lines = results.map(_._1)
    val nPass = results.count(_._2)
    val summary =
      s"""{"metric":"stream_parity","twins":${results.size},"pass":$nPass,"fail":${results.size - nPass},"sf":"$sfDir"}"""
    try {
      val p = Paths.get("target", "stream_parity.json")
      Files.createDirectories(p.getParent)
      Files.write(p, ((lines :+ summary).mkString("", "\n", "\n"))
        .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    } catch { case _: java.io.IOException => () }
    spark.stop()
    System.err.flush()
    lines.foreach(println)
    println(summary) // the line of record, LAST
    System.out.flush()
    if (nPass != results.size) sys.exit(1)
  }
}
