package graft.pipeline

import graft.SparkSpec
import org.apache.spark.sql.functions._
import org.scalacheck.Gen

import java.nio.file.Files

/** Property test (SURVEY.md §5.2-3): spill-write -> replay-read preserves
  * the record multiset, for arbitrary DeviceData batches across arbitrary
  * worker ids, and worker ids round-trip through the key-named files. */
class SpillRoundtripSpec extends SparkSpec {
  import spark.implicits._

  private val indicatorGen = for {
    name <- Gen.oneOf("utilization", "nice", "user", "system", "irq")
    v <- Gen.chooseNum(-1e6, 1e6).map(x => math.rint(x * 100) / 100.0)
  } yield Indicator(name, v)

  private val deviceGen = for {
    id <- Gen.chooseNum(1, 99999)
    ts <- Gen.chooseNum(0L, 2000000000L)
    inds <- Gen.listOfN(5, indicatorGen)
  } yield DeviceData(s"device-$id", "0", ts, inds)

  /** Spill `rows` as one failed POST, named after its batch key as the
    * sink names it. */
  private def spill(dir: String, worker: Int, rows: Seq[String]): java.io.File = {
    val body = HttpSink.payload(rows.map(_.getBytes("UTF-8")))
    Spill.writeBatch(dir, worker, HttpSink.batchKey("spec", worker, 0, rows.size, body), body)
  }

  test("spill write -> read round-trips the multiset, any batch shape") {
    val spillDir = Files.createTempDirectory("graft-prop-spill").toString
    val batches = (0 until 5).map { w =>
      val n = 1 + scala.util.Random.nextInt(40)
      w -> Iterator.continually(deviceGen.sample).flatten.take(n).toSeq
    }
    batches.foreach { case (w, recs) =>
      val json = Transform.deviceDataJson(recs.toDF())
        .as[String].collect().toSeq
      spill(spillDir, w, json)
    }
    val back = Spill.readSpilled(spark, spillDir)
    val expected = batches.flatMap(_._2)
    assert(back.count() == expected.size)
    // multiset equality on a canonical projection
    val gotKeys = back
      .selectExpr("concat(name, '|', timestamp, '|', to_json(indicators)) AS k")
      .as[String].collect().sorted.toSeq
    val expCanon = expected.toDF()
      .selectExpr("concat(name, '|', timestamp, '|', to_json(indicators)) AS k")
      .as[String].collect().sorted.toSeq
    assert(gotKeys == expCanon)
    // worker ids recovered from filenames match what was written
    val workers = back.select("worker_id").distinct().as[Int].collect().toSet
    assert(workers == batches.map(_._1).toSet)
  }

  test("each spill file occupies exactly one partition (replay key contract)") {
    // A spill file is one JSON array, so readSpilled must read every file
    // whole in one task (unsplittable multiLine JSON). If the read recipe
    // ever changes to a splittable format this breaks loudly instead of
    // reading arrays cut apart. (Replay posts a file's bytes as they are
    // and no longer reads through this recipe.) Uses many rows per file
    // so a splittable recipe WOULD split.
    val spillDir = Files.createTempDirectory("graft-onepart-spill").toString
    (0 until 4).foreach { w =>
      val recs = Iterator.continually(deviceGen.sample).flatten.take(500).toSeq
      val json = Transform.deviceDataJson(recs.toDF()).as[String].collect().toSeq
      spill(spillDir, w, json)
    }
    val files = Spill.listSpillFiles(spillDir)
    val parts = Spill.readRaw(spark, files)
      .select(input_file_name().as("src"))
      .withColumn("pid", spark_partition_id())
      .groupBy("src").agg(countDistinct("pid").as("nparts"), count(lit(1)).as("rows"))
      .collect()
    assert(parts.length == 4)
    parts.foreach { r =>
      assert(r.getAs[Long]("nparts") == 1L,
        s"spill file ${r.getAs[String]("src")} spans ${r.getAs[Long]("nparts")} partitions " +
          "— the one-array-per-file read contract is broken")
      assert(r.getAs[Long]("rows") == 500L)
    }
  }

  test("unparseable worker id in a filename routes to 0 like the reference") {
    val spillDir = Files.createTempDirectory("graft-bad-spill").toString
    val json = Transform.deviceDataJson(
      Seq(DeviceData("d", "0", 1L, Seq(Indicator("irq", 0.5)))).toDF())
      .as[String].collect().toSeq
    val f = spill(spillDir, 3, json)
    // corrupt the name: strip the digits (reference main.go:365-371 -> 0)
    val bad = new java.io.File(spillDir, "buffer_failed_workerX_y.json.gz")
    java.nio.file.Files.move(f.toPath, bad.toPath)
    val back = Spill.readSpilled(spark, spillDir)
    assert(back.select("worker_id").as[Int].collect().toSeq == Seq(0))
  }
}
