package graft.pipeline

import graft.SparkSpec
import org.apache.spark.sql.Row

/** Transform semantics vs the reference (/root/reference/etl/main.go:
  * 213-234): lenient silent-zero casts, utilization derivation, and the
  * fixed 5-indicator order. */
class TransformSpec extends SparkSpec {
  import spark.implicits._

  private def cpuRow(idle: String): org.apache.spark.sql.DataFrame =
    Seq(CpuStats("dev-1", 1751450637L, "0", idle, "3", "1", "0.5", "0")).toDF()

  test("lenient cast: garbage metric becomes 0.0, so utilization = 100.0") {
    val out = Transform.toDeviceData(cpuRow("garbage"))
      .selectExpr("inline(indicators)").as[(String, Double)].collect()
    assert(out.head == ("utilization", 100.0))
  }

  test("indicator names and order match the reference exactly") {
    val names = Transform.toDeviceData(cpuRow("95"))
      .selectExpr("transform(indicators, i -> i.name) AS n")
      .as[Seq[String]].head()
    assert(names == Model.indicatorNames)
  }

  test("numeric metrics parse and derive like the reference") {
    val vals = Transform.toDeviceData(cpuRow("95"))
      .selectExpr("inline(indicators)").as[(String, Double)].collect().toMap
    assert(vals == Map(
      "utilization" -> 5.0, "nice" -> 0.0, "user" -> 3.0, "system" -> 1.0, "irq" -> 0.5))
  }

  test("wire JSON matches the reference field names and shape") {
    val json = Transform.deviceDataJson(Transform.toDeviceData(cpuRow("95")))
      .as[String].head()
    assert(json.startsWith("""{"name":"dev-1","cpu_number":"0","timestamp":1751450637,"indicators":[{"name":"utilization","value":5.0}"""))
  }

  test("malformed CSV rows go to the rejected side channel") {
    val dir = java.nio.file.Files.createTempDirectory("graft-csv").toFile
    val f = new java.io.File(dir, "appliances.csv")
    java.nio.file.Files.writeString(f.toPath,
      "192.168.0.1,device-1\nbadrow\n192.168.0.2,device-2\n")
    val r = ApplianceSource.read(spark, f.getPath)
    assert(r.ok.count() == 2)
    val rej = r.rejected.collect()
    assert(rej.length == 1 && rej.head.getString(0) == "badrow")
  }

  test("extra CSV fields are ignored like the reference (rec[0], rec[1] only)") {
    val dir = java.nio.file.Files.createTempDirectory("graft-csv2").toFile
    val f = new java.io.File(dir, "appliances.csv")
    java.nio.file.Files.writeString(f.toPath, "10.0.0.1,device-9,extra,junk\n")
    val r = ApplianceSource.read(spark, f.getPath)
    assert(r.ok.select("ip", "hostname").collect().toSeq ==
      Seq(Row("10.0.0.1", "device-9")))
  }
}
