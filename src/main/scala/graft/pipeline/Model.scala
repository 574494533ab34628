package graft.pipeline

import org.apache.spark.sql.types._

/** Typed data model of the ETL pipeline, mirroring the reference's record
  * types (/root/reference/etl/main.go:27-53) as Spark case classes /
  * StructTypes (SURVEY.md §1.1, FIXTURES.md §A).
  *
  * Field names follow the reference's JSON struct tags so the sink wire
  * format and spill files are byte-compatible with the reference's
  * (/root/reference/etl/main.go:33-52).
  */
final case class Appliance(ip: String, hostname: String)

final case class CpuStats(
    name: String,
    timestamp: Long, // unix seconds; reference uses uint64, seconds fit signed
    cpu_number: String,
    pIdle: String, // metrics are numeric-as-string in the reference (§1.3)
    pUser: String,
    pSys: String,
    pIRQ: String,
    pNice: String)

final case class Indicator(name: String, value: Double)

final case class DeviceData(
    name: String,
    cpu_number: String,
    timestamp: Long,
    indicators: Seq[Indicator])

object Model {
  val applianceSchema: StructType = StructType(Seq(
    StructField("ip", StringType),
    StructField("hostname", StringType)))

  val indicatorSchema: StructType = StructType(Seq(
    StructField("name", StringType),
    StructField("value", DoubleType)))

  val deviceDataSchema: StructType = StructType(Seq(
    StructField("name", StringType),
    StructField("cpu_number", StringType),
    StructField("timestamp", LongType),
    StructField("indicators", ArrayType(indicatorSchema))))

  /** Indicator names in the reference's fixed order
    * (/root/reference/etl/main.go:220-226). */
  val indicatorNames: Seq[String] =
    Seq("utilization", "nice", "user", "system", "irq")
}
