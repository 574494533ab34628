package graft.pipeline

import graft.expressions.DeviceDataJson
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.ColumnBridge

/** The reference's transform (O6-O8, /root/reference/etl/main.go:213-234)
  * as pure Catalyst expressions — no UDFs, fully codegen'd.
  *
  * Cast semantics (SURVEY.md §1.3): the reference parses metric strings
  * with the error discarded, so garbage becomes 0.0 (main.go:214-218) and
  * `utilization = 100 - idle` yields 100.0 for unparseable idle. The
  * engine reproduces that silent zero exactly ([[lenientDouble]]).
  */
object Transform {

  /** Lenient cast: unparseable numeric string -> 0.0 (reference compat). */
  def lenientDouble(c: Column): Column = coalesce(c.cast("double"), lit(0.0))

  /** CpuStats-shaped frame -> DeviceData-shaped frame with the 5-indicator
    * ARRAY<STRUCT<name,value>> in the reference's fixed order
    * (main.go:220-226). Input columns: name, timestamp, cpu_number,
    * pIdle, pUser, pSys, pIRQ, pNice.
    */
  def toDeviceData(cpu: DataFrame): DataFrame = {
    cpu.select(
      col("name"),
      col("cpu_number"),
      col("timestamp"),
      array(
        struct(lit("utilization").as("name"),
          (lit(100.0) - lenientDouble(col("pIdle"))).as("value")),
        struct(lit("nice").as("name"), lenientDouble(col("pNice")).as("value")),
        struct(lit("user").as("name"), lenientDouble(col("pUser")).as("value")),
        struct(lit("system").as("name"), lenientDouble(col("pSys")).as("value")),
        struct(lit("irq").as("name"), lenientDouble(col("pIRQ")).as("value"))).as("indicators"))
  }

  /** Wire-format JSON for each DeviceData row, as one string column
    * `json`: the reference's `json.Marshal` field names and order
    * (main.go:33-52), so a payload built from these rows is
    * byte-compatible with the reference sink's.
    *
    * The writer is [[graft.expressions.DeviceDataJson]], one codegen'd
    * expression, and its bytes are those of
    * `to_json(struct(name, cpu_number, timestamp, indicators))` on every
    * row: Jackson's string escapes, `Double.toString` numbers, NaN and
    * the infinities as quoted strings. A null field is left out, as
    * `to_json` leaves it out. A reject marker (null `name`, see
    * [[Extractor]]) becomes a null string, which [[HttpSink]] counts and
    * skips. Fields that are constant in the plan (under
    * [[ProjectionExtractor]]: cpu_number, timestamp and the indicators)
    * are serialized once per plan, so each row costs one escaped name
    * plus one copy of the constant tail.
    */
  def deviceDataJson(deviceData: DataFrame): DataFrame = {
    val field = (c: String) => ColumnBridge.expression(col(c))
    deviceData.select(ColumnBridge.column(DeviceDataJson(
      field("name"), field("cpu_number"), field("timestamp"), field("indicators"))).as("json"))
  }
}
