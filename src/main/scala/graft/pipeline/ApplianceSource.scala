package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** CSV appliance-inventory source (reference O1/O2,
  * /root/reference/etl/main.go:400-425): headerless positional 2-column
  * `ip,hostname` rows.
  *
  * Unlike the reference — which slurps the whole file into driver memory
  * with ReadAll (main.go:408) — this is a distributed, splittable scan.
  * Malformed rows (<2 fields) are not silently dropped (the engine
  * upgrade over the reference's log-and-skip at main.go:415-417): `read`
  * splits them into a rejected-rows side channel, and [[EtlPipeline]]
  * takes every row from `scan` and counts them in its sink.
  */
object ApplianceSource {

  final case class Result(ok: DataFrame, rejected: DataFrame)

  /** True for a well-formed row: both fields present. */
  def valid: Column = col("ip").isNotNull && col("hostname").isNotNull

  /** Every row of the file, malformed ones included (null fields). */
  def scan(spark: SparkSession, path: String): DataFrame =
    // Explicit schema — never schema inference, which is a second full
    // scan of the input (fatal at 100 TB). PERMISSIVE mode nulls missing
    // fields and ignores extras, matching the reference's "only rec[0],
    // rec[1] are read" behavior.
    spark.read
      .schema(Model.applianceSchema)
      .option("header", "false")
      .option("mode", "PERMISSIVE")
      .csv(path)

  def read(spark: SparkSession, path: String): Result = {
    val base = scan(spark, path)
    Result(base.where(valid), base.where(!valid))
  }
}
