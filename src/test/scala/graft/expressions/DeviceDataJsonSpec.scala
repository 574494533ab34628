package graft.expressions

import graft.SparkSpec
import graft.pipeline.Model
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.catalyst.expressions.Literal
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.ColumnBridge

import java.nio.charset.StandardCharsets.UTF_8

/** The DeviceData writer against `to_json`, byte for byte: adversarial
  * names and doubles, null fields and elements, on per-row input (a
  * parquet frame) and on a projection whose tail fields are constant,
  * with generated code and with interpreted evaluation. */
class DeviceDataJsonSpec extends SparkSpec {

  /** Names as hex bytes, so that a name may also be malformed UTF-8. */
  private val nameHex: Seq[String] =
    (Seq("device-1", "", "quote\"in", "back\\slash", "sl/ash", "del\u007f", "twoébyte",
      "three€byte", "four😀byte", "line\u2028sep", (0 to 0x1f).map(_.toChar).mkString) ++
      (0 to 0x1f).map(c => s"c${c.toChar}c"))
      .map(_.getBytes(UTF_8).map("%02X".format(_)).mkString) ++
      Seq("C322", "EDA080", "FF41", "E282")

  private val doubles: Seq[Double] = Seq(Double.NaN, Double.PositiveInfinity,
    Double.NegativeInfinity, -0.0, 0.0, 1.0e-7, 1.0e21, Double.MinValue, Double.MaxValue,
    Double.MinPositiveValue, 2.2250738585072e-309, 5.0, 0.5, 100.0, 1.0e7, 123456.789, -3.25)

  private val indicatorLists: Seq[Seq[Row]] = Seq(
    null, Seq.empty, Seq(null), Seq(Row(null, 1.0)), Seq(Row("irq", null)), Seq(Row(null, null)),
    Model.indicatorNames.zip(Seq(5.0, 0.0, 3.0, 1.0, 0.5)).map { case (n, v) => Row(n, v) },
    doubles.map(v => Row("v\"\\\né", v)))

  /** (cpu_number, timestamp, indicators) */
  private val tails: Seq[Row] = Seq(Row("0", 1751450637L, indicatorLists(6))) ++
    indicatorLists.map(Row("cpu\té", -42L, _)) ++
    Seq(Row(null, 1L, indicatorLists(6)), Row("0", null, indicatorLists(6)),
      Row(null, null, null), Row("", Long.MinValue, Seq.empty), Row("7", Long.MaxValue, Seq(null)))

  private val indicatorsType = Model.deviceDataSchema("indicators").dataType

  private def parquet(df: DataFrame): DataFrame = {
    val dir = java.nio.file.Files.createTempDirectory("graft-ddjson").resolve("in").toString
    df.write.parquet(dir)
    spark.read.parquet(dir)
  }

  /** Every name (and a null one) read back from parquet, so that no
    * projection over it is evaluated at planning time. */
  private lazy val names: DataFrame = {
    import spark.implicits._
    parquet((nameHex.map(Some(_)) :+ None).toDF("hex")
      .select(unhex(col("hex")).cast("string").as("name")))
  }

  /** Every tail with every name: no field is constant. */
  private lazy val perRow: DataFrame = {
    val tailDf = spark.createDataFrame(spark.sparkContext.parallelize(tails, 2),
      org.apache.spark.sql.types.StructType(Model.deviceDataSchema.fields.tail))
    parquet(names.crossJoin(tailDf))
  }

  private def indicatorsLit(inds: Seq[Row]): Column =
    if (inds == null) lit(null).cast(indicatorsType)
    else array(inds.map { i =>
      if (i == null) lit(null)
      else struct(lit(i.get(0)).cast("string").as("name"), lit(i.get(1)).cast("double").as("value"))
    }: _*).cast(indicatorsType)

  /** Every tail as literals over the names: a union of projections. */
  private def constantTails: DataFrame = tails.map { t =>
    names.select(col("name"), lit(t.get(0)).cast("string").as("cpu_number"),
      lit(t.get(1)).cast("long").as("timestamp"), indicatorsLit(t.getSeq[Row](2)).as("indicators"))
  }.reduce(_ unionByName _)

  private val writer: Column = {
    val field = (c: String) => ColumnBridge.expression(col(c))
    ColumnBridge.column(DeviceDataJson(field("name"), field("cpu_number"), field("timestamp"), field("indicators")))
  }

  /** Rows where the writer's bytes differ from to_json's, with both in hex. */
  private def mismatches(in: DataFrame): Seq[String] = {
    val toJson = when(col("name").isNotNull,
      to_json(struct(col("name"), col("cpu_number"), col("timestamp"), col("indicators"))))
    in.select(toJson.as("want"), writer.as("got"))
      .where(not(col("want") <=> col("got")))
      .select(hex(col("want")), hex(col("got")))
      .collect().map(r => s"want ${r.getString(0)}\ngot  ${r.getString(1)}").toSeq
  }

  private def withMode[T](mode: String)(body: => T): T = {
    val confs = Seq("spark.sql.codegen.factoryMode" -> mode,
      "spark.sql.codegen.wholeStage" -> (mode == "CODEGEN_ONLY").toString)
    val saved = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try body finally saved.foreach { case (k, v) => v.fold(spark.conf.unset(k))(spark.conf.set(k, _)) }
  }

  for (mode <- Seq("CODEGEN_ONLY", "NO_CODEGEN")) {
    test(s"$mode: per-row input gives to_json's bytes on every row") {
      withMode(mode) {
        assert(perRow.count() == (nameHex.size + 1) * tails.size)
        val bad = mismatches(perRow)
        assert(bad.isEmpty, bad.take(5).mkString("\n"))
      }
    }

    test(s"$mode: constant tails give to_json's bytes on every row") {
      withMode(mode) {
        val bad = mismatches(constantTails)
        assert(bad.isEmpty, bad.take(5).mkString("\n"))
      }
    }
  }

  test("a constant tail reaches the writer as literals, a per-row one does not") {
    def children(df: DataFrame) = df.select(writer).queryExecution.optimizedPlan
      .flatMap(_.expressions).flatMap(_.collect { case w: DeviceDataJson => w.children.tail }).flatten
    val constant = children(constantTails)
    val perRowFields = children(perRow)
    assert(constant.size == 3 * tails.size && constant.forall(_.isInstanceOf[Literal]),
      constantTails.select(writer).queryExecution.optimizedPlan)
    assert(perRowFields.size == 3 && perRowFields.forall(!_.foldable), perRowFields)
  }

  test("a null name is a null row whatever the other fields hold") {
    val got = perRow.where(col("name").isNull).select(writer).collect()
    assert(got.length == tails.size && got.forall(_.isNullAt(0)))
  }

  test("input that is not DeviceData-shaped fails analysis") {
    val e = intercept[org.apache.spark.sql.AnalysisException](
      spark.range(1).select(lit("n").as("name"), lit("0").as("cpu_number"),
        lit(1).as("timestamp"), array().as("indicators")).select(writer).collect())
    assert(e.getMessage.contains("device_data_json"))
  }
}
