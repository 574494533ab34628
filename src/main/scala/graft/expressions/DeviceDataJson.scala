package graft.expressions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.types.UTF8String

import java.nio.charset.StandardCharsets.UTF_8

/** One DeviceData row's wire JSON, written straight into a reused byte
  * buffer: byte-identical to
  * `when(name IS NOT NULL, to_json(struct(name, cpu_number, timestamp, indicators)))`
  * on every row, without Jackson.
  *
  * The children are `name STRING`, `cpu_number STRING`, `timestamp
  * BIGINT` and `indicators ARRAY<STRUCT<name: STRING, value: DOUBLE>>`.
  * A null `name` gives a null row (the pipeline's reject marker), so
  * every other field that is written follows a comma. A null field is
  * left out, as `to_json` leaves it out; a null array element is `null`.
  *
  * A field whose child is foldable is serialized once, when the
  * expression is first evaluated or compiled, and adjacent constant
  * fields merge with the closing brace into one byte copy. Under the
  * projection extractor `cpu_number`, `timestamp` and `indicators` are
  * all constant, so a row costs one escaped name plus one copy.
  */
case class DeviceDataJson(name: Expression, cpuNumber: Expression,
    timestamp: Expression, indicators: Expression) extends Expression {

  override def children: Seq[Expression] = Seq(name, cpuNumber, timestamp, indicators)
  override def dataType: DataType = StringType
  override def nullable: Boolean = true
  override def prettyName: String = "device_data_json"

  override def checkInputDataTypes(): TypeCheckResult = {
    val bad = children.zip(DeviceDataJson.fieldTypes).collect {
      case (c, t) if !DeviceDataJson.sameShape(c.dataType, t) => s"${c.dataType.simpleString} for ${t.simpleString}"
    }
    if (bad.isEmpty) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(s"$prettyName needs DeviceData's types, got ${bad.mkString(", ")}")
  }

  /** What follows the name: `Left` bytes are copied as they stand (the
    * foldable fields and the closing brace), `Right(i)` is child i
    * serialized per row. */
  @transient private lazy val segments: Seq[Either[Array[Byte], Int]] = {
    val out = new JsonBytes
    val segs = Seq.newBuilder[Either[Array[Byte], Int]]
    (1 to 3).foreach { i =>
      if (children(i).foldable) DeviceDataJson.writeField(out, i, children(i).eval())
      else {
        if (out.size > 0) segs += Left(out.toBytes)
        out.reset()
        segs += Right(i)
      }
    }
    out.byte('}')
    (segs += Left(out.toBytes)).result()
  }

  override def eval(input: InternalRow): Any = {
    val n = name.eval(input)
    if (n == null) null
    else {
      val out = new JsonBytes
      DeviceDataJson.writeName(out, n.asInstanceOf[UTF8String])
      segments.foreach {
        case Left(bytes) => out.raw(bytes)
        case Right(i) => DeviceDataJson.writeField(out, i, children(i).eval(input))
      }
      out.toUTF8String
    }
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val obj = "graft.expressions.DeviceDataJson"
    val bytesClass = classOf[JsonBytes].getName
    val out = ctx.addMutableState(bytesClass, "json", v => s"$v = new $bytesClass();")
    val nameEv = name.genCode(ctx)
    val body = segments.map {
      case Left(bytes) => s"$out.raw(${ctx.addReferenceObj("jsonTail", bytes, "byte[]")});"
      case Right(i) =>
        val f = children(i).genCode(ctx)
        val write = Seq("writeCpuNumber", "writeTimestamp", "writeIndicators")(i - 1)
        s"""${f.code}
           |if (!${f.isNull}) $obj.$write($out, ${f.value});""".stripMargin
    }
    ev.copy(code = code"""
      |${nameEv.code}
      |boolean ${ev.isNull} = ${nameEv.isNull};
      |UTF8String ${ev.value} = null;
      |if (!${ev.isNull}) {
      |  $out.reset();
      |  $obj.writeName($out, ${nameEv.value});
      |  ${body.mkString("\n")}
      |  ${ev.value} = $out.toUTF8String();
      |}""".stripMargin)
  }

  override protected def withNewChildrenInternal(c: IndexedSeq[Expression]): DeviceDataJson =
    copy(name = c(0), cpuNumber = c(1), timestamp = c(2), indicators = c(3))
}

object DeviceDataJson {
  private def utf8(s: String): Array[Byte] = s.getBytes(UTF_8)
  private val NameKey = utf8("{\"name\":")
  private val CpuNumberKey = utf8(",\"cpu_number\":")
  private val TimestampKey = utf8(",\"timestamp\":")
  private val IndicatorsKey = utf8(",\"indicators\":")
  private val IndicatorNameKey = utf8("\"name\":")
  private val IndicatorValueKey = utf8("\"value\":")
  private val Null = utf8("null")

  private val indicatorType =
    StructType(Seq(StructField("name", StringType), StructField("value", DoubleType)))
  private val fieldTypes = Seq(StringType, StringType, LongType, ArrayType(indicatorType))

  /** Equal types up to nullability: field names count, since they are
    * written out. */
  private def sameShape(a: DataType, b: DataType): Boolean = (a, b) match {
    case (ArrayType(x, _), ArrayType(y, _)) => sameShape(x, y)
    case (StructType(xs), StructType(ys)) => xs.length == ys.length &&
      xs.zip(ys).forall { case (x, y) => x.name == y.name && sameShape(x.dataType, y.dataType) }
    case _ => a == b
  }

  def writeName(out: JsonBytes, v: UTF8String): Unit = { out.raw(NameKey); out.string(v) }

  def writeCpuNumber(out: JsonBytes, v: UTF8String): Unit = { out.raw(CpuNumberKey); out.string(v) }

  def writeTimestamp(out: JsonBytes, v: Long): Unit = { out.raw(TimestampKey); out.long(v) }

  def writeIndicators(out: JsonBytes, v: ArrayData): Unit = {
    out.raw(IndicatorsKey)
    out.byte('[')
    var i = 0
    while (i < v.numElements()) {
      if (i > 0) out.byte(',')
      if (v.isNullAt(i)) out.raw(Null)
      else {
        val ind = v.getStruct(i, 2)
        out.byte('{')
        if (!ind.isNullAt(0)) { out.raw(IndicatorNameKey); out.string(ind.getUTF8String(0)) }
        if (!ind.isNullAt(1)) {
          if (!ind.isNullAt(0)) out.byte(',')
          out.raw(IndicatorValueKey)
          out.double(ind.getDouble(1))
        }
        out.byte('}')
      }
      i += 1
    }
    out.byte(']')
  }

  /** Field i of the row (1 = cpu_number, 2 = timestamp, 3 = indicators),
    * nothing when null. */
  private def writeField(out: JsonBytes, i: Int, v: Any): Unit = if (v != null) i match {
    case 1 => writeCpuNumber(out, v.asInstanceOf[UTF8String])
    case 2 => writeTimestamp(out, v.asInstanceOf[Long])
    case 3 => writeIndicators(out, v.asInstanceOf[ArrayData])
  }
}

/** A growable byte buffer that writes JSON values as Jackson's default
  * generator writes them: strings quoted with `"`, `\` and the control
  * characters escaped (`\b \t \n \f \r` short, the rest `\u00XX`),
  * everything else as is; doubles by `Double.toString`, NaN and the
  * infinities as quoted strings. */
final class JsonBytes {
  private var buf = new Array[Byte](256)
  private var len = 0

  def size: Int = len
  def reset(): Unit = len = 0

  private def ensure(extra: Int): Unit =
    if (len + extra > buf.length)
      buf = java.util.Arrays.copyOf(buf, math.max(buf.length * 2, len + extra))

  def byte(b: Char): Unit = { ensure(1); buf(len) = b.toByte; len += 1 }

  def raw(bytes: Array[Byte]): Unit = {
    ensure(bytes.length)
    System.arraycopy(bytes, 0, buf, len, bytes.length)
    len += bytes.length
  }

  /** `v` quoted and escaped. A string with bytes outside ASCII goes
    * through a decode and encode first, as Jackson's char-based writer
    * does, so malformed UTF-8 comes out replaced exactly as there. */
  def string(v: UTF8String): Unit = {
    val start = len
    if (!escape(v.getBaseObject, v.getBaseOffset, v.numBytes(), asciiOnly = true)) {
      len = start
      val valid = v.toString.getBytes(UTF_8)
      escape(valid, Platform.BYTE_ARRAY_OFFSET, valid.length, asciiOnly = false)
    }
  }

  /** Writes the quoted escape of `n` bytes at `base + offset`. When
    * `asciiOnly`, stops at the first byte outside ASCII and returns false. */
  private def escape(base: AnyRef, offset: Long, n: Int, asciiOnly: Boolean): Boolean = {
    ensure(n * 6 + 2)
    buf(len) = '"'
    len += 1
    var i = 0
    while (i < n) {
      val b = Platform.getByte(base, offset + i)
      if (b < 0) {
        if (asciiOnly) return false
        buf(len) = b; len += 1
      } else {
        val e = JsonBytes.Escapes(b)
        if (e == 0) { buf(len) = b; len += 1 }
        else if (e == 'u') {
          buf(len) = '\\'; buf(len + 1) = 'u'; buf(len + 2) = '0'; buf(len + 3) = '0'
          buf(len + 4) = JsonBytes.Hex(b >> 4); buf(len + 5) = JsonBytes.Hex(b & 0xF)
          len += 6
        } else { buf(len) = '\\'; buf(len + 1) = e; len += 2 }
      }
      i += 1
    }
    buf(len) = '"'
    len += 1
    true
  }

  def long(v: Long): Unit = ascii(java.lang.Long.toString(v))

  def double(v: Double): Unit =
    if (java.lang.Double.isFinite(v)) ascii(java.lang.Double.toString(v))
    else { byte('"'); ascii(java.lang.Double.toString(v)); byte('"') }

  private def ascii(s: String): Unit = {
    ensure(s.length)
    var i = 0
    while (i < s.length) { buf(len) = s.charAt(i).toByte; len += 1; i += 1 }
  }

  def toBytes: Array[Byte] = java.util.Arrays.copyOf(buf, len)
  def toUTF8String: UTF8String = UTF8String.fromBytes(toBytes)
}

object JsonBytes {
  /** Per ASCII byte: 0 = as is, 'u' = `\u00XX`, else the short escape's letter. */
  private val Escapes: Array[Byte] = {
    val t = new Array[Byte](128)
    (0 until 32).foreach(t(_) = 'u')
    Seq('"' -> '"', '\\' -> '\\', '\b' -> 'b', '\t' -> 't', '\n' -> 'n', '\f' -> 'f', '\r' -> 'r')
      .foreach { case (c, e) => t(c) = e.toByte }
    t
  }
  private val Hex: Array[Byte] = "0123456789ABCDEF".getBytes(UTF_8)
}
