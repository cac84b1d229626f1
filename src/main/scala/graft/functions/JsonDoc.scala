package graft.functions

import java.nio.charset.StandardCharsets

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.types.UTF8String

/** Single-pass NDJSON serializer for a flat struct — replaces `to_json`
  * on the routed document (the last hot spot of the pipeline: Jackson's
  * generator allocates heavily per row). Emits the same logical JSON:
  * null fields dropped (absent-key semantics), strings escaped per the
  * JSON spec, timestamps in Spark's default `yyyy-MM-dd'T'HH:mm:ss.SSSXXX`
  * UTC form. Field order is schema order (key order is irrelevant to all
  * consumers and tests — they parse). Each document is written as UTF-8
  * straight into one growable byte buffer: valid UTF-8 strings are copied
  * byte by byte, longs, ints and timestamps are written as digits.
  */
object JsonDoc {

  def jsonDoc(struct: Column): Column = {
    import org.apache.spark.sql.GraftBridge
    GraftBridge.column(JsonDocExpr(GraftBridge.expression(struct)))
  }

  /** JSON escapes of the ASCII bytes that need one: `"`, `\` and the
    * control bytes below 0x20 (`\u00XX` with to_json's upper-case hex). */
  private val escapes: Array[Array[Byte]] = Array.tabulate(128) { b =>
    val e = b.toChar match {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case '\b' => "\\b"
      case '\f' => "\\f"
      case x if x < ' ' => f"\\u${x.toInt}%04X"
      case _ => null
    }
    if (e == null) null else e.getBytes(StandardCharsets.US_ASCII)
  }

  /** A growable UTF-8 byte buffer holding one document. */
  private[functions] final class Utf8Buf(capacity: Int) {
    private var bytes = new Array[Byte](capacity)
    private var n = 0

    private def ensure(extra: Int): Unit =
      if (n + extra > bytes.length)
        bytes = java.util.Arrays.copyOf(bytes, math.max(bytes.length * 2, n + extra))

    def put(c: Char): Unit = { ensure(1); bytes(n) = c.toByte; n += 1 }

    def put(bs: Array[Byte]): Unit = {
      ensure(bs.length)
      System.arraycopy(bs, 0, bytes, n, bs.length)
      n += bs.length
    }

    def putAscii(s: String): Unit = {
      ensure(s.length)
      var i = 0
      while (i < s.length) { bytes(n + i) = s.charAt(i).toByte; i += 1 }
      n += s.length
    }

    /** `v` zero-padded to `width` digits (`v` is non-negative). */
    def putDigits(v: Long, width: Int): Unit = {
      ensure(width)
      var x = v
      var i = n + width - 1
      while (i >= n) { bytes(i) = ('0' + x % 10).toByte; x /= 10; i -= 1 }
      n += width
    }

    def putLong(v: Long): Unit =
      if (v == Long.MinValue) putAscii("-9223372036854775808") // no positive twin
      else {
        if (v < 0) put('-')
        val x = math.abs(v)
        var width = 1
        var p = 10L
        while (width < 19 && x >= p) { width += 1; p *= 10 }
        putDigits(x, width)
      }

    /** A valid UTF-8 string in quotes: runs of bytes that need no escape
      * are copied as they are; multi-byte sequences never contain ASCII. */
    def putQuoted(s: UTF8String): Unit = {
      val base = s.getBaseObject
      val off = s.getBaseOffset
      val len = s.numBytes
      ensure(len + 2)
      put('"')
      var from = 0
      var i = 0
      while (i < len) {
        val b = Platform.getByte(base, off + i)
        if (b >= 0 && escapes(b) != null) {
          copy(base, off + from, i - from)
          put(escapes(b))
          from = i + 1
        }
        i += 1
      }
      copy(base, off + from, len - from)
      put('"')
    }

    private def copy(base: AnyRef, off: Long, len: Int): Unit = {
      ensure(len)
      Platform.copyMemory(base, off, bytes, Platform.BYTE_ARRAY_OFFSET + n, len)
      n += len
    }

    def result: UTF8String = UTF8String.fromBytes(bytes, 0, n)
  }
}

case class JsonDocExpr(child: Expression) extends UnaryExpression {
  import JsonDoc.Utf8Buf

  override def dataType: DataType = StringType
  override def nullable: Boolean = true
  override def prettyName: String = "json_doc"

  private lazy val structType = child.dataType.asInstanceOf[StructType]
  private lazy val types: Array[DataType] = structType.fields.map(_.dataType)
  /** `"name":` per field, UTF-8 encoded. */
  @transient private lazy val keys: Array[Array[Byte]] =
    structType.fields.map(f => ("\"" + f.name + "\":").getBytes(StandardCharsets.UTF_8))

  @transient private lazy val tsFmt =
    java.time.format.DateTimeFormatter
      .ofPattern("yyyy-MM-dd'T'HH:mm:ss.SSSXXX")
      .withZone(java.time.ZoneOffset.UTC)

  @transient private lazy val ntzFmt =
    java.time.format.DateTimeFormatter
      .ofPattern("yyyy-MM-dd'T'HH:mm:ss.SSS")

  /** Instance entry point used from both eval and generated code: the
    * document's UTF-8 bytes appended to one buffer. */
  def evalDoc(row: InternalRow): UTF8String = {
    if (row == null) return null
    val buf = new Utf8Buf(256)
    buf.put('{')
    var first = true
    var i = 0
    while (i < types.length) {
      if (!row.isNullAt(i)) {
        if (!first) buf.put(',')
        first = false
        buf.put(keys(i))
        types(i) match {
          case StringType =>
            val s = row.getUTF8String(i)
            // invalid UTF-8 goes through String decoding (U+FFFD replacement)
            buf.putQuoted(if (s.isValid) s else UTF8String.fromString(s.toString))
          case LongType    => buf.putLong(row.getLong(i))
          case IntegerType => buf.putLong(row.getInt(i))
          case BooleanType => buf.putAscii(if (row.getBoolean(i)) "true" else "false")
          case DoubleType  => buf.putAscii(java.lang.Double.toString(row.getDouble(i)))
          case TimestampType => timestamp(buf, row.getLong(i), utc = true)
          case TimestampNTZType => timestamp(buf, row.getLong(i), utc = false) // to_json: no zone
          case other =>
            throw new IllegalArgumentException(s"json_doc: unsupported type $other")
        }
      }
      i += 1
    }
    buf.put('}')
    buf.result
  }

  /** `"yyyy-MM-dd'T'HH:mm:ss.SSS"`, with a `Z` for UTC, written from the
    * civil date of the epoch day; years outside 1-9999 use the formatter. */
  private def timestamp(buf: Utf8Buf, us: Long, utc: Boolean): Unit = {
    val sec = Math.floorDiv(us, 1000000L)
    val micros = Math.floorMod(us, 1000000L)
    // days-to-civil (H. Hinnant's algorithm), proleptic Gregorian like java.time
    val z = Math.floorDiv(sec, 86400L) + 719468L
    val era = Math.floorDiv(z, 146097L)
    val doe = z - era * 146097L
    val yoe = (doe - doe / 1460 + doe / 36524 - doe / 146096) / 365
    val doy = doe - (365 * yoe + yoe / 4 - yoe / 100)
    val mp = (5 * doy + 2) / 153
    val day = doy - (153 * mp + 2) / 5 + 1
    val month = if (mp < 10) mp + 3 else mp - 9
    val year = yoe + era * 400 + (if (month <= 2) 1 else 0)
    if (year < 1 || year > 9999) {
      val s = if (utc) tsFmt.format(java.time.Instant.ofEpochSecond(sec, micros * 1000L))
        else ntzFmt.format(java.time.LocalDateTime.ofEpochSecond(sec, (micros * 1000L).toInt,
          java.time.ZoneOffset.UTC))
      buf.put('"'); buf.putAscii(s); buf.put('"')
    } else {
      val sod = Math.floorMod(sec, 86400L)
      buf.put('"')
      buf.putDigits(year, 4); buf.put('-'); buf.putDigits(month, 2); buf.put('-')
      buf.putDigits(day, 2); buf.put('T'); buf.putDigits(sod / 3600, 2); buf.put(':')
      buf.putDigits(sod / 60 % 60, 2); buf.put(':'); buf.putDigits(sod % 60, 2); buf.put('.')
      buf.putDigits(micros / 1000, 3)
      if (utc) buf.put('Z')
      buf.put('"')
    }
  }

  override def nullSafeEval(input: Any): Any =
    evalDoc(input.asInstanceOf[InternalRow])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("jsonDocExpr", this, classOf[JsonDocExpr].getName)
    nullSafeCodeGen(ctx, ev, c => s"${ev.value} = $ref.evalDoc($c);")
  }

  override protected def withNewChildInternal(newChild: Expression): JsonDocExpr =
    copy(child = newChild)
}
