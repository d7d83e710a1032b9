package graft.functions

import graft.schema.{FixedField, FixedSchema}
import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, CodeGenerator, ExprCode}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.types.UTF8String

/** Reused out-parameter of the parse helpers: one per task (or per
  * generated class), so a parsed primitive never needs a box. */
final class FieldCell {
  var l: Long = 0L
  var d: Double = 0d
  var f: Float = 0f
}

/** The fixed-width parse kernel: ONE rune-aware walk per line, then
  * one typed parse per field straight off the line's memory.
  *
  * [[bounds]] walks the line's UTF-8 bytes once and writes every
  * field's byte range into a reused `long[]` (`start << 32 | end`), so
  * no per-field object exists at all. Slicing is codepoint-based,
  * preserving the reference's rune-width semantics
  * (`fixed2avro/Util.go:45-65`, fine print F4); inside a line's ASCII
  * prefix it degenerates to offset arithmetic. The per-type helpers
  * below read a field from `(line, packed range)` with the exact
  * results of the declarative parse (`substring` → `trim` →
  * `try_cast` / `parse_ref_timestamp` in Strict mode, the Go strconv
  * surface in Compat mode; cross-checked by `ParseKernelSpec`). Only
  * string and bytes fields build a value object.
  *
  * Two consumers share the walk and the helpers:
  *  - [[FixedBounds]] + [[FixedFieldParse]], the typed parse
  *    ([[graft.parse.FixedWidthParser.parse]]): every field expression
  *    references the SAME bounds subtree, which whole-stage codegen's
  *    subexpression elimination evaluates once per row;
  *  - the fused line → Avro encoder ([[FixedAvro.LineEncoder]]).
  */
object FixedSlice {

  // Per-field parse kinds (tableswitch dispatch in the hot loops).
  final val KStr = 0; final val KBytes = 1; final val KBool = 2
  final val KInt = 3; final val KLong = 4; final val KFloat = 5
  final val KDouble = 6; final val KDate = 7; final val KTsMillis = 8
  final val KTsMicros = 9

  def kindOf(f: FixedField): Int = f.parseType match {
    case "string"           => KStr
    case "bytes" | "Bytes"  => KBytes
    case "boolean"          => KBool
    case "int"              => KInt
    case "long"             => KLong
    case "float"            => KFloat
    case "double"           => KDouble
    case "date"             => KDate
    case "timestamp-millis" => KTsMillis
    case "timestamp-micros" => KTsMicros
    case other => throw new IllegalArgumentException(
      s"unsupported type '$other' for ${f.name}")
  }

  /** Is the field space-trimmed before typing in Strict mode? Strings
    * and bytes keep their padding verbatim
    * (`ColumnBuilderTypes.go:157-159`); Compat trims nothing (Go
    * strconv rejects padded input). */
  def strictTrims(f: FixedField): Boolean = f.parseType match {
    case "string" | "bytes" | "Bytes" => false
    case _                            => true
  }

  /** Byte index of the first non-ASCII byte (== numBytes for a pure-
    * ASCII line), word-at-a-time: 8 sign bits per long-load. */
  private def asciiPrefixLen(line: UTF8String): Int = {
    val n = line.numBytes()
    val base = line.getBaseObject
    val off = line.getBaseOffset
    var i = 0
    while (i + 8 <= n && (Platform.getLong(base, off + i) & 0x8080808080808080L) == 0L) i += 8
    while (i < n && line.getByte(i) >= 0) i += 1
    i
  }

  /** Advance a (byte, char) cursor to `targetChar`, returned packed as
    * `(byteIdx << 32) | charIdx`. ASCII stretches hop 8 bytes per step
    * (identical semantics to the byte step, which counts an ASCII byte
    * as one rune); multibyte stretches step per codepoint with
    * `UTF8String.numChars`' stepping, so the walk's rune count always
    * agrees with `length(line)`. */
  private def advance(line: UTF8String, base: AnyRef, off: Long, numBytes: Int,
      byte0: Int, char0: Int, targetChar: Int): Long = {
    var b = byte0
    var c = char0
    while (c < targetChar && b < numBytes) {
      if (c + 8 <= targetChar && b + 8 <= numBytes &&
          (Platform.getLong(base, off + b) & 0x8080808080808080L) == 0L) {
        b += 8; c += 8
      } else {
        // Clamp: a TRUNCATED multibyte tail (a 4-byte lead as the
        // line's last byte) would otherwise step b past numBytes, and
        // the field read from it reads beyond the line buffer — on
        // LineScan's zero-copy mmap rows that is an out-of-bounds read
        // of the file mapping. Well-formed UTF-8 never hits the clamp.
        b = Math.min(b + UTF8String.numBytesForFirstByte(line.getByte(b)), numBytes)
        c += 1
      }
    }
    (b.toLong << 32) | (c.toLong & 0xffffffffL)
  }

  @inline def startOf(p: Long): Int = (p >>> 32).toInt
  @inline def lenOf(p: Long): Int = p.toInt - (p >>> 32).toInt

  /** The one walk: field f's byte range (space-trimmed when
    * `trimmed(f)`) into `out(f)`. Fields must be contiguous ascending
    * (FixedSchema.runeStarts is). A short line yields empty ranges past
    * its end — Spark substring's shape, kept for best-effort short-line
    * parsing. With `rowLen >= 0` the walk is also the corrupt-record
    * guard: it returns false when the line's rune length differs from
    * `rowLen` (fine print F5/F8), the walk's cursor doubling as the
    * `length(line)` count. */
  def bounds(line: UTF8String, starts: Array[Int], lens: Array[Int],
      trimmed: Array[Boolean], rowLen: Int, out: Array[Long]): Boolean = {
    val nFields = starts.length
    val numBytes = line.numBytes()
    val base = line.getBaseObject
    val off = line.getBaseOffset
    // Rune index == byte index everywhere inside the ASCII prefix, so a
    // field wholly inside it slices by offset arithmetic: the whole line
    // for ASCII corpora, the leading columns of a mostly-ASCII line.
    val ascii = asciiPrefixLen(line)
    if (ascii == numBytes) {
      // all-ASCII line (the common case): no walk at all
      if (rowLen >= 0 && numBytes != rowLen) return false
      var f = 0
      while (f < nFields) {
        val s = starts(f)
        range(base, off, Math.min(s, numBytes), Math.min(s + lens(f), numBytes), trimmed(f), out, f)
        f += 1
      }
      return true
    }
    var inWalk = false
    var charIdx = 0
    var byteIdx = 0
    var f = 0
    while (f < nFields) {
      if (!inWalk && starts(f) + lens(f) <= ascii) {
        range(base, off, starts(f), starts(f) + lens(f), trimmed(f), out, f)
      } else {
        if (!inWalk) {
          // enter the rune-aware walk AT the prefix boundary
          inWalk = true
          charIdx = Math.min(starts(f), ascii)
          byteIdx = charIdx
        }
        var cur = advance(line, base, off, numBytes, byteIdx, charIdx, starts(f))
        val sB = (cur >>> 32).toInt
        cur = advance(line, base, off, numBytes, sB, cur.toInt, starts(f) + lens(f))
        byteIdx = (cur >>> 32).toInt
        charIdx = cur.toInt
        range(base, off, sB, byteIdx, trimmed(f), out, f)
      }
      f += 1
    }
    // The line has more runes than rowLen if every field fit inside the
    // ASCII prefix (a non-ASCII byte follows), else exactly rowLen iff
    // the walk reached rowLen runes at the last byte.
    rowLen < 0 || (inWalk && charIdx == rowLen && byteIdx == numBytes)
  }

  /** Store one field's byte range, space-trimmed when asked: ASCII space
    * is never a UTF-8 continuation byte, so this is codepoint-safe, and
    * it strips the same set Spark's `trim` does. */
  @inline private def range(base: AnyRef, off: Long, start: Int, end: Int, trim: Boolean,
      out: Array[Long], f: Int): Unit = {
    var sB = start
    var eB = end
    if (trim) {
      while (sB < eB && Platform.getByte(base, off + sB) == 0x20) sB += 1
      while (eB > sB && Platform.getByte(base, off + eB - 1) == 0x20) eB -= 1
    }
    out(f) = (sB.toLong << 32) | eB.toLong
  }

  // --- per-type parse helpers: (line, packed byte range) ---

  /** Zero-copy view of a field: consumers copy it within the same row
    * (the projection's row writer, the Avro wire). */
  def slice(line: UTF8String, p: Long): UTF8String =
    UTF8String.fromAddress(line.getBaseObject, line.getBaseOffset + startOf(p), lenOf(p))

  def sliceBytes(line: UTF8String, p: Long): Array[Byte] = {
    val n = lenOf(p)
    val a = new Array[Byte](n)
    Platform.copyMemory(line.getBaseObject, line.getBaseOffset + startOf(p), a,
      Platform.BYTE_ARRAY_OFFSET, n)
    a
  }

  /** `try_cast(s AS BIGINT)` into `cell.l`; false where the cast is
    * null. Plain `[+-]?digits` parse inline with Long.parseLong's
    * overflow arithmetic; anything else goes through
    * `UTF8String.toLongExact` — what the cast itself calls — so no
    * input can parse differently (decimal forms like "12.5" included:
    * the exact surface rejects them). */
  def strictLong(line: UTF8String, p: Long, cell: FieldCell): Boolean = {
    val base = line.getBaseObject
    val off = line.getBaseOffset + startOf(p)
    val n = lenOf(p)
    if (n > 0 && n <= 19) {
      var i = 0
      var neg = false
      val b0 = Platform.getByte(base, off)
      if (b0 == '-') { neg = true; i = 1 }
      else if (b0 == '+') i = 1
      var m = 0L // accumulate negative: holds Long.MinValue
      var ok = i < n
      while (ok && i < n) {
        val d = Platform.getByte(base, off + i) - '0'
        if (d < 0 || d > 9 || m < -922337203685477580L ||
            (m == -922337203685477580L && d > 8)) ok = false
        else { m = m * 10 - d; i += 1 }
      }
      if (ok && (neg || m != Long.MinValue)) {
        cell.l = if (neg) m else -m
        return true
      }
    }
    exactLong(line, p, cell)
  }

  private def exactLong(line: UTF8String, p: Long, cell: FieldCell): Boolean =
    try { cell.l = slice(line, p).toLongExact(); true }
    catch { case _: NumberFormatException => false }

  /** `try_cast(s AS INT)`: the long surface narrowed — `toIntExact`
    * accepts exactly the long grammar over the int range. */
  def strictInt(line: UTF8String, p: Long, cell: FieldCell): Boolean =
    strictLong(line, p, cell) && cell.l >= Int.MinValue && cell.l <= Int.MaxValue

  /** `try_cast(s AS DOUBLE)` into `cell.d` ([[FastDouble]]'s pinned
    * fast path, the cast's own surface otherwise). */
  def strictDouble(line: UTF8String, p: Long, cell: FieldCell): Boolean = {
    val bits = FastDouble.fastBits(line.getBaseObject, line.getBaseOffset + startOf(p), lenOf(p))
    if (bits != FastDouble.FallbackBits) {
      cell.d = java.lang.Double.longBitsToDouble(bits)
      true
    } else {
      val d = FastDouble.tryParse(slice(line, p))
      if (d != null) cell.d = d.doubleValue()
      d != null
    }
  }

  /** `try_cast(s AS FLOAT)` into `cell.f`: trim → special literals →
    * parseFloat. Separate from the double path on purpose: parsing as
    * double and narrowing double-rounds. */
  def strictFloat(line: UTF8String, p: Long, cell: FieldCell): Boolean = {
    val str = slice(line, p).toString.trim
    val v: java.lang.Float = str.toLowerCase(java.util.Locale.ROOT) match {
      case "inf" | "+inf" | "infinity" | "+infinity" => Float.PositiveInfinity
      case "-inf" | "-infinity"                      => Float.NegativeInfinity
      case "nan"                                     => Float.NaN
      case _ =>
        try java.lang.Float.valueOf(java.lang.Float.parseFloat(str))
        catch { case _: NumberFormatException => null }
    }
    if (v != null) cell.f = v.floatValue()
    v != null
  }

  /** Strict boolean: first char J/j/Y/y → 1, N/n → 0, anything else
    * (empty, multibyte) → -1 (null). */
  def strictBool(line: UTF8String, p: Long): Int = {
    if (lenOf(p) == 0) return -1
    Platform.getByte(line.getBaseObject, line.getBaseOffset + startOf(p)) match {
      case 'J' | 'j' | 'Y' | 'y' => 1
      case 'N' | 'n'             => 0
      case _                     => -1
    }
  }

  /** Reference timestamp → micros, Long.MinValue when malformed. */
  def micros(line: UTF8String, p: Long): Long =
    RefTimestamp.parseMicros(line.getBaseObject, line.getBaseOffset + startOf(p), lenOf(p))

  final val MicrosPerDay = 86400000000L

  /** Go `strconv.ParseInt`/`ParseFloat` surfaces, matched the way
    * `rlike` matches (`find`, so `$` also admits one final line
    * terminator). */
  private val GoIntRe = java.util.regex.Pattern.compile("^[+-]?[0-9]+$")
  private val GoFloatRe = java.util.regex.Pattern.compile(
    "^[+-]?([0-9]+(\\.[0-9]*)?|\\.[0-9]+)([eE][+-]?[0-9]+)?$")

  private def goMatches(re: java.util.regex.Pattern, line: UTF8String, p: Long): Boolean =
    re.matcher(slice(line, p).toString).find(0)

  /** Compat int/long: strconv syntax on the UNtrimmed slice, then the
    * cast; any failure is the zero value (§2.2). A plain digit run
    * matches the syntax by construction, so only other inputs pay the
    * regex. */
  def compatLong(line: UTF8String, p: Long, int: Boolean, cell: FieldCell): Long = {
    val base = line.getBaseObject
    val off = line.getBaseOffset + startOf(p)
    val n = lenOf(p)
    var i = if (n > 0 && (Platform.getByte(base, off) == '-' ||
      Platform.getByte(base, off) == '+')) 1 else 0
    var plain = i < n
    while (plain && i < n) {
      val b = Platform.getByte(base, off + i)
      plain = b >= '0' && b <= '9'
      i += 1
    }
    val ok = (plain || goMatches(GoIntRe, line, p)) &&
      (if (int) strictInt(line, p, cell) else strictLong(line, p, cell))
    if (ok) cell.l else 0L
  }

  def compatDouble(line: UTF8String, p: Long, cell: FieldCell): Double = {
    val bits = FastDouble.fastBits(line.getBaseObject, line.getBaseOffset + startOf(p), lenOf(p))
    // the fast path's accepted forms all match the strconv syntax
    if (bits != FastDouble.FallbackBits) java.lang.Double.longBitsToDouble(bits)
    else if (goMatches(GoFloatRe, line, p) && strictDouble(line, p, cell)) cell.d
    else 0d
  }

  def compatFloat(line: UTF8String, p: Long, cell: FieldCell): Float =
    if (goMatches(GoFloatRe, line, p) && strictFloat(line, p, cell)) cell.f else 0f

  /** Compat first-char boolean: J/j/Y/y → true, anything else false. */
  def compatBool(line: UTF8String, p: Long): Boolean = strictBool(line, p) == 1

  /** Compat F1: every date/timestamp variant is Unix SECONDS, 0 on
    * failure — timezone-free, floor like `unix_timestamp`. */
  def compatSeconds(line: UTF8String, p: Long): Long = {
    val m = micros(line, p)
    if (m == Long.MinValue) 0L else Math.floorDiv(m, 1000000L)
  }

  /** One line → every field's byte range. `strict` selects the Strict
    * trim table; `guarded` makes a line whose rune length differs from
    * the schema's row length evaluate to null (the corrupt-record
    * guard), nulling every field that reads it.
    *
    * The value is a reused per-task `long[]`: it is only read by the
    * [[FixedFieldParse]] expressions of the same row. */
  case class FixedBounds(child: Expression, schema: FixedSchema, strict: Boolean,
      guarded: Boolean) extends UnaryExpression {
    override def dataType: DataType = ObjectType(classOf[Array[Long]])
    override def nullable: Boolean = child.nullable || guarded
    override def prettyName: String = "fixed_bounds"
    override def toString: String = s"fixed_bounds($child)"

    @transient private lazy val starts: Array[Int] = schema.runeStarts.toArray
    @transient private lazy val lens: Array[Int] = schema.fields.map(_.runeLen).toArray
    @transient private lazy val trims: Array[Boolean] =
      schema.fields.map(f => strict && strictTrims(f)).toArray
    private def rowLen: Int = if (guarded) schema.rowRuneLen else -1
    @transient private lazy val buf = new Array[Long](schema.fields.size)

    override def nullSafeEval(input: Any): Any =
      if (bounds(input.asInstanceOf[UTF8String], starts, lens, trims, rowLen, buf)) buf
      else null

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val startsRef = ctx.addReferenceObj("starts", starts, "int[]")
      val lensRef = ctx.addReferenceObj("lens", lens, "int[]")
      val trimRef = ctx.addReferenceObj("trims", trims, "boolean[]")
      val out = ctx.addMutableState("long[]", "fixedBounds",
        v => s"$v = new long[${schema.fields.size}];")
      val call = (line: String) =>
        s"graft.functions.FixedSlice.bounds($line, $startsRef, $lensRef, $trimRef, $rowLen, $out)"
      nullSafeCodeGen(ctx, ev, line =>
        if (guarded) s"if (${call(line)}) { ${ev.value} = $out; } else { ${ev.isNull} = true; }"
        else s"${call(line)}; ${ev.value} = $out;")
    }

    override protected def withNewChildInternal(c: Expression): FixedBounds = copy(child = c)
  }

  /** One typed field read from the shared [[FixedBounds]]. Null bounds
    * (a null line, or a guarded corrupt one) give null — except the
    * unguarded Compat numerics and timestamps, whose declarative form
    * coalesces every failure to the zero value. */
  case class FixedFieldParse(line: Expression, fieldBounds: Expression, index: Int,
      field: FixedField, compat: Boolean, guarded: Boolean) extends BinaryExpression {
    override def left: Expression = line
    override def right: Expression = fieldBounds
    override def prettyName: String = "fixed_field"
    override def toString: String = s"fixed_field($line, ${field.name})"

    private val kind = kindOf(field)
    private def valueObject = kind == KStr || kind == KBytes
    private def zeroFilled = compat && !valueObject && kind != KBool

    override def dataType: DataType =
      if (compat && (kind == KDate || kind == KTsMillis || kind == KTsMicros)) LongType
      else field.sparkType
    override def nullable: Boolean =
      if (valueObject || (compat && kind == KBool)) fieldBounds.nullable
      else if (zeroFilled) guarded
      else true

    @transient private lazy val cell = new FieldCell

    override def eval(input: InternalRow): Any = {
      val b = fieldBounds.eval(input).asInstanceOf[Array[Long]]
      if (b == null) return if (zeroFilled && !guarded) zero else null
      val l = line.eval(input).asInstanceOf[UTF8String]
      val p = b(index)
      if (compat) kind match {
        case KStr   => slice(l, p)
        case KBytes => sliceBytes(l, p)
        case KBool  => compatBool(l, p)
        case KInt   => compatLong(l, p, int = true, cell).toInt
        case KLong  => compatLong(l, p, int = false, cell)
        case KFloat => compatFloat(l, p, cell)
        case KDouble => compatDouble(l, p, cell)
        case _      => compatSeconds(l, p)
      } else kind match {
        case KStr   => slice(l, p)
        case KBytes => sliceBytes(l, p)
        case KBool  => val r = strictBool(l, p); if (r < 0) null else r == 1
        case KInt   => if (strictInt(l, p, cell)) cell.l.toInt else null
        case KLong  => if (strictLong(l, p, cell)) cell.l else null
        case KFloat => if (strictFloat(l, p, cell)) cell.f else null
        case KDouble => if (strictDouble(l, p, cell)) cell.d else null
        case _ =>
          val m = micros(l, p)
          if (m == Long.MinValue) null
          else if (kind == KDate) Math.floorDiv(m, MicrosPerDay).toInt
          else m
      }
    }

    private def zero: Any = dataType match {
      case IntegerType => 0
      case FloatType   => 0f
      case DoubleType  => 0d
      case _           => 0L
    }

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val b = fieldBounds.genCode(ctx)
      val l = line.genCode(ctx)
      val cellRef = "graftFieldCell"
      ctx.addImmutableStateIfNotExists(classOf[FieldCell].getName, cellRef,
        v => s"$v = new ${classOf[FieldCell].getName}();")
      val fs = "graft.functions.FixedSlice"
      val p = ctx.freshName("range")
      val (v, isNull) = (ev.value, ev.isNull)
      val lv = l.value
      val parse = if (compat) kind match {
        case KStr   => s"$v = $fs.slice($lv, $p);"
        case KBytes => s"$v = $fs.sliceBytes($lv, $p);"
        case KBool  => s"$v = $fs.compatBool($lv, $p);"
        case KInt   => s"$v = (int) $fs.compatLong($lv, $p, true, $cellRef);"
        case KLong  => s"$v = $fs.compatLong($lv, $p, false, $cellRef);"
        case KFloat => s"$v = $fs.compatFloat($lv, $p, $cellRef);"
        case KDouble => s"$v = $fs.compatDouble($lv, $p, $cellRef);"
        case _      => s"$v = $fs.compatSeconds($lv, $p);"
      } else kind match {
        case KStr   => s"$v = $fs.slice($lv, $p);"
        case KBytes => s"$v = $fs.sliceBytes($lv, $p);"
        case KBool =>
          s"int ${p}b = $fs.strictBool($lv, $p); $isNull = ${p}b < 0; $v = ${p}b == 1;"
        case KInt =>
          s"$isNull = !$fs.strictInt($lv, $p, $cellRef); $v = (int) $cellRef.l();"
        case KLong  => s"$isNull = !$fs.strictLong($lv, $p, $cellRef); $v = $cellRef.l();"
        case KFloat => s"$isNull = !$fs.strictFloat($lv, $p, $cellRef); $v = $cellRef.f();"
        case KDouble => s"$isNull = !$fs.strictDouble($lv, $p, $cellRef); $v = $cellRef.d();"
        case _ =>
          val toValue = if (kind == KDate) s"(int) java.lang.Math.floorDiv(${p}m, ${MicrosPerDay}L)"
            else s"${p}m"
          s"long ${p}m = $fs.micros($lv, $p); $isNull = ${p}m == Long.MIN_VALUE; " +
            s"if (!$isNull) $v = $toValue;"
      }
      val onNull =
        if (zeroFilled && !guarded) s"$v = (${CodeGenerator.javaType(dataType)}) 0;"
        else s"$isNull = true;"
      ev.copy(code = code"""
        |${b.code}
        |${l.code}
        |boolean $isNull = false;
        |${CodeGenerator.javaType(dataType)} $v = ${CodeGenerator.defaultValue(dataType)};
        |if (${b.isNull}) {
        |  $onNull
        |} else {
        |  long $p = ((long[]) ${b.value})[$index];
        |  $parse
        |}
        |""".stripMargin)
    }

    override protected def withNewChildrenInternal(newLeft: Expression,
        newRight: Expression): FixedFieldParse =
      copy(line = newLeft, fieldBounds = newRight)
  }

  /** The typed field columns of `schema` over one line column, all
    * reading ONE shared bounds walk; with `guarded`, also the corrupt
    * predicate (true where the guard rejected a non-null line's rune
    * length, or the line is null). */
  def fixed_fields(line: Column, schema: FixedSchema, compat: Boolean,
      guarded: Boolean): (Seq[Column], Column) = {
    val lineExpr = ColumnBridge.expression(line)
    val b = FixedBounds(lineExpr, schema, strict = !compat, guarded)
    val fields = schema.fields.zipWithIndex.map { case (f, i) =>
      ColumnBridge.column(FixedFieldParse(lineExpr, b, i, f, compat, guarded)).as(f.name)
    }
    (fields, ColumnBridge.column(org.apache.spark.sql.catalyst.expressions.IsNull(b)))
  }
}
