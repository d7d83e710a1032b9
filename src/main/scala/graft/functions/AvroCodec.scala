package graft.functions

import java.io.ByteArrayOutputStream
import java.nio.ByteBuffer

import org.apache.avro.Schema
import org.apache.avro.generic.{GenericData, GenericDatumReader, GenericDatumWriter, GenericRecord}
import org.apache.avro.io.{BinaryDecoder, BinaryEncoder, DecoderFactory, EncoderFactory}
import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, Generator, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Avro binary codec as native Catalyst expressions.
  *
  * The environment ships the Avro Java library but not the spark-avro
  * module, so `to_avro`/`from_avro` are re-implemented here over
  * `org.apache.avro` directly. This re-expresses the reference's
  * per-record `avro.Marshal` (`fixed2avro/ColumnBuilder.go:75-95`) as an
  * expression: one reused encoder + record per task (the reference reuses
  * one record per chunk, `fixed2avro/ColumnBuilder.go:67-68`), no
  * per-row allocation beyond the output byte array.
  *
  * Supported field types = the reference's type universe (SURVEY.md §1.3):
  * boolean, bytes, int, long, float, double, string, date (int days),
  * timestamp-millis/micros (long). Flat records only, no unions — exactly
  * the model of `common/fixed.go:86-148`.
  */
object AvroCodec {

  /** Encode one `InternalRow` field straight to the Avro binary
    * encoder — no boxing, no `GenericData.Record` store, no
    * `GenericDatumWriter` schema walk. Timestamps/dates are already
    * epoch micros/days in Tungsten; strings write their UTF-8 bytes via
    * `writeBytes` (Avro wire encoding of `string` and `bytes` is
    * identical: length + data), skipping the UTF8String→String decode +
    * re-encode round trip. */
  private[graft] type FieldWriter = (InternalRow, Int, org.apache.avro.io.Encoder) => Unit

  /** For an optional `["null", T]` union, the (null branch index,
    * value branch index, value schema). Only two-branch unions with a
    * null member are supported — the standard Avro optional-field
    * encoding ([[graft.schema.FixedSchema.nullableAvroJson]]); wider
    * unions are outside both the reference's model and this codec's. */
  private def optionalBranches(avro: Schema): (Int, Int, Schema) = {
    val ts = avro.getTypes
    require(ts.size == 2 &&
        (ts.get(0).getType == Schema.Type.NULL || ts.get(1).getType == Schema.Type.NULL),
      s"AvroCodec: only optional [\"null\", T] unions are supported, got $avro")
    val nullIdx = if (ts.get(0).getType == Schema.Type.NULL) 0 else 1
    (nullIdx, 1 - nullIdx, ts.get(1 - nullIdx))
  }

  private def fieldWriter(dt: DataType, avro: Schema): FieldWriter = {
    if (avro.getType == Schema.Type.UNION) {
      // Optional union: branch index (zigzag long on the wire), then
      // nothing for null / the value encoding for the value branch.
      val (nullIdx, valIdx, valSchema) = optionalBranches(avro)
      val base = fieldWriter(dt, valSchema)
      return (r, i, e) =>
        if (r.isNullAt(i)) { e.writeIndex(nullIdx); e.writeNull() }
        else { e.writeIndex(valIdx); base(r, i, e) }
    }
    val logical = Option(avro.getProp("logicalType"))
    dt match {
      case StringType  => (r, i, e) => {
        val b = r.getUTF8String(i).getBytes; e.writeBytes(b, 0, b.length)
      }
      case BinaryType  => (r, i, e) => { val b = r.getBinary(i); e.writeBytes(b, 0, b.length) }
      case BooleanType => (r, i, e) => e.writeBoolean(r.getBoolean(i))
      case IntegerType if avro.getType == Schema.Type.LONG =>
        (r, i, e) => e.writeLong(r.getInt(i).toLong)
      case IntegerType => (r, i, e) => e.writeInt(r.getInt(i))
      case LongType    => (r, i, e) => e.writeLong(r.getLong(i))
      case FloatType   => (r, i, e) => e.writeFloat(r.getFloat(i))
      case DoubleType  => (r, i, e) => e.writeDouble(r.getDouble(i))
      case DateType    => (r, i, e) => e.writeInt(r.getInt(i))
      case TimestampType | TimestampNTZType =>
        if (logical.contains("timestamp-millis"))
          (r, i, e) => e.writeLong(Math.floorDiv(r.getLong(i), 1000L))
        else (r, i, e) => e.writeLong(r.getLong(i))
      case t => throw new IllegalArgumentException(s"AvroCodec: unsupported Spark type $t")
    }
  }

  /** `DatumWriter` over `InternalRow` built from the per-field writer
    * plan; rows must be non-null in every field (the flat reference
    * schema model has no unions). Shared by [[AvroEncode]] and the OCF
    * sink ([[graft.sources.Ocf.write]]). */
  private[graft] final class InternalRowDatumWriter(avroSchema: Schema, sparkSchema: StructType)
      extends org.apache.avro.io.DatumWriter[InternalRow] {
    private val writers: Array[FieldWriter] =
      sparkSchema.fields.zipWithIndex.map { case (f, i) =>
        fieldWriter(f.dataType, avroSchema.getFields.get(i).schema())
      }.toArray
    override def setSchema(s: Schema): Unit = ()
    override def write(row: InternalRow, out: org.apache.avro.io.Encoder): Unit = {
      var i = 0
      while (i < writers.length) { writers(i)(row, i, out); i += 1 }
    }
  }

  private[graft] def internalRowDatumWriter(avroSchema: Schema, sparkSchema: StructType)
      : InternalRowDatumWriter = new InternalRowDatumWriter(avroSchema, sparkSchema)

  // Field kinds of the flat reader.
  private final val RStr = 0; private final val RBytes = 1; private final val RBool = 2
  private final val RInt = 3; private final val RLong = 4; private final val RLongAsInt = 5
  private final val RFloat = 6; private final val RDouble = 7; private final val RTsMillis = 8

  private def readKind(avro: Schema, dt: DataType): Int = {
    val logical = Option(avro.getProp("logicalType"))
    (avro.getType, dt) match {
      case (Schema.Type.STRING, StringType)                   => RStr
      case (Schema.Type.BYTES, BinaryType)                    => RBytes
      case (Schema.Type.BOOLEAN, BooleanType)                 => RBool
      case (Schema.Type.INT, IntegerType | DateType)          => RInt
      case (Schema.Type.LONG, LongType)                       => RLong
      case (Schema.Type.LONG, IntegerType)                    => RLongAsInt
      case (Schema.Type.FLOAT, FloatType)                     => RFloat
      case (Schema.Type.DOUBLE, DoubleType)                   => RDouble
      case (Schema.Type.LONG, TimestampType | TimestampNTZType)
          if logical.contains("timestamp-millis")             => RTsMillis
      case (Schema.Type.LONG, TimestampType | TimestampNTZType) => RLong
      case (a, t) =>
        throw new IllegalArgumentException(s"AvroCodec: cannot decode Avro $a as Spark $t")
    }
  }

  /** Flat-record decode for the writer == reader case (fields in wire
    * order, optional `["null", T]` unions allowed): zigzag varints and
    * little-endian floats read straight off the byte array into the
    * row's primitive setters — the read-side twin of [[AvroWire]], with
    * no `Decoder`, no boxing and no `GenericRecord`. Callers MUST
    * verify schema equality first; evolved writers go through the
    * resolving `GenericDatumReader`.
    *
    * Error behavior is `BinaryDecoder`'s: a body that ends early throws
    * `EOFException`, a varint past its width throws
    * `InvalidNumberEncodingException`, a bad length fails
    * `SystemLimitException.checkMaxBytesLength`; bytes after the last
    * field are left unread. String and bytes values are copied out, so
    * a row never aliases the input buffer (OCF block buffers are
    * reused). NOT thread-safe; one instance per task. */
  private[graft] final class FlatReader(avroSchema: Schema, sparkSchema: StructType) {
    require(avroSchema.getFields.size == sparkSchema.size,
      s"Avro schema has ${avroSchema.getFields.size} fields, struct has ${sparkSchema.size}")
    private val n = sparkSchema.size
    /** Union branch index that means null, or -1 for a plain field. */
    private val nullIdx: Array[Int] = Array.tabulate(n) { i =>
      val a = avroSchema.getFields.get(i).schema()
      if (a.getType == Schema.Type.UNION) optionalBranches(a)._1 else -1
    }
    private val kinds: Array[Int] = Array.tabulate(n) { i =>
      val a = avroSchema.getFields.get(i).schema()
      readKind(if (a.getType == Schema.Type.UNION) optionalBranches(a)._3 else a,
        sparkSchema(i).dataType)
    }
    private val types = sparkSchema.fields.map(_.dataType).toSeq
    private var buf: Array[Byte] = _
    private var pos = 0
    private var end = 0

    def newRow(): InternalRow =
      new org.apache.spark.sql.catalyst.expressions.SpecificInternalRow(types)

    /** Decode the record at `bytes[off, limit)` into every field of
      * `row`; returns the offset after it. */
    def read(bytes: Array[Byte], off: Int, limit: Int, row: InternalRow): Int = {
      buf = bytes; pos = off; end = limit
      var i = 0
      while (i < n) {
        if (nullIdx(i) >= 0 && readInt() == nullIdx(i)) row.setNullAt(i)
        else kinds(i) match {
          case RStr      => row.update(i, UTF8String.fromBytes(readBytes()))
          case RBytes    => row.update(i, readBytes())
          case RBool     => row.setBoolean(i, next() == 1)
          case RInt      => row.setInt(i, readInt())
          case RLong     => row.setLong(i, readLong())
          case RLongAsInt => row.setInt(i, readLong().toInt)
          case RFloat    => row.setFloat(i, java.lang.Float.intBitsToFloat(fixed(4).toInt))
          case RDouble   => row.setDouble(i, java.lang.Double.longBitsToDouble(fixed(8)))
          case RTsMillis => row.setLong(i, Math.multiplyExact(readLong(), 1000L))
        }
        i += 1
      }
      pos
    }

    private def next(): Int = {
      if (pos >= end) throw new java.io.EOFException()
      val b = buf(pos) & 0xff
      pos += 1
      b
    }

    private def readInt(): Int = {
      var b = next()
      var v = b & 0x7f
      var shift = 7
      while (b > 0x7f) {
        if (shift > 28) throw new org.apache.avro.InvalidNumberEncodingException("Invalid int encoding")
        b = next()
        v |= (b & 0x7f) << shift
        shift += 7
      }
      (v >>> 1) ^ -(v & 1)
    }

    private def readLong(): Long = {
      var b = next()
      var v = (b & 0x7f).toLong
      var shift = 7
      while (b > 0x7f) {
        if (shift > 63) throw new org.apache.avro.InvalidNumberEncodingException("Invalid long encoding")
        b = next()
        v |= (b & 0x7fL) << shift
        shift += 7
      }
      (v >>> 1) ^ -(v & 1)
    }

    /** `width` little-endian bytes. */
    private def fixed(width: Int): Long = {
      if (end - pos < width) { pos = end; throw new java.io.EOFException() }
      var v = 0L
      var i = 0
      while (i < width) { v |= (buf(pos + i) & 0xffL) << (8 * i); i += 1 }
      pos += width
      v
    }

    private def readBytes(): Array[Byte] = {
      val len = org.apache.avro.SystemLimitException.checkMaxBytesLength(readLong())
      if (end - pos < len) throw new java.io.EOFException()
      val a = java.util.Arrays.copyOfRange(buf, pos, pos + len)
      pos += len
      a
    }
  }

  /** Avro field value → Catalyst value converters. */
  private def decoder(avro: Schema, dt: DataType): AnyRef => Any = {
    if (avro.getType == Schema.Type.UNION) {
      // GenericDatumReader resolves the union per value: null or the
      // value branch's Java representation.
      val (_, _, valSchema) = optionalBranches(avro)
      val base = decoder(valSchema, dt)
      return v => if (v == null) null else base(v)
    }
    val logical = Option(avro.getProp("logicalType"))
    (avro.getType, dt) match {
      case (Schema.Type.STRING, StringType)  => v => UTF8String.fromString(v.toString)
      case (Schema.Type.BYTES, BinaryType)   => v => {
        val bb = v.asInstanceOf[ByteBuffer]
        val a = new Array[Byte](bb.remaining()); bb.duplicate().get(a); a
      }
      case (Schema.Type.BOOLEAN, BooleanType)=> v => v.asInstanceOf[java.lang.Boolean].booleanValue()
      case (Schema.Type.INT, IntegerType)    => v => v.asInstanceOf[java.lang.Integer].intValue()
      case (Schema.Type.LONG, LongType)      => v => v.asInstanceOf[java.lang.Long].longValue()
      case (Schema.Type.LONG, IntegerType)   => v => v.asInstanceOf[java.lang.Long].intValue()
      case (Schema.Type.FLOAT, FloatType)    => v => v.asInstanceOf[java.lang.Float].floatValue()
      case (Schema.Type.DOUBLE, DoubleType)  => v => v.asInstanceOf[java.lang.Double].doubleValue()
      case (Schema.Type.INT, DateType)       => v => v.asInstanceOf[java.lang.Integer].intValue()
      case (Schema.Type.LONG, TimestampType | TimestampNTZType) if logical.contains("timestamp-millis") =>
        v => Math.multiplyExact(v.asInstanceOf[java.lang.Long].longValue(), 1000L)
      case (Schema.Type.LONG, TimestampType | TimestampNTZType) =>
        v => v.asInstanceOf[java.lang.Long].longValue()
      case (a, t) =>
        throw new IllegalArgumentException(s"AvroCodec: cannot decode Avro $a as Spark $t")
    }
  }

  /** struct → Avro binary (record body only, no framing).
    *
    * Codegen: the Avro writer itself is library code that cannot be
    * inlined into generated Java, so doGenCode emits a direct call to
    * this expression's evaluator via a reference object. That keeps the
    * surrounding whole-stage codegen fused (no CodegenFallback
    * row-materialization detour); the measured encode leg runs at
    * ~2.8M rows/s on local[32] — at parity with the reference's
    * published 3.28M lines/s toAvro stage on comparable hardware. */
  case class AvroEncode(child: Expression, avroJson: String)
      extends UnaryExpression {
    override def dataType: DataType = BinaryType
    override def prettyName: String = "avro_encode"

    override protected def doGenCode(
        ctx: org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext,
        ev: org.apache.spark.sql.catalyst.expressions.codegen.ExprCode)
        : org.apache.spark.sql.catalyst.expressions.codegen.ExprCode = {
      val ref = ctx.addReferenceObj("avroEncode", this, classOf[AvroEncode].getName)
      nullSafeCodeGen(ctx, ev, c =>
        s"${ev.value} = (byte[]) $ref.nullSafeEval($c);")
    }

    @transient private lazy val avroSchema = new Schema.Parser().parse(avroJson)
    @transient private lazy val structType = child.dataType.asInstanceOf[StructType]
    @transient private lazy val irWriter: InternalRowDatumWriter = {
      require(avroSchema.getFields.size == structType.size,
        s"Avro schema has ${avroSchema.getFields.size} fields, struct has ${structType.size}")
      new InternalRowDatumWriter(avroSchema, structType)
    }
    @transient private lazy val bos = new ByteArrayOutputStream(256)
    @transient private var binEnc: BinaryEncoder = _

    /** Null rejection applies only to NON-optional fields: an
      * `["null", T]` union field carries its null as a branch index
      * (r17, [[graft.schema.FixedSchema.nullableAvroJson]]); a null in
      * a plain field still fails loudly — the flat reference model has
      * nowhere to put it. */
    @transient private lazy val rejectsNull: Array[Boolean] =
      (0 until avroSchema.getFields.size)
        .map(i => avroSchema.getFields.get(i).schema().getType != Schema.Type.UNION)
        .toArray

    override def nullSafeEval(input: Any): Any = {
      val row = input.asInstanceOf[InternalRow]
      val n = structType.size
      var i = 0
      while (i < n) {
        if (rejectsNull(i) && row.isNullAt(i))
          throw new IllegalArgumentException(
            s"avro_encode: null in field '${structType(i).name}' — the fixed-width " +
              "schema model has no unions/nullable fields (SURVEY.md §1.2); " +
              "filter or default nulls before encoding, or encode with the " +
              "[\"null\", T] optional schema (nullableAvroJson)")
        i += 1
      }
      bos.reset()
      binEnc = EncoderFactory.get().binaryEncoder(bos, binEnc)
      irWriter.write(row, binEnc)
      binEnc.flush()
      bos.toByteArray
    }
    override protected def withNewChildInternal(c: Expression): AvroEncode = copy(child = c)
  }

  /** Avro binary (record body) → struct. Same-shape schemas ONLY: the
    * writer schema is assumed identical to `avroJson` and fields map
    * positionally (that contract is exactly what lets the
    * [[FlatReader]] decode without a `GenericRecord`) — use
    * [[AvroDecodeFramed]] (writer→reader resolution by name) whenever
    * the writer can differ. */
  case class AvroDecode(child: Expression, avroJson: String, outType: StructType)
      extends UnaryExpression with CodegenFallback {
    override def dataType: DataType = outType
    override def prettyName: String = "avro_decode"

    @transient private lazy val avroSchema = new Schema.Parser().parse(avroJson)
    @transient private lazy val reader = new FlatReader(avroSchema, outType)

    override def nullSafeEval(input: Any): Any = {
      val bytes = input.asInstanceOf[Array[Byte]]
      val row = reader.newRow()
      reader.read(bytes, 0, bytes.length, row)
      row
    }
    override protected def withNewChildInternal(c: Expression): AvroDecode = copy(child = c)
  }

  /** Confluent-framed bytes → struct, resolving the writer schema per
    * message from the embedded id in ONE pass (no per-id filtered scans).
    *
    * This is the consumer decode of `kafkaavro/consumer.go:178-189`
    * collapsed into a single expression: magic-byte check, 4-byte
    * big-endian id read, writer-schema lookup from a driver-provided
    * (broadcast-as-literal) id→schema map, then Avro decode with full
    * writer→reader schema resolution (`GenericDatumReader(writer,
    * reader)`), so renamed-by-alias / reordered / promoted fields land by
    * NAME, not position. Bad magic byte or unknown id → null row
    * (callers count/filter them), mirroring the reference's per-message
    * error return without poisoning the batch. */
  case class AvroDecodeFramed(child: Expression, schemasById: Map[Int, String],
      readerJson: String, outType: StructType)
      extends UnaryExpression {
    override def dataType: DataType = outType
    override def nullable: Boolean = true
    override def prettyName: String = "avro_decode_framed"

    override protected def doGenCode(
        ctx: org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext,
        ev: org.apache.spark.sql.catalyst.expressions.codegen.ExprCode)
        : org.apache.spark.sql.catalyst.expressions.codegen.ExprCode = {
      // Same reference-object pattern as AvroEncode: stay inside the
      // fused stage, dispatch straight to the resolving decoder.
      val ref = ctx.addReferenceObj("avroDecode", this, classOf[AvroDecodeFramed].getName)
      nullSafeCodeGen(ctx, ev, c => {
        val tmp = ctx.freshName("decoded")
        s"""
           |Object $tmp = $ref.nullSafeEval($c);
           |if ($tmp == null) {
           |  ${ev.isNull} = true;
           |} else {
           |  ${ev.value} = (org.apache.spark.sql.catalyst.InternalRow) $tmp;
           |}
         """.stripMargin
      })
    }

    @transient private lazy val readerSchema = new Schema.Parser().parse(readerJson)
    @transient private lazy val fieldDec: Array[AnyRef => Any] = {
      val readerFields = readerSchema.getFields
      require(readerFields.size == outType.size,
        s"reader schema has ${readerFields.size} fields, struct has ${outType.size}")
      outType.fields.zipWithIndex.map { case (sf, i) =>
        decoder(readerFields.get(i).schema(), sf.dataType)
      }
    }
    /** One decode plan per writer id, built lazily per task: the
      * [[FlatReader]] when the writer schema EQUALS the reader (the
      * overwhelmingly common steady state), the resolving
      * `GenericDatumReader` for genuinely evolved writers. */
    @transient private lazy val plans = new java.util.HashMap[Int, AnyRef]()
    @transient private var binDec: BinaryDecoder = _
    @transient private var reuse: GenericRecord = _

    private def planFor(id: Int): AnyRef = {
      var p = plans.get(id)
      if (p == null) {
        schemasById.get(id) match {
          case Some(writerJson) =>
            val writer = new Schema.Parser().parse(writerJson)
            p = if (writer == readerSchema) new FlatReader(readerSchema, outType)
                else new GenericDatumReader[GenericRecord](writer, readerSchema)
            plans.put(id, p)
          case None => return null
        }
      }
      p
    }

    override def nullSafeEval(input: Any): Any = decode(input.asInstanceOf[Array[Byte]], null)

    /** Decode one frame; null for a bad magic byte or an unknown id.
      * A flat writer decodes into `into` when given (the generator's
      * reused row), else into a fresh row; an evolved writer always
      * yields a fresh row. */
    private[functions] def decode(bytes: Array[Byte], into: InternalRow): InternalRow = {
      if (bytes.length < 6 || bytes(0) != 0x00) return null // unknown magic byte
      val id = ((bytes(1) & 0xff) << 24) | ((bytes(2) & 0xff) << 16) |
        ((bytes(3) & 0xff) << 8) | (bytes(4) & 0xff)
      planFor(id) match {
        case null => null // unknown schema id
        case flat: FlatReader =>
          val row = if (into != null) into else flat.newRow()
          flat.read(bytes, 5, bytes.length, row)
          row
        case resolving: GenericDatumReader[GenericRecord @unchecked] =>
          binDec = DecoderFactory.get().binaryDecoder(bytes, 5, bytes.length - 5, binDec)
          reuse = resolving.read(reuse, binDec)
          val n = fieldDec.length
          val out = new Array[Any](n)
          var i = 0
          while (i < n) {
            val v = reuse.get(i)
            out(i) = if (v == null) null else fieldDec(i)(v)
            i += 1
          }
          new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(out)
      }
    }
    override protected def withNewChildInternal(c: Expression): AvroDecodeFramed = copy(child = c)
  }

  /** Generator form of [[AvroDecodeFramed]]: emits the decoded fields as
    * TOP-LEVEL columns in one evaluation per row (0 rows for bad
    * magic/unknown id). The struct form under `select(r.*)` gets inlined
    * by Catalyst's projection collapse into every field extraction —
    * decoding each message once per column; a Generator is evaluated
    * exactly once per input row. */
  case class AvroDecodeRows(child: Expression, schemasById: Map[Int, String],
      readerJson: String, outType: StructType)
      extends UnaryExpression with Generator with CodegenFallback {
    override def elementSchema: StructType = outType
    override def prettyName: String = "avro_decode_rows"

    @transient private lazy val inner =
      AvroDecodeFramed(child, schemasById, readerJson, outType)
    // Reused across messages: the generator's consumer copies each row's
    // fields out before the next eval.
    @transient private lazy val row: InternalRow =
      new org.apache.spark.sql.catalyst.expressions.SpecificInternalRow(outType.map(_.dataType))

    override def eval(input: InternalRow): IterableOnce[InternalRow] = {
      val bytes = child.eval(input)
      if (bytes == null) return Iterator.empty
      val decoded = inner.decode(bytes.asInstanceOf[Array[Byte]], row)
      if (decoded == null) Iterator.empty else Iterator.single(decoded)
    }

    override protected def withNewChildInternal(c: Expression): AvroDecodeRows = copy(child = c)
  }

  /** Reusable Avro-binary output buffer: the wire format per the public
    * Avro 1.11 spec (zigzag varint ints/longs, raw-bits little-endian
    * float/double, zigzag-length-prefixed bytes/string, 1-byte boolean).
    *
    * Exists because the generic stack costs ~3 monitorenter ops per row
    * on JDK 17 (ByteArrayOutputStream is synchronized and biased locking
    * is gone) plus a buffered-encoder flush copy; this writes straight
    * into one growable array and copies out exactly once. Byte output is
    * verified identical to `BinaryEncoder`'s in `AvroDirectSpec`. */
  private[graft] final class AvroWire(initial: Int = 1024) {
    private var buf = new Array[Byte](initial)
    private var pos = 0
    def reset(): Unit = pos = 0
    private def ensure(n: Int): Unit = if (pos + n > buf.length) {
      var cap = buf.length << 1
      while (cap < pos + n) cap <<= 1
      buf = java.util.Arrays.copyOf(buf, cap)
    }
    def writeRaw(b: Array[Byte]): Unit = {
      ensure(b.length); System.arraycopy(b, 0, buf, pos, b.length); pos += b.length
    }
    def writeBoolean(v: Boolean): Unit = { ensure(1); buf(pos) = if (v) 1 else 0; pos += 1 }
    /** zigzag-int == zigzag-long numerically over the whole int range,
      * so one varint loop serves both Avro `int` and `long`. */
    def writeInt(v: Int): Unit = writeLong(v.toLong)
    def writeLong(v: Long): Unit = {
      var n = (v << 1) ^ (v >> 63)
      ensure(10)
      while ((n & ~0x7fL) != 0) { buf(pos) = ((n & 0x7f) | 0x80).toByte; pos += 1; n >>>= 7 }
      buf(pos) = n.toByte; pos += 1
    }
    def writeFloat(v: Float): Unit = {
      ensure(4)
      val bits = java.lang.Float.floatToRawIntBits(v)
      buf(pos) = bits.toByte; buf(pos + 1) = (bits >> 8).toByte
      buf(pos + 2) = (bits >> 16).toByte; buf(pos + 3) = (bits >> 24).toByte
      pos += 4
    }
    def writeDouble(v: Double): Unit = {
      ensure(8)
      val bits = java.lang.Double.doubleToRawLongBits(v)
      var i = 0
      while (i < 8) { buf(pos + i) = (bits >> (8 * i)).toByte; i += 1 }
      pos += 8
    }
    def writeBytes(b: Array[Byte]): Unit = { writeInt(b.length); writeRaw(b) }
    /** Length-prefixed write straight from raw memory (an UnsafeRow /
      * UTF8String backing region) — the zero-wrapper twin of
      * [[writeUtf8]], used by the fused fixed→Avro encoder to ship a
      * string field from the line buffer in one copy. */
    def writeMemory(base: AnyRef, off: Long, n: Int): Unit = {
      writeInt(n)
      ensure(n)
      org.apache.spark.unsafe.Platform.copyMemory(base, off, buf,
        org.apache.spark.unsafe.Platform.BYTE_ARRAY_OFFSET + pos, n)
      pos += n
    }
    /** UTF8String straight into the buffer — ONE copy (the old path's
      * `getBytes` materialized sliced strings first, then copied again
      * into the encoder buffer). */
    def writeUtf8(s: UTF8String): Unit = {
      val n = s.numBytes()
      writeInt(n)
      ensure(n)
      s.writeToMemory(buf, org.apache.spark.unsafe.Platform.BYTE_ARRAY_OFFSET + pos)
      pos += n
    }
    def result(): Array[Byte] = java.util.Arrays.copyOf(buf, pos)
    def size: Int = pos
    /** Roll back to a previous [[size]] mark — discards the bytes of a
      * partially-written record after a mid-field encode failure, so a
      * block buffer never carries dangling partial bytes to disk. */
    def truncate(mark: Int): Unit = {
      require(mark >= 0 && mark <= pos, s"truncate($mark) outside [0, $pos]")
      pos = mark
    }
    /** Zero-copy view of (buffer, length) — valid until the next
      * write/reset; block-oriented consumers (OCF writer) compress
      * straight out of it. */
    def raw(): (Array[Byte], Int) = (buf, pos)
  }

  // Field kinds for AvroEncodeDirect's interpreted eval + codegen dispatch.
  private[graft] final val KBool = 0; private[graft] final val KInt = 1
  private[graft] final val KLong = 2; private[graft] final val KIntAsLong = 3
  private[graft] final val KFloat = 4; private[graft] final val KDouble = 5
  private[graft] final val KStr = 6; private[graft] final val KBytes = 7
  private[graft] final val KTsMillis = 8

  private def fieldKind(dt: DataType, avro: Schema): Int = {
    // The fused direct encoder dispatches on the SPARK type — handed an
    // optional-union schema it would silently write the value WITHOUT
    // its branch index: bytes that CLAIM the union schema but decode as
    // garbage. Reject at plan build; the general [[AvroEncode]] path
    // carries optional unions (r17).
    require(avro.getType != Schema.Type.UNION,
      "avro_encode_direct: union schemas are not supported by the fused " +
        "encoder — use to_avro/AvroEncode for [\"null\", T] optional fields")
    val logical = Option(avro.getProp("logicalType"))
    dt match {
      case StringType => KStr
      case BinaryType => KBytes
      case BooleanType => KBool
      case IntegerType if avro.getType == Schema.Type.LONG => KIntAsLong
      case IntegerType | DateType => KInt
      case LongType => KLong
      case FloatType => KFloat
      case DoubleType => KDouble
      case TimestampType | TimestampNTZType =>
        if (logical.contains("timestamp-millis")) KTsMillis else KLong
      case t => throw new IllegalArgumentException(s"AvroCodec: unsupported Spark type $t")
    }
  }

  /** Fused serialize: field expressions → (optional Confluent header +)
    * Avro record body, in one pass into a reusable per-task buffer.
    *
    * Versus `Confluent.frame(to_avro(struct(cols)))` this removes, per
    * row: the struct's UnsafeRow materialization (a full copy of the
    * row), the synchronized ByteArrayOutputStream + BinaryEncoder flush
    * copy, the megamorphic per-field lambda dispatch (codegen emits a
    * direct typed call per field instead), and the frame `concat`'s
    * second output array + copy. The reference's equivalent is the
    * per-chunk reused record + marshal at
    * `fixed2avro/ColumnBuilder.go:67-95`.
    *
    * `frameId >= 0` prepends the 5-byte Confluent header
    * (`[0x00][id:4B BE]`, `kafkaavro/producer.go:201-207`); -1 emits the
    * bare record body (OCF / unframed use). */
  case class AvroEncodeDirect(children: Seq[Expression], avroJson: String, frameId: Int)
      extends Expression {
    override def dataType: DataType = BinaryType
    override def nullable: Boolean = false
    override def prettyName: String = "avro_encode_direct"

    @transient private lazy val avroSchema = new Schema.Parser().parse(avroJson)
    @transient private[graft] lazy val kinds: Array[Int] = {
      require(avroSchema.getFields.size == children.size,
        s"Avro schema has ${avroSchema.getFields.size} fields, ${children.size} exprs given")
      children.zipWithIndex.map { case (c, i) =>
        fieldKind(c.dataType, avroSchema.getFields.get(i).schema())
      }.toArray
    }
    @transient private lazy val header: Array[Byte] =
      if (frameId >= 0) Confluent.prefixBytes(frameId) else Array.emptyByteArray
    @transient private lazy val wire = new AvroWire(1024)
    @transient private lazy val childArray = children.toArray

    // --- called from generated code (must be public) ---
    def begin(): Unit = { wire.reset(); if (header.length > 0) wire.writeRaw(header) }
    def finish(): Array[Byte] = wire.result()
    def wBool(v: Boolean): Unit = wire.writeBoolean(v)
    def wInt(v: Int): Unit = wire.writeInt(v)
    def wLong(v: Long): Unit = wire.writeLong(v)
    def wFloat(v: Float): Unit = wire.writeFloat(v)
    def wDouble(v: Double): Unit = wire.writeDouble(v)
    def wStr(v: UTF8String): Unit = wire.writeUtf8(v)
    def wBytes(v: Array[Byte]): Unit = wire.writeBytes(v)
    def wTsMillis(v: Long): Unit = wire.writeLong(Math.floorDiv(v, 1000L))
    def nullField(i: Int): Unit =
      throw new IllegalArgumentException(
        s"avro_encode: null in field '${avroSchema.getFields.get(i).name}' — the " +
          "fixed-width schema model has no unions/nullable fields (SURVEY.md §1.2)")

    override def eval(input: InternalRow): Any = {
      begin()
      var i = 0
      while (i < childArray.length) {
        val v = childArray(i).eval(input)
        if (v == null) nullField(i)
        kinds(i) match {
          case KBool => wBool(v.asInstanceOf[Boolean])
          case KInt => wInt(v.asInstanceOf[Int])
          case KLong | KIntAsLong => wLong(v.asInstanceOf[Number].longValue())
          case KFloat => wFloat(v.asInstanceOf[Float])
          case KDouble => wDouble(v.asInstanceOf[Double])
          case KStr => wStr(v.asInstanceOf[UTF8String])
          case KBytes => wBytes(v.asInstanceOf[Array[Byte]])
          case KTsMillis => wTsMillis(v.asInstanceOf[Long])
        }
        i += 1
      }
      finish()
    }

    override protected def doGenCode(
        ctx: org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext,
        ev: org.apache.spark.sql.catalyst.expressions.codegen.ExprCode)
        : org.apache.spark.sql.catalyst.expressions.codegen.ExprCode = {
      import org.apache.spark.sql.catalyst.expressions.codegen.Block._
      val ref = ctx.addReferenceObj("avroDirect", this, classOf[AvroEncodeDirect].getName)
      val evals = children.map(_.genCode(ctx))
      val writes = evals.zip(kinds).zipWithIndex.map { case ((e, kind), i) =>
        val call = kind match {
          case KBool => s"$ref.wBool(${e.value});"
          case KInt => s"$ref.wInt(${e.value});"
          case KLong => s"$ref.wLong(${e.value});"
          case KIntAsLong => s"$ref.wLong((long) ${e.value});"
          case KFloat => s"$ref.wFloat(${e.value});"
          case KDouble => s"$ref.wDouble(${e.value});"
          case KStr => s"$ref.wStr(${e.value});"
          case KBytes => s"$ref.wBytes(${e.value});"
          case KTsMillis => s"$ref.wTsMillis(${e.value});"
        }
        s"""
           |${e.code}
           |if (${e.isNull}) $ref.nullField($i);
           |$call
         """.stripMargin
      }
      ev.copy(
        code = code"""
          |$ref.begin();
          |${writes.mkString("\n")}
          |final byte[] ${ev.value} = $ref.finish();
         """.stripMargin,
        isNull = org.apache.spark.sql.catalyst.expressions.codegen.FalseLiteral)
    }

    override protected def withNewChildrenInternal(
        newChildren: IndexedSeq[Expression]): AvroEncodeDirect = copy(children = newChildren)
  }

  /** Column API: fused field-expressions → Confluent-framed Avro bytes
    * (one buffer pass, one output allocation — see [[AvroEncodeDirect]]). */
  def to_avro_confluent(fields: Seq[Column], avroJson: String, schemaId: Int): Column =
    ColumnBridge.column(AvroEncodeDirect(fields.map(ColumnBridge.expression), avroJson, schemaId))

  /** Column API: fused field-expressions → bare Avro record body. */
  def to_avro_fields(fields: Seq[Column], avroJson: String): Column =
    ColumnBridge.column(AvroEncodeDirect(fields.map(ColumnBridge.expression), avroJson, -1))

  /** Column API: serialize a struct column to Avro binary. */
  def to_avro(data: Column, avroJson: String): Column =
    ColumnBridge.column(AvroEncode(ColumnBridge.expression(data), avroJson))

  /** Column API: decode Confluent-framed bytes into top-level columns
    * (one generator evaluation per message; junk rows dropped). */
  def from_avro_rows(data: Column, schemasById: Map[Int, String],
      readerJson: String, outType: StructType): Column =
    ColumnBridge.column(AvroDecodeRows(ColumnBridge.expression(data),
      schemasById, readerJson, outType))

  /** Column API: decode Confluent-framed bytes with per-message writer
    * schema resolution against a reader schema. */
  def from_avro_framed(data: Column, schemasById: Map[Int, String],
      readerJson: String, outType: StructType): Column =
    ColumnBridge.column(AvroDecodeFramed(ColumnBridge.expression(data),
      schemasById, readerJson, outType))

  /** Column API: deserialize Avro binary into a struct column. */
  def from_avro(data: Column, avroJson: String, outType: StructType): Column =
    ColumnBridge.column(AvroDecode(ColumnBridge.expression(data), avroJson, outType))
}
