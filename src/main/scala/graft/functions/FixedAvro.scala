package graft.functions

import graft.schema.FixedSchema
import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types.{BinaryType, DataType}
import org.apache.spark.unsafe.types.UTF8String

/** Fused fixed-width line → Avro record bytes, in ONE pass.
  *
  * The Spark re-expression of the reference's fused toAvro stage
  * (`fixed2avro/ColumnBuilder.go:198-227`: slice each line, overwrite
  * one reused record, marshal). [[LineEncoder]] runs the parse kernel
  * ([[FixedSlice.bounds]] — the same single rune-aware walk as the
  * typed parse) and the same per-type helpers, then writes each value
  * as Avro wire bytes at once: no per-field allocation, strings ship
  * with a single copy (line buffer → wire buffer).
  *
  * Two consumers:
  *  - [[FixedEncode]], the Column expression (line → framed `byte[]`)
  *    — the Kafka-frame shape, where the output IS a bytes column;
  *  - the OCF sink (`Ocf.writeFixed`), which hands [[LineEncoder]] the
  *    container BLOCK buffer itself, so record bytes land directly in
  *    the block with no per-row `byte[]`/UnsafeRow materialization.
  *
  * Semantics are EXACTLY the Strict parse + encode chain's, pinned by
  * `FixedAvroSpec` byte-identity: the walk, the trim table and the
  * parse helpers are the parse's own, and a field whose strict parse
  * would yield null throws the same no-unions error as
  * [[AvroCodec.AvroEncodeDirect]] (SURVEY.md §1.2).
  */
object FixedAvro {
  import FixedSlice._

  /** One-pass line → Avro-record-bytes encoder writing into a
    * CALLER-SUPPLIED [[AvroCodec.AvroWire]]. NOT thread-safe (holds the
    * reused bounds buffer); one instance per task.
    *
    * `nullable = true` emits the `["null", T]` OPTIONAL-union wire
    * shape ([[graft.schema.FixedSchema.nullableAvroJson]]): every
    * field is prefixed by its union branch index (0 = null, 1 = T —
    * null-first, the nullableAvroJson branch order), and a slice whose
    * strict parse is null encodes as the null branch instead of
    * throwing (pinned byte-identical to parse → to_avro(nullableAvroJson)
    * by FixedAvroSpec). Every value is parsed BEFORE its branch index is
    * written, so a failed parse never leaves a half-written field. The
    * flat default (`nullable = false`) writes branch-less bytes and
    * throws on null. */
  final class LineEncoder(fixed: FixedSchema, frameId: Int,
      nullable: Boolean = false) extends Serializable {
    private val nFields = fixed.fields.size
    private val starts: Array[Int] = fixed.runeStarts.toArray
    private val lens: Array[Int] = fixed.fields.map(_.runeLen).toArray
    // THE Strict parse's trim table: the byte-identity contract with
    // the parse chain (FixedAvroSpec) depends on the two never drifting.
    private val trims: Array[Boolean] = fixed.fields.map(strictTrims).toArray
    private val kinds: Array[Int] = fixed.fields.map(kindOf).toArray
    private val header: Array[Byte] =
      if (frameId >= 0) Confluent.prefixBytes(frameId) else Array.emptyByteArray
    // Per-task scratch, set on first use (plain fields, not lazy vals:
    // the hot loop reads them per field).
    @transient private var ranges: Array[Long] = _
    @transient private var cell: FieldCell = _

    private def fail(f: Int): Nothing =
      throw new IllegalArgumentException(
        s"fixed_to_avro: unparseable ${fixed.fields(f).parseType} in field " +
          s"'${fixed.fields(f).name}' — the strict parse of this slice is null, and " +
          "the fixed-width schema model has no unions/nullable fields " +
          "(SURVEY.md §1.2); filter or default such lines before encoding")

    /** Append `line`'s (optional Confluent header +) record body to
      * `wire`. Throws on any field whose strict parse would be null;
      * the wire may then hold a partial record — callers that continue
      * past failures must reset it (both current callers abort). */
    def encodeInto(line: UTF8String, wire: AvroCodec.AvroWire): Unit = {
      def branch(): Unit = if (nullable) wire.writeLong(1L)
      if (header.length > 0) wire.writeRaw(header)
      if (ranges == null) { ranges = new Array[Long](nFields); this.cell = new FieldCell }
      val r = ranges
      val cell = this.cell
      FixedSlice.bounds(line, starts, lens, trims, -1, r)
      var f = 0
      while (f < nFields) {
        val p = r(f)
        // `ok` false = the strict parse is null: one 0x00 (branch 0,
        // null-first union) in the nullable lane, a throw otherwise.
        val ok = kinds(f) match {
          case KStr | KBytes =>
            branch()
            wire.writeMemory(line.getBaseObject, line.getBaseOffset + startOf(p), lenOf(p))
            true
          case KLong =>
            strictLong(line, p, cell) && { branch(); wire.writeLong(cell.l); true }
          case KInt =>
            // Avro int and long share the zigzag varint encoding over the
            // int range (pinned in AvroDirectSpec), so one writeLong
            // serves both.
            strictInt(line, p, cell) && { branch(); wire.writeLong(cell.l); true }
          case KDouble =>
            strictDouble(line, p, cell) && { branch(); wire.writeDouble(cell.d); true }
          case KFloat =>
            strictFloat(line, p, cell) && { branch(); wire.writeFloat(cell.f); true }
          case KBool =>
            val b = strictBool(line, p)
            b >= 0 && { branch(); wire.writeBoolean(b == 1); true }
          case k =>
            val m = micros(line, p)
            m != Long.MinValue && {
              branch()
              wire.writeLong(
                if (k == KTsMicros) m
                else if (k == KTsMillis) Math.floorDiv(m, 1000L)
                else Math.floorDiv(m, MicrosPerDay))
              true
            }
        }
        if (!ok) { if (nullable) wire.writeLong(0L) else fail(f) }
        f += 1
      }
    }
  }

  /** line → (optional Confluent header +) Avro record body as a bytes
    * column. `frameId >= 0` prepends `[0x00][id:4B BE]`; -1 emits the
    * bare body. Strict parse mode only — Compat's zero-fill semantics
    * stay on the composable chain, which is not a hot path.
    * `nullable = true` emits the `["null", T]` optional-union wire
    * shape (see [[LineEncoder]]). */
  case class FixedEncode(child: Expression, fixed: FixedSchema, frameId: Int,
      optional: Boolean = false)
      extends UnaryExpression {
    override def dataType: DataType = BinaryType
    override def prettyName: String = "fixed_to_avro"
    override def nullIntolerant: Boolean = true

    // Reused per-task state (expressions are deserialized per task, so
    // instance state is single-threaded — same contract as
    // AvroEncodeDirect's wire buffer).
    @transient private lazy val encoder = new LineEncoder(fixed, frameId, optional)
    @transient private lazy val wire = new AvroCodec.AvroWire(1024)

    def encodeLine(line: UTF8String): Array[Byte] = {
      wire.reset()
      encoder.encodeInto(line, wire)
      wire.result()
    }

    override def nullSafeEval(input: Any): Any =
      encodeLine(input.asInstanceOf[UTF8String])

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val ref = ctx.addReferenceObj("fixedAvro", this, classOf[FixedEncode].getName)
      nullSafeCodeGen(ctx, ev, c => s"${ev.value} = (byte[]) $ref.encodeLine($c);")
    }

    override protected def withNewChildInternal(c: Expression): FixedEncode =
      copy(child = c)
  }

  /** Column API: fused line → Confluent-framed Avro bytes. */
  def fixed_to_avro_confluent(line: Column, schema: FixedSchema, schemaId: Int): Column =
    ColumnBridge.column(FixedEncode(ColumnBridge.expression(line), schema, schemaId))

  /** Column API: fused line → bare Avro record body. */
  def fixed_to_avro(line: Column, schema: FixedSchema): Column =
    ColumnBridge.column(FixedEncode(ColumnBridge.expression(line), schema, -1))

  /** Column API: fused line → Confluent-framed OPTIONAL-union Avro
    * bytes — the wire shape of
    * [[graft.schema.FixedSchema.nullableAvroJson]]; failed strict
    * parses encode as the null branch instead of throwing. */
  def fixed_to_avro_confluent_nullable(line: Column, schema: FixedSchema,
      schemaId: Int): Column =
    ColumnBridge.column(FixedEncode(ColumnBridge.expression(line), schema, schemaId,
      optional = true))

  /** Column API: fused line → bare optional-union Avro record body. */
  def fixed_to_avro_nullable(line: Column, schema: FixedSchema): Column =
    ColumnBridge.column(FixedEncode(ColumnBridge.expression(line), schema, -1,
      optional = true))
}
