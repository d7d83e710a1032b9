package graft.sources

import java.io.OutputStream
import java.util.zip.CRC32

import graft.functions.AvroCodec.AvroWire
import org.apache.avro.Schema
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Minimal Avro Object Container File writer over [[AvroWire]].
  *
  * `DataFileWriter` + a `DatumWriter` costs, per value: a megamorphic
  * field-writer dispatch, `BufferedBinaryEncoder` bounds checks, and a
  * buffer-chain copy before the codec sees the block. This writer reads
  * each field straight off the `InternalRow` with a kind switch, appends
  * to one growable block buffer, and snappy-compresses whole blocks —
  * the same shape the reference gets from its per-chunk
  * `avro.Marshal` + container append (`fixed2avro/Exporters.go:105-138`).
  *
  * The emitted container is byte-level spec-conformant (Avro 1.11 spec,
  * "Object Container Files"): `Obj\x01` magic, metadata map with
  * `avro.schema`/`avro.codec`, 16-byte sync marker, blocks of
  * `[count][size][snappy data + crc32-BE of the uncompressed bytes]
  * [sync]` — readable by any stock `DataFileStream`
  * (pinned by `OcfWireSpec` reading it back generically).
  *
  * Flat no-union schemas only — the reference's data model (SURVEY.md
  * §1.2); [[Ocf.write]] keeps the generic path for anything else.
  */
private[graft] object OcfWire {

  private val Magic: Array[Byte] = Array('O'.toByte, 'b'.toByte, 'j'.toByte, 1.toByte)

  // Field kinds (mirrors AvroCodec's fieldWriter universe).
  private final val KBool = 0; private final val KInt = 1; private final val KLong = 2
  private final val KIntAsLong = 3; private final val KFloat = 4; private final val KDouble = 5
  private final val KStr = 6; private final val KBytes = 7; private final val KTsMillis = 8

  /** Whether the fast wire path supports this (avro, spark) field pair;
    * mirrors the kind table below. */
  def supports(avroSchema: Schema, sparkSchema: StructType): Boolean =
    avroSchema.getType == Schema.Type.RECORD &&
      avroSchema.getFields.size == sparkSchema.size &&
      sparkSchema.fields.zipWithIndex.forall { case (f, i) =>
        kindOf(avroSchema.getFields.get(i).schema(), f.dataType) >= 0
      }

  private def kindOf(avro: Schema, dt: DataType): Int = {
    val logical = Option(avro.getProp("logicalType"))
    (avro.getType, dt) match {
      case (Schema.Type.STRING, StringType) => KStr
      case (Schema.Type.BYTES, BinaryType) => KBytes
      case (Schema.Type.BOOLEAN, BooleanType) => KBool
      case (Schema.Type.LONG, IntegerType) => KIntAsLong
      case (Schema.Type.INT, IntegerType) => KInt
      case (Schema.Type.INT, DateType) => KInt
      case (Schema.Type.LONG, LongType) => KLong
      case (Schema.Type.FLOAT, FloatType) => KFloat
      case (Schema.Type.DOUBLE, DoubleType) => KDouble
      case (Schema.Type.LONG, TimestampType | TimestampNTZType) =>
        if (logical.contains("timestamp-millis")) KTsMillis else KLong
      case _ => -1
    }
  }

  /** One writer per output file. Not thread-safe (one per task). */
  final class Writer(avroSchema: Schema, sparkSchema: StructType, out: OutputStream,
      syncInterval: Int = 1 << 20) {
    require(supports(avroSchema, sparkSchema),
      s"OcfWire: unsupported schema pair $avroSchema vs $sparkSchema")
    private val kinds: Array[Int] = sparkSchema.fields.zipWithIndex.map { case (f, i) =>
      kindOf(avroSchema.getFields.get(i).schema(), f.dataType)
    }

    /** Sync marker: like DataFileWriter's, unique-ish per file; derived
      * from schema + nanotime via MD5 (the spec only asks for 16 bytes
      * consistent within the file). */
    private val sync: Array[Byte] = {
      val md = java.security.MessageDigest.getInstance("MD5")
      md.update(avroSchema.toString.getBytes("UTF-8"))
      md.update(java.nio.ByteBuffer.allocate(8).putLong(System.nanoTime()).array())
      md.digest()
    }

    private val block = new AvroWire(syncInterval + (syncInterval >> 2))
    private val frame = new AvroWire(1 << 16)
    private var rowCount = 0L
    private var scratch = new Array[Byte](0)
    private val crc = new CRC32

    // ---- header ----
    {
      frame.reset()
      frame.writeRaw(Magic)
      frame.writeLong(2L) // metadata map: 2 entries
      writeMetaEntry("avro.codec", "snappy".getBytes("UTF-8"))
      writeMetaEntry("avro.schema", avroSchema.toString.getBytes("UTF-8"))
      frame.writeLong(0L) // end of map
      frame.writeRaw(sync)
      flushFrame()
    }

    private def writeMetaEntry(key: String, value: Array[Byte]): Unit = {
      val k = key.getBytes("UTF-8")
      frame.writeBytes(k) // string = length + utf8, same wire shape as bytes
      frame.writeBytes(value)
    }

    private def flushFrame(): Unit = {
      val bytes = frame.result()
      out.write(bytes, 0, bytes.length)
      frame.reset()
    }

    /** Set when an append threw mid-record. The partial bytes are rolled
      * back immediately (so the in-memory block only ever holds complete
      * records), [[close]] additionally skips the final block flush — a
      * failed task must not emit bytes past what it already flushed; the
      * task is dead and its output is garbage to the retry — and every
      * LATER append refuses loudly: records accepted after a failure
      * would land in that never-flushed block, i.e. silent data loss for
      * a caller that catches the original error and keeps writing. */
    private var failed = false

    @inline private def requireLive(): Unit =
      if (failed) throw new IllegalStateException(
        "OcfWire.Writer: an earlier append failed; the writer emits no " +
        "further bytes (its pending block is discarded on close)")

    /** Roll back a record that threw mid-encode: the block buffer drops
      * the partial bytes immediately, and the failed flag makes [[close]]
      * skip the final flush, so a `finally close()` path can never emit a
      * half-written record (the advisor's corrupt-part-file finding).
      * Appends are written as explicit try/catch around this helper —
      * NOT a by-name `appending { ... }` wrapper, which would allocate a
      * thunk per row on the hot path (the build runs without the scalac
      * optimizer, so `@inline` by-name params do not inline away). */
    private def abortRecord(mark: Int, e: Throwable): Nothing = {
      failed = true
      block.truncate(mark)
      throw e
    }

    @inline private def sealRecord(): Unit = {
      rowCount += 1L
      if (block.size >= syncInterval) flushBlock()
    }

    def append(row: InternalRow): Unit = {
      requireLive()
      val mark = block.size
      try {
        var i = 0
        while (i < kinds.length) {
          if (row.isNullAt(i))
            throw new IllegalArgumentException(
              s"OcfWire: null in field '${sparkSchema(i).name}' — flat no-union model")
          (kinds(i): @annotation.switch) match {
            case KBool => block.writeBoolean(row.getBoolean(i))
            case KInt => block.writeInt(row.getInt(i))
            case KLong => block.writeLong(row.getLong(i))
            case KIntAsLong => block.writeLong(row.getInt(i).toLong)
            case KFloat => block.writeFloat(row.getFloat(i))
            case KDouble => block.writeDouble(row.getDouble(i))
            case KStr => block.writeUtf8(row.getUTF8String(i))
            case KBytes => block.writeBytes(row.getBinary(i))
            case KTsMillis => block.writeLong(Math.floorDiv(row.getLong(i), 1000L))
          }
          i += 1
        }
      } catch { case e: Throwable => abortRecord(mark, e) }
      sealRecord()
    }

    /** Encode a fixed-width LINE straight into the block buffer via the
      * fused line encoder — the zero-per-row-allocation whole-pipeline
      * path (no `byte[]`, no UnsafeRow between parse and container):
      * line bytes → block buffer → snappy, exactly the reference's
      * reused-record chunk loop shape. */
    def appendLine(encoder: graft.functions.FixedAvro.LineEncoder,
        line: UTF8String): Unit = {
      requireLive()
      val mark = block.size
      try encoder.encodeInto(line, block)
      catch { case e: Throwable => abortRecord(mark, e) }
      sealRecord()
    }

    /** A throw from anywhere in here (Snappy, or an IOException from
      * `out.write` — disk full) may leave PARTIAL block bytes already on
      * the stream; they cannot be recalled. The only safe state is
      * `failed`: [[close]] must not re-run the flush (rowCount/block are
      * un-reset, so a re-flush would emit a duplicated-and-partial
      * block — exactly the corrupt-part-file class this writer exists to
      * prevent), and later appends must refuse via [[requireLive]]. */
    private def flushBlock(): Unit = {
      if (rowCount == 0) return
      try {
        val (buf, len) = block.raw()
        val maxC = org.xerial.snappy.Snappy.maxCompressedLength(len)
        if (scratch.length < maxC + 4) scratch = new Array[Byte](maxC + 4)
        val cLen = org.xerial.snappy.Snappy.rawCompress(buf, 0, len, scratch, 0)
        crc.reset()
        crc.update(buf, 0, len)
        val c = crc.getValue
        // avro snappy codec: 4-byte BIG-ENDIAN crc32 of the UNCOMPRESSED
        // data appended after the compressed bytes, inside the block size.
        scratch(cLen) = (c >>> 24).toByte; scratch(cLen + 1) = (c >>> 16).toByte
        scratch(cLen + 2) = (c >>> 8).toByte; scratch(cLen + 3) = c.toByte
        frame.reset()
        frame.writeLong(rowCount)
        frame.writeLong(cLen + 4L)
        flushFrame()
        out.write(scratch, 0, cLen + 4)
        out.write(sync, 0, sync.length)
        block.reset()
        rowCount = 0L
      } catch { case e: Throwable => failed = true; throw e }
    }

    /** Healthy writer: final flush + close; a flush failure still
      * releases the stream, and the release's own secondary failure
      * (same dead stream) never masks it. Poisoned writer: emits
      * nothing and releases the stream QUIETLY — close() runs in the
      * caller's `finally`, and a second IOException from the
      * already-dead stream (flush/close on a full disk) would mask
      * the original append failure as the task's cause AND skip the
      * fd release. */
    def close(): Unit =
      if (!failed) {
        try { flushBlock(); out.flush() }
        catch { case e: Throwable => closeQuietly(); throw e }
        out.close()
      } else closeQuietly()

    // NonFatal, not just IOException: a RuntimeException from a wrapped
    // stream's state check on the poisoned path would otherwise
    // propagate out of the caller's finally and MASK the original
    // append/flush failure — the exact masking class this exists to
    // prevent. (Fatal errors — OOM, ThreadDeath — still propagate.)
    private def closeQuietly(): Unit =
      try out.close()
      catch { case scala.util.control.NonFatal(_) => () }
  }
}
