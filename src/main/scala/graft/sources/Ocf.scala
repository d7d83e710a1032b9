package graft.sources

import java.io.ByteArrayInputStream

import graft.schema.FixedSchema
import org.apache.avro.Schema
import org.apache.avro.file.{CodecFactory, DataFileStream, DataFileWriter}
import org.apache.avro.generic.{GenericData, GenericDatumReader, GenericDatumWriter, GenericRecord}
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.types._

/** Avro Object Container File sink + source (snappy), one file per
  * partition — the Spark re-expression of the reference's
  * `AvroFileExporter` which writes one snappy OCF per chunk named
  * `<dir><chunkNr>` (`fixed2avro/Exporters.go:105-138`). spark-avro is
  * not in this environment, so both paths are built on the Avro Java
  * library directly; partitions replace chunks 1:1.
  *
  * Scale note: writers stream record-by-record through the Hadoop
  * filesystem API (no whole-partition buffering), and the reader
  * parallelizes per file — with file-per-partition output the read
  * parallelism equals the write parallelism.
  */
object Ocf {

  /** `DatumWriter` over `InternalRow`: reads primitives straight out of
    * Tungsten memory (timestamps/dates are already epoch micros/days —
    * no `LocalDateTime` round trip, no boxing, no `GenericDatumWriter`
    * schema walk). Shared with the `to_avro` expression — see
    * [[graft.functions.AvroCodec.InternalRowDatumWriter]]. */
  private def internalRowDatumWriter(avroSchema: Schema, sparkSchema: StructType) =
    graft.functions.AvroCodec.internalRowDatumWriter(avroSchema, sparkSchema)

  /** Avro value → internal (Tungsten) value, per field — the read-side
    * mirror of the writer: timestamps/dates stay epoch micros/days
    * longs/ints (no LocalDateTime round-trip), strings wrap the Avro
    * Utf8 buffer's bytes without a char decode. */
  private def avroToInternal(avroRaw: Schema, dt: DataType): AnyRef => Any = {
    // Optional-union fields (r17): the resolving reader hands us the
    // VALUE (or null — handled by the caller's null guard), but the
    // logicalType annotation lives on the union's value BRANCH, not the
    // union itself — dispatching on the raw union schema would silently
    // read timestamp-millis as micros.
    val avro =
      if (avroRaw.getType == Schema.Type.UNION)
        avroRaw.getTypes.stream.filter(_.getType != Schema.Type.NULL)
          .findFirst.orElseThrow(() => new IllegalArgumentException(
            s"Ocf: union without a value branch: $avroRaw"))
      else avroRaw
    val logical = Option(avro.getProp("logicalType"))
    dt match {
      case StringType  => {
        case u: org.apache.avro.util.Utf8 =>
          org.apache.spark.unsafe.types.UTF8String.fromBytes(u.getBytes, 0, u.getByteLength)
        case v => org.apache.spark.unsafe.types.UTF8String.fromString(v.toString)
      }
      case BinaryType  => v => {
        val bb = v.asInstanceOf[java.nio.ByteBuffer]
        val a = new Array[Byte](bb.remaining()); bb.duplicate().get(a); a
      }
      case BooleanType => v => v
      case IntegerType => v => v match {
        case l: java.lang.Long => java.lang.Integer.valueOf(l.intValue()); case x => x
      }
      case LongType   => v => v
      case FloatType  => v => v
      case DoubleType => v => v
      case DateType   => v => v // epoch days int, both sides
      case TimestampType | TimestampNTZType => // internal = epoch micros
        if (logical.contains("timestamp-millis"))
          v => java.lang.Long.valueOf(
            Math.multiplyExact(v.asInstanceOf[java.lang.Long].longValue(), 1000L))
        else v => v
      case t => throw new IllegalArgumentException(s"Ocf: unsupported Spark type $t")
    }
  }

  /** Probe/bench access to the InternalRow datum writer. */
  private[graft] def datumWriter(avroSchema: Schema, sparkSchema: StructType)
      : org.apache.avro.io.DatumWriter[org.apache.spark.sql.catalyst.InternalRow] =
    internalRowDatumWriter(avroSchema, sparkSchema)

  /** Write `df` as snappy OCF, one file per partition named
    * `<dir>/part-<partitionId>.avro` (≡ `<dir><chunkNr>`,
    * `fixed2avro/Exporters.go:112-123`).
    *
    * `nullable = true` writes the `["null", T]` optional-union schema
    * ([[graft.schema.FixedSchema.nullableAvroJson]]) so null fields
    * are carried instead of crashing the encode — the r17 write-path
    * union support. Union shapes fail [[OcfWire.supports]], so they
    * take the stock DataFileWriter over the union-capable datum
    * writer; the flat default keeps the direct wire path. */
  def write(df: DataFrame, schema: FixedSchema, dir: String,
      nullable: Boolean = false): Unit = {
    val avroJson = if (nullable) schema.nullableAvroJson else schema.avroJson
    val sparkSchema = df.schema
    // Session Hadoop conf, serializably captured: keeps fs.defaultFS /
    // object-store credentials working on executors (a bare
    // `new Configuration()` only sees local defaults).
    val hadoopConf = new org.apache.spark.util.SerializableConfiguration(
      df.sparkSession.sparkContext.hadoopConfiguration)
    // queryExecution.toRdd stays on InternalRow — no Tungsten exit, no
    // external-Row boxing per value. Values are copied into the Avro
    // encoder at append time, so the per-iterator row buffer reuse is
    // safe.
    df.queryExecution.toRdd.foreachPartition { rows =>
      val pid = org.apache.spark.TaskContext.getPartitionId()
      val avroSchema = new Schema.Parser().parse(avroJson)
      val path = new Path(dir, f"part-$pid%05d.avro")
      // newInstance, NOT the JVM-cached getFileSystem: the checksum
      // toggle below would otherwise mutate the SHARED cached instance,
      // silently disabling client-side CRC for every other writer in
      // this executor (Spark's own outputs included) for the rest of
      // the JVM's life. The uncached instance is closed after the
      // part-file is written.
      val fs = org.apache.hadoop.fs.FileSystem.newInstance(
        path.toUri, hadoopConf.value)
      try {
      // OCF blocks already carry sync markers and the container is
      // seekable/splittable without Hadoop's client-side CRC — the
      // shadow .crc files cost a second pass over every byte (measured
      // ~25% of the write leg on local disk). Object stores ignore this
      // flag; HDFS deployments that want client CRC can re-enable it.
      fs.setWriteChecksum(false)
      // 1 MiB stream buffer: the default 4 KB forces a syscall per few
      // rows once the encoder flushes its blocks.
      val out = fs.create(path, true, 1 << 20)
      // Flat reference-model schemas take the direct wire writer (row →
      // block buffer → snappy, no DatumWriter/encoder machinery); other
      // shapes keep the stock DataFileWriter. Both emit spec-conformant
      // snappy OCF — 1 MiB blocks (default 64 KB): fewer snappy calls +
      // sync markers per byte; block-level read parallelism is
      // irrelevant because reads parallelize per FILE.
      if (OcfWire.supports(avroSchema, sparkSchema)) {
        val w = new OcfWire.Writer(avroSchema, sparkSchema, out, 1 << 20)
        try { rows.foreach(w.append) } finally w.close()
      } else {
        val w = new DataFileWriter(internalRowDatumWriter(avroSchema, sparkSchema))
        w.setCodec(CodecFactory.snappyCodec())
        w.setSyncInterval(1 << 20)
        w.create(avroSchema, out)
        try rows.foreach(w.append) // append encodes eagerly: row-buffer reuse is safe
        finally w.close()
      }
      } finally fs.close()
    }
  }

  /** Fixed-width LINES → snappy OCF, one file per partition, through the
    * fused line→Avro expression ([[graft.functions.FixedAvro]]): each
    * line becomes its Avro record bytes inside whole-stage codegen, and
    * the sink appends those bytes straight to the wire writer's block
    * buffer — no typed-row materialization anywhere in the pipeline.
    * This is the engine's whole-pipeline hot path for the reference's
    * file→OCF dataflow (`CLI.go:32-49` with the OCF sink); record bytes
    * are pinned byte-identical to the typed path by FixedAvroSpec, and
    * the container read-back is pinned in OcfWireSpec. */
  /** The footer-filtered single-column line plan (the filter runs inside
    * the scan's codegen stage; rows are one-string UnsafeRows whose
    * UTF8String is consumed immediately, so no copy is needed). */
  private def keptLines(lines: DataFrame, dropFooter: Boolean): DataFrame = {
    import org.apache.spark.sql.functions.col
    val line = col("value")
    if (dropFooter)
      lines.filter(!graft.parse.FixedWidthParser.isFooter(line)).select(line)
    else lines.select(line)
  }

  def writeFixed(lines: DataFrame, schema: FixedSchema, dir: String,
      dropFooter: Boolean = true): Long = {
    val avroJson = schema.avroJson
    val sparkSchema = schema.sparkSchema
    val hadoopConf = new org.apache.spark.util.SerializableConfiguration(
      lines.sparkSession.sparkContext.hadoopConfiguration)
    val enc = new graft.functions.FixedAvro.LineEncoder(schema, -1)
    // Rows-written count via accumulator (one add per PARTITION, not
    // per row — the hot loop stays untouched): callers that need the
    // count (Cli's throughput line) used to re-scan and re-parse the
    // whole input in a second job just to count it.
    val rowsWritten = lines.sparkSession.sparkContext.longAccumulator("ocf_rows_written")
    keptLines(lines, dropFooter).queryExecution.toRdd.foreachPartition { rows =>
      val pid = org.apache.spark.TaskContext.getPartitionId()
      val avroSchema = new Schema.Parser().parse(avroJson)
      val path = new Path(dir, f"part-$pid%05d.avro")
      // newInstance + close: see the [[write]] note — the checksum
      // toggle must not mutate the JVM-cached shared FileSystem.
      val fs = org.apache.hadoop.fs.FileSystem.newInstance(
        path.toUri, hadoopConf.value)
      try {
        fs.setWriteChecksum(false)
        val out = fs.create(path, true, 1 << 20)
        // Lines encode STRAIGHT into the container block buffer (see
        // OcfWire.appendLine): the whole file→OCF pipeline allocates
        // nothing per row — the first writeFixed cut (line → byte[] rows →
        // block) measured ~0.7 s/4.4 GB slower on the tmpfs wall leg from
        // exactly that per-row byte[]/UnsafeRow garbage.
        val w = new OcfWire.Writer(avroSchema, sparkSchema, out, 1 << 20)
        try {
          var n = 0L
          rows.foreach { r => w.appendLine(enc, r.getUTF8String(0)); n += 1 }
          rowsWritten.add(n)
        } finally w.close()
      } finally fs.close()
    }
    rowsWritten.value
  }

  /** Bench/probe-only CPU twin of [[writeFixed]] (discarding sink). */
  private[graft] def writeCpuFixed(lines: DataFrame, schema: FixedSchema): Unit = {
    val avroJson = schema.avroJson
    val sparkSchema = schema.sparkSchema
    val enc = new graft.functions.FixedAvro.LineEncoder(schema, -1)
    keptLines(lines, dropFooter = true).queryExecution.toRdd.foreachPartition { rows =>
      val avroSchema = new Schema.Parser().parse(avroJson)
      val out = new java.io.OutputStream {
        override def write(b: Int): Unit = ()
        override def write(b: Array[Byte], off: Int, len: Int): Unit = ()
      }
      val w = new OcfWire.Writer(avroSchema, sparkSchema, out, 1 << 20)
      try rows.foreach(r => w.appendLine(enc, r.getUTF8String(0)))
      finally w.close()
    }
  }

  /** Bench/probe-only: the exact `write` path (datum write + snappy +
    * container framing) into a discarding sink — isolates the leg's CPU
    * cost from device throughput, which on this box's /tmp is far below
    * the reference baseline's NVMe (BASELINE.md: 980 Pro, ~5 GB/s
    * write; the bench JSON's devcal_mb_per_s carries the live local
    * figure) and dominates the measured `ocf_write` wall time. */
  private[graft] def writeCpu(df: DataFrame, schema: FixedSchema): Unit = {
    val avroJson = schema.avroJson
    val sparkSchema = df.schema
    df.queryExecution.toRdd.foreachPartition { rows =>
      val avroSchema = new Schema.Parser().parse(avroJson)
      val out = new java.io.OutputStream {
        override def write(b: Int): Unit = ()
        override def write(b: Array[Byte], off: Int, len: Int): Unit = ()
      }
      // Mirrors `write` exactly (same two paths) minus the device.
      if (OcfWire.supports(avroSchema, sparkSchema)) {
        val w = new OcfWire.Writer(avroSchema, sparkSchema, out, 1 << 20)
        try { rows.foreach(w.append) } finally w.close()
      } else {
        val w = new DataFileWriter(internalRowDatumWriter(avroSchema, sparkSchema))
        w.setCodec(CodecFactory.snappyCodec())
        w.setSyncInterval(1 << 20)
        w.create(avroSchema, out)
        try rows.foreach(w.append)
        finally w.close()
      }
    }
  }

  /** Read a directory of OCF files into a DataFrame with the strict
    * schema of `schema`. Decoding uses each file's embedded writer
    * schema (implicit evolution, like the consumer read path —
    * `kafkaavro/consumer.go:178-189`). */
  def read(spark: SparkSession, dir: String, schema: FixedSchema,
      nullable: Boolean = false): DataFrame = {
    val sparkSchema = schema.sparkSchema
    val readerJson = if (nullable) schema.nullableAvroJson else schema.avroJson
    val rdd = spark.sparkContext
      .binaryFiles(dir + "/*.avro")
      .flatMap { case (_, pds) =>
        val readerSchema = new Schema.Parser().parse(readerJson)
        // The resolving reader is only used for an evolved writer: a file
        // whose writer schema EQUALS the reader schema (reading our own
        // output — the steady state) is decoded block by block with the
        // flat reader, no Decoder / GenericRecord / schema walk.
        val stream = new DataFileStream[GenericRecord](pds.open(),
          new GenericDatumReader[GenericRecord](null, readerSchema))
        // Close unconditionally at task end: a limit/take or task failure
        // leaves the iterator partially consumed, which would otherwise
        // leak the file handle and snappy decompressor.
        Option(org.apache.spark.TaskContext.get()).foreach(
          _.addTaskCompletionListener[Unit](_ => stream.close()))
        if (stream.getSchema == readerSchema) flatRows(stream, readerSchema, sparkSchema)
        else {
          val conv = sparkSchema.fields.zipWithIndex.map { case (f, i) =>
            avroToInternal(readerSchema.getFields.get(i).schema(), f.dataType)
          }
          new Iterator[InternalRow] {
            def hasNext: Boolean = { val h = stream.hasNext; if (!h) stream.close(); h }
            def next(): InternalRow = {
              // a fresh record per row: strings wrap its Utf8 buffers
              val rec = stream.next()
              val values = new Array[Any](conv.length)
              var i = 0
              while (i < conv.length) {
                val v = rec.get(i)
                values(i) = if (v == null) null else conv(i)(v)
                i += 1
              }
              new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(values)
            }
          }
        }
      }
    org.apache.spark.sql.graftbridge.ColumnBridge.internalDataFrame(spark, rdd, sparkSchema)
  }

  /** Rows of an OCF stream whose writer schema is the reader schema:
    * each decompressed block ([[DataFileStream.nextBlock]]) is decoded
    * in place by [[graft.functions.AvroCodec.FlatReader]], one fresh row
    * per record. Like the stock reader, a block whose records do not
    * end exactly at its end fails as corrupt. */
  private def flatRows(stream: DataFileStream[GenericRecord], readerSchema: Schema,
      sparkSchema: StructType): Iterator[InternalRow] = {
    val reader = new graft.functions.AvroCodec.FlatReader(readerSchema, sparkSchema)
    new Iterator[InternalRow] {
      private var block: Array[Byte] = _
      private var pos = 0
      private var end = 0
      private var left = 0L
      private var done = false
      def hasNext: Boolean = {
        while (left == 0 && !done) {
          if (pos != end) throw new java.io.IOException("Block read partially, the data may be corrupt")
          if (!stream.hasNext) { stream.close(); done = true }
          else {
            val bb = stream.nextBlock() // heap-backed: every Avro codec decompresses to an array
            left = stream.getBlockCount
            block = bb.array()
            pos = bb.arrayOffset() + bb.position()
            end = pos + bb.remaining()
          }
        }
        !done
      }
      def next(): InternalRow = {
        if (!hasNext) throw new NoSuchElementException
        val row = reader.newRow()
        pos = reader.read(block, pos, end, row)
        left -= 1
        row
      }
    }
  }

  /** In-memory OCF decode used by tests: bytes of one container file →
    * records as (schema, rows of Avro values). */
  def decodeBytes(bytes: Array[Byte]): (Schema, Seq[GenericRecord]) = {
    val stream = new DataFileStream(new ByteArrayInputStream(bytes),
      new GenericDatumReader[GenericRecord]())
    try {
      val buf = scala.collection.mutable.ArrayBuffer.empty[GenericRecord]
      while (stream.hasNext) buf += stream.next()
      (stream.getSchema, buf.toSeq)
    } finally stream.close()
  }
}
