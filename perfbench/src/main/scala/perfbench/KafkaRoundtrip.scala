package perfbench

import java.io._
import java.util.concurrent.atomic.AtomicLong

import graft.parse.{FixedWidthParser, Strict}
import graft.registry.{InMemorySchemaRegistry, SchemaRegistryClient}
import graft.schema.FixedSchema
import graft.sinks.KafkaStage
import graft.sources.{FixedWidth, KafkaConsume}
import org.apache.spark.TaskContext
import org.apache.spark.sql.{DataFrame, Encoders, SparkSession}
import org.apache.spark.util.LongAccumulator

/** Counts and times every call into the wrapped registry. */
final class CountingRegistry(u: SchemaRegistryClient) extends SchemaRegistryClient {
  val calls = new AtomicLong
  val nanos = new AtomicLong
  private def count[A](body: => A): A = {
    val t = System.nanoTime()
    try body finally { calls.incrementAndGet(); nanos.addAndGet(System.nanoTime() - t) }
  }
  override def register(subject: String, schemaJson: String): Int = count(u.register(subject, schemaJson))
  override def getById(id: Int): String = count(u.getById(id))
}

/** A Kafka stand-in: each task appends its `(key, value)` frames to one
  * file, length-prefixed. `dropFirst` loses partition 0's first frame,
  * which the output check must catch. */
final class FileSink(dir: String, frames: LongAccumulator, bytes: LongAccumulator,
    dropFirst: Boolean) extends KafkaStage.RowSink {
  private var out: DataOutputStream = _
  private var n = 0L
  private var b = 0L
  private var dropped = false

  override def send(topic: String, partition: Int, key: Array[Byte], value: Array[Byte]): Unit = {
    if (dropFirst && !dropped && partition == 0) { dropped = true; return }
    if (out == null) {
      val tc = TaskContext.get()
      out = new DataOutputStream(new BufferedOutputStream(new FileOutputStream(
        new File(dir, f"part-${tc.partitionId()}%05d-${tc.taskAttemptId()}.bin")), 1 << 20))
    }
    out.writeInt(key.length); out.write(key)
    out.writeInt(value.length); out.write(value)
    n += 1; b += key.length + value.length
  }

  override def flush(): Unit = {
    if (out != null) out.close()
    frames.add(n); bytes.add(b)
  }
}

/** `kafka_roundtrip`: produce with `FixedWidth.read` (Strict) →
  * `KafkaStage.stage` → `KafkaStage.writeTo` into a file-backed sink,
  * then read the frames back with 1% junk frames mixed in and decode
  * them with `KafkaConsume.decode`. Narrow rows put the per-line cost in
  * typed parse and the multibyte slicer; the fused encoder and the OCF
  * writer are not on this path. */
object KafkaRoundtrip {
  val Topic = "perfbench"

  /** Reads the sink's files as a `value` column. After every 100th frame
    * (offset by the seed) it adds one junk frame, alternately with a bad
    * magic byte and with an unregistered schema id; `junk` counts them. */
  def frames(spark: SparkSession, dir: String, seed: Long, junk: LongAccumulator): DataFrame = {
    val files = Option(new File(dir).listFiles()).getOrElse(Array.empty[File])
      .filter(_.getName.endsWith(".bin")).map(_.getPath).sorted.toSeq
    val at = Math.floorMod(seed, 100L).toInt
    val rdd = spark.sparkContext.parallelize(files, files.size max 1).mapPartitions(_.flatMap { f =>
      val in = new DataInputStream(new BufferedInputStream(new FileInputStream(f), 1 << 20))
      var idx = 0
      var pending: Array[Byte] = null
      new Iterator[Array[Byte]] {
        private var nextFrame: Array[Byte] = advance()
        private def advance(): Array[Byte] =
          try {
            in.skipNBytes(in.readInt().toLong)
            val v = new Array[Byte](in.readInt()); in.readFully(v); v
          } catch { case _: EOFException => in.close(); null }
        def hasNext: Boolean = pending != null || nextFrame != null
        def next(): Array[Byte] =
          if (pending != null) { val j = pending; pending = null; junk.add(1); j }
          else {
            val v = nextFrame
            if (idx % 100 == at) {
              pending = v.clone()
              if ((idx / 100) % 2 == 0) pending(0) = 1
              else { pending(1) = 0x7f; pending(2) = -1; pending(3) = -1; pending(4) = -1 }
            }
            idx += 1
            nextFrame = advance()
            v
          }
      }
    })
    spark.createDataset(rdd)(Encoders.BINARY).toDF("value")
  }

  def run(ctx: Ctx): Outcome = {
    val a = ctx.a
    val corpusRoot = new File(a.work, "corpus")
    val corpus = Corpus.ensure(corpusRoot, Lineitem, a.seed, if (a.tiny) 4L << 20 else 128L << 20)
    val warm = Corpus.ensure(corpusRoot, Lineitem, a.seed + 1, if (a.tiny) 1L << 20 else 32L << 20)
    var schema: FixedSchema = null
    var registry: CountingRegistry = null
    var ids = (0, 0)
    val drop = a.inject.contains("drop-frame")

    def produce(c: Corpus, dir: File, staged: DataFrame = null): (Long, Long) = {
      val sc = ctx.spark.sparkContext
      val (fr, by) = (sc.longAccumulator, sc.longAccumulator)
      dir.mkdirs()
      val path = dir.getPath
      val df = if (staged != null) staged else stage(FixedWidth.read(ctx.spark, c.dir, schema, Strict))
      KafkaStage.writeTo(df, () => new FileSink(path, fr, by, drop))
      (fr.value, by.value)
    }
    def stage(typed: DataFrame): DataFrame = KafkaStage.stage(typed, schema, ids._2, Topic, ids._1)
    def decode(dir: File, junk: LongAccumulator): DataFrame =
      KafkaConsume.decode(frames(ctx.spark, dir.getPath, a.seed, junk), registry, schema, Seq(ids._2))

    ctx.setUp(3) { spark =>
      schema = FixedSchema.fromJson(Lineitem.schemaJson)
      registry = new CountingRegistry(new InMemorySchemaRegistry)
      ids = KafkaStage.registerSubjects(registry, Topic, schema)
      val d = new File(ctx.out, "warm")
      produce(warm, d); Harness.force(decode(d, spark.sparkContext.longAccumulator)); Harness.deleteTree(d)
    }

    var last: File = null
    var i = 0
    ctx.startLoop()
    while (i == 0 || ctx.timeLeft > 0) {
      val dir = new File(ctx.out, s"iter-$i")
      val tracedIter = a.trace && i % 2 == 1
      val junk = ctx.spark.sparkContext.longAccumulator
      val (res, wall, cpu, m) = ctx.timed {
        try {
          val reg0 = (registry.calls.get, registry.nanos.get)
          val legs = scala.collection.mutable.Map.empty[String, Double]
          def leg[A](name: String, span: String)(body: => A): A = {
            val t = System.nanoTime()
            val r = if (tracedIter) ctx.tracer.span(span)(body) else body
            legs(name) = (System.nanoTime() - t) / 1e9
            r
          }
          def body(): (Long, Long, Long, Seq[(Long, Long)]) = {
            var staged: DataFrame = null
            if (tracedIter) {
              val lines = FixedWidth.lines(ctx.spark, corpus.dir)
              leg("scan", "sources.scan")(Harness.force(lines))
              val typed = FixedWidthParser.parse(lines, schema, Strict)
              leg("parse", "parse.typed")(Harness.force(typed))
              staged = stage(typed)
              leg("stage", "sinks.stage")(Harness.force(staged))
            }
            val p0 = System.nanoTime()
            val (fr, by) = leg("produce", "sinks.writeTo")(produce(corpus, dir, staged))
            val p1 = System.nanoTime()
            if (tracedIter) leg("frames", "sources.frames")(
              Harness.force(frames(ctx.spark, dir.getPath, a.seed, ctx.spark.sparkContext.longAccumulator)))
            val d0 = System.nanoTime()
            val decoded = leg("decode", "sources.decode")(Harness.force(decode(dir, junk)))
            val d1 = System.nanoTime()
            legs("frames_n") = fr.toDouble; legs("frame_bytes") = by.toDouble
            legs("decoded") = decoded.toDouble
            (fr, by, decoded, Seq((p0, p1), (d0, d1)))
          }
          val (fr, _, decoded, windows) = if (tracedIter) ctx.traced(i)(body()) else body()
          legs("registry_calls") = (registry.calls.get - reg0._1).toDouble
          legs("registry_s") = (registry.nanos.get - reg0._2) / 1e9
          Right((fr, decoded, legs.toMap, windows))
        } catch { case e: Exception => Left(e) }
      }
      val ok = res match {
        case Right((fr, decoded, _, _)) =>
          if (fr != corpus.dataLines) {
            ctx.fail(s"iteration $i produced $fr frames, corpus has ${corpus.dataLines} data lines"); false
          } else if (decoded != fr) {
            ctx.fail(s"iteration $i decoded $decoded rows from $fr well-framed frames"); false
          } else if (junk.value == 0 && corpus.dataLines > 100) {
            ctx.fail(s"iteration $i read no junk frames"); false
          } else true
        case Left(e) => ctx.fail(s"iteration $i threw $e"); false
      }
      val legs = res.map(_._3).getOrElse(Map.empty) + ("junk" -> junk.value.toDouble)
      ctx.ops += Op(i, if (tracedIter) "traced" else "plain", wall, cpu, ok, m, legs,
        res.map(_._4).getOrElse(Nil))
      if (ok) { if (last != null) Harness.deleteTree(last); last = dir } else Harness.deleteTree(dir)
      i += 1
    }

    ctx.mark("timed")
    // Output check, outside every timed span: the decoded rows of the
    // last iteration must hash like the typed parse of the corpus.
    if (last != null) {
      val lastOp = ctx.ops.lastIndexWhere(_.ok)
      val good =
        try {
          val got = Harness.checksum(decode(last, ctx.spark.sparkContext.longAccumulator))
          val want = Harness.checksum(FixedWidth.read(ctx.spark, corpus.dir, schema, Strict))
          if (got != want) ctx.fail(s"decoded checksum $got != parse checksum $want")
          got == want
        } catch { case e: Exception => ctx.fail(s"decode check threw $e"); false }
      if (!good) ctx.ops(lastOp) = ctx.ops(lastOp).copy(ok = false)
    }

    val plain = ctx.ops.filter(o => o.ok && o.label == "plain").toSeq
    val iterS = Harness.medianOrNaN(plain.map(_.wall))
    val mb = corpus.bytes / 1e6
    val anyOk = ctx.ops.filter(_.ok).toSeq
    val report = Seq(
      Report.line("ingest_mb_per_s", "MB/s", plain.map(o => mb / o.legs("produce"))) +
        f"  (${mb / Harness.medianOrNaN(plain.map(_.legs("produce"))) / ctx.nproc}%.1f MB/s/core)",
      Report.line("decode_msgs_per_s", "msg/s",
        plain.map(o => (o.legs("frames_n") + o.legs("junk")) / o.legs("decode"))),
      Report.line("iter_s", "s", plain.map(_.wall)),
      Report.line("iter_cpu_s", "s", plain.map(_.cpu)),
      f"  out_bytes_per_in_byte = ${anyOk.lastOption.map(_.legs("frame_bytes") / corpus.bytes).getOrElse(Double.NaN)}%.4f ratio",
      f"  corpus: ${corpus.bytes} bytes, ${corpus.lines} lines in ${corpus.files} files")

    val layers =
      if (!a.trace) Map.empty[String, (Double, String)]
      else {
        val traced = ctx.ops.filter(o => o.ok && o.label == "traced").toSeq
        def med(f: Map[String, Double] => Double) = Harness.median(traced.map(o => f(o.legs)))
        val l = Map(
          "sources.scan_s" -> med(_("scan")),
          "parse.typed_s" -> med(x => x("parse") - x("scan")),
          "sinks.encode_s" -> med(x => x("stage") - x("parse")),
          "sinks.write_to_s" -> med(x => x("produce") - x("stage")),
          "sources.frames_read_s" -> med(_("frames")),
          "sources.decode_s" -> med(x => x("decode") - x("frames")))
        Report.sparkLayers(ctx, traced) ++
          Report.overhead(iterS, Report.pairs(ctx.ops.toSeq, o => o.legs("produce") + o.legs("decode")),
            l.values.sum) ++
          l.map { case (k, v) => k -> (v, "s") } ++ Map(
          "sinks.frames" -> (med(_("frames_n")), "count"),
          "sinks.frame_bytes" -> (med(_("frame_bytes")), "bytes"),
          "sources.decoded_per_attempted" -> (med(x => x("decoded") / (x("frames_n") + x("junk"))), "ratio"),
          "registry.calls" -> (med(_("registry_calls")), "count"),
          "registry.s" -> (med(_("registry_s")), "s"))
      }
    Outcome(Map("iter_s" -> (iterS, "s"),
      "iter_cpu_s" -> (Harness.medianOrNaN(plain.map(_.cpu)), "s")),
      layers, report)
  }
}
