package perfbench

import java.io.{File, RandomAccessFile}

import graft.parse.FixedWidthParser
import graft.schema.FixedSchema
import graft.sources.{FixedWidth, Ocf}

/** `ocf_export`: the reference CLI's file → OCF path. One iteration is
  * `Ocf.writeFixed(FixedWidth.lines(corpus), schema, dir)` over a
  * weblog-shaped corpus: line scan, the fused line → Avro encoder and
  * snappy OCF blocks. Typed parse, the Avro codec, Kafka staging and the
  * query operators are not on this path. */
object OcfExport {
  /** The reference CLI's per-core figure, corrected for its serial chunk
    * loop (BASELINE.md). Printed beside ours; nothing is claimed. */
  val BaselineMbPerCore = 110.0

  def run(ctx: Ctx): Outcome = {
    val a = ctx.a
    val corpusRoot = new File(a.work, "corpus")
    val corpus = Corpus.ensure(corpusRoot, Weblog, a.seed, if (a.tiny) 4L << 20 else 256L << 20)
    val warm = Corpus.ensure(corpusRoot, Weblog, a.seed + 1, if (a.tiny) 1L << 20 else 32L << 20)
    var schema: FixedSchema = null
    def export(c: Corpus, dir: File): Long =
      Ocf.writeFixed(FixedWidth.lines(ctx.spark, c.dir), schema, dir.getPath)

    ctx.setUp(3) { _ =>
      schema = FixedSchema.fromJson(Weblog.schemaJson)
      val d = new File(ctx.out, "warm"); export(warm, d); Harness.deleteTree(d)
    }

    var last: File = null
    var outBytes = 0L
    var i = 0
    ctx.startLoop()
    while (i == 0 || ctx.timeLeft > 0) {
      val dir = new File(ctx.out, s"iter-$i")
      val tracedIter = a.trace && i % 2 == 1
      val (res, wall, cpu, m) = ctx.timed {
        try {
          if (!tracedIter) Right((export(corpus, dir), Map.empty[String, Double], Nil))
          else ctx.traced(i) {
            val t = ctx.tracer
            val lines = FixedWidth.lines(ctx.spark, corpus.dir)
            val scan = leg(t.span("sources.scan")(Harness.force(lines)))
            val toAvro = leg(t.span("functions.toAvro")(Harness.force(FixedWidthParser.toAvro(lines, schema, -1))))
            val t0 = System.nanoTime()
            val n = t.span("sources.writeFixed")(Ocf.writeFixed(lines, schema, dir.getPath))
            val t1 = System.nanoTime()
            val write = (t1 - t0) / 1e9
            Right((n, Map("scan" -> scan, "to_avro" -> toAvro, "write" -> write), Seq((t0, t1))))
          }
        } catch { case e: Exception => Left(e) }
      }
      val ok = res match {
        case Right((n, _, _)) if n == corpus.dataLines => true
        case Right((n, _, _)) => ctx.fail(s"iteration $i wrote $n records, corpus has ${corpus.dataLines} data lines"); false
        case Left(e) => ctx.fail(s"iteration $i threw $e"); false
      }
      ctx.ops += Op(i, if (tracedIter) "traced" else "plain", wall, cpu, ok, m,
        res.map(_._2).getOrElse(Map.empty), res.map(_._3).getOrElse(Nil))
      if (ok) {
        outBytes = Harness.dirBytes(dir)
        if (last != null) Harness.deleteTree(last)
        last = dir
      } else Harness.deleteTree(dir)
      i += 1
    }

    ctx.mark("timed")
    // Output check, outside every timed span: the last export read back
    // through the engine's OCF reader must hash like the typed parse of
    // the same corpus.
    if (last != null) {
      if (a.inject.contains("corrupt-ocf")) corrupt(last)
      val lastOp = ctx.ops.lastIndexWhere(_.ok)
      val good =
        try {
          val got = Harness.checksum(Ocf.read(ctx.spark, last.getPath, schema))
          val want = Harness.checksum(FixedWidth.read(ctx.spark, corpus.dir, schema))
          if (got != want) ctx.fail(s"OCF read-back checksum $got != parse checksum $want")
          got == want
        } catch { case e: Exception => ctx.fail(s"OCF read-back threw $e"); false }
      if (!good) ctx.ops(lastOp) = ctx.ops(lastOp).copy(ok = false)
    }

    val plain = ctx.ops.filter(o => o.ok && o.label == "plain").toSeq
    val iterS = Harness.medianOrNaN(plain.map(_.wall))
    val mb = corpus.bytes / 1e6
    val report = Seq(
      Report.line("ingest_mb_per_s", "MB/s", plain.map(o => mb / o.wall)) +
        f"  (${mb / iterS / ctx.nproc}%.1f MB/s/core on ${ctx.nproc} cores; BASELINE.md: $BaselineMbPerCore%.0f MB/s/core)",
      Report.line("iter_s", "s", plain.map(_.wall)),
      Report.line("iter_cpu_s", "s", plain.map(_.cpu)),
      f"  out_bytes_per_in_byte = ${outBytes.toDouble / corpus.bytes}%.4f ratio",
      f"  corpus: ${corpus.bytes} bytes, ${corpus.lines} lines in ${corpus.files} files")

    val layers =
      if (!a.trace) Map.empty[String, (Double, String)]
      else {
        val traced = ctx.ops.filter(o => o.ok && o.label == "traced").toSeq
        val spark = Report.sparkLayers(ctx, traced)
        val scan = Harness.median(traced.map(_.legs("scan")))
        val avro = Harness.median(traced.map(o => o.legs("to_avro") - o.legs("scan")))
        val write = Harness.median(traced.map(o => o.legs("write") - o.legs("to_avro")))
        spark ++ Report.overhead(iterS, Report.pairs(ctx.ops.toSeq, _.legs("write")), scan + avro + write) ++ Map(
          "sources.scan_s" -> (scan, "s"),
          "functions.fixed_avro_s" -> (avro, "s"),
          "sources.ocf_write_s" -> (write, "s"),
          "sources.bytes_read_per_byte" -> (spark("spark.input_bytes")._1 / corpus.bytes, "ratio"))
      }
    Outcome(Map("iter_s" -> (iterS, "s"), "iter_cpu_s" -> (Harness.medianOrNaN(plain.map(_.cpu)), "s")),
      layers, report)
  }

  private def leg(body: => Long): Double = {
    val t = System.nanoTime(); body; (System.nanoTime() - t) / 1e9
  }

  /** Overwrites bytes in the middle of the largest part file. */
  private def corrupt(dir: File): Unit = {
    val f = dir.listFiles().filter(_.getName.endsWith(".avro")).maxBy(_.length())
    val raf = new RandomAccessFile(f, "rw")
    try { raf.seek(f.length() / 2); raf.write(Array.fill[Byte](64)(0x5a)) } finally raf.close()
  }
}
