package perfbench

import java.io.File
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.SparkSession

final case class Args(workload: String, seed: Long, seconds: Int, trace: Boolean,
    work: File, data: File, tiny: Boolean, inject: Option[String], record: Option[File])

/** One run's state: the session (rebuilt by each set-up cycle), the span
  * recorder and listener of the traced run, and the timed operations. */
final class Ctx(val a: Args) {
  val nproc: Int = Runtime.getRuntime.availableProcessors()
  val tracer = new Tracer
  val listener = new Listener
  var spark: SparkSession = _
  val sessionBuild = ArrayBuffer.empty[Double]
  val setups = ArrayBuffer.empty[Double]
  val ops = ArrayBuffer.empty[Op]
  val problems = ArrayBuffer.empty[String]
  val out = new File(a.work, "out")
  private val t0 = System.nanoTime()
  private var loopEnd = Long.MaxValue

  /** Stops the current session and builds a fresh one, the way every
    * engine entry point does. */
  def session(): SparkSession = {
    if (spark != null) spark.stop()
    val t = System.nanoTime()
    spark = graft.GraftSession.local(nproc, "perfbench")
    sessionBuild += (System.nanoTime() - t) / 1e9
    spark
  }

  /** Runs `cycles` set-up cycles (session build, workload set-up and a
    * small warm-up), recording each one's wall time. */
  def setUp(cycles: Int)(cycle: SparkSession => Unit): Unit = {
    mark("inputs")
    for (_ <- 1 to cycles) {
      val t = System.nanoTime()
      cycle(session())
      setups += (System.nanoTime() - t) / 1e9
    }
    mark("setup")
  }

  def startLoop(): Unit = loopEnd = System.nanoTime() + a.seconds * 1000000000L
  def timeLeft: Double = (loopEnd - System.nanoTime()) / 1e9

  /** Times `body` after the machine-state sample and a GC barrier. */
  def timed[A](body: => A): (A, Double, Double, Machine) = {
    val m = Harness.machine(nproc)
    Harness.gcBarrier()
    val (r, w, c) = measure(body)
    (r, w, c, m)
  }

  /** Wall and process CPU seconds of `body`. */
  def measure[A](body: => A): (A, Double, Double) = {
    val c = Harness.cpuNow(); val t = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t) / 1e9, Harness.cpuNow() - c)
  }

  /** Runs `body` with the listener attached and the span recorder on,
    * then waits until the listener has seen every event. */
  def traced[A](iter: Int)(body: => A): A = {
    tracer.iter = iter
    spark.sparkContext.addSparkListener(listener)
    try tracer.span("iteration")(body)
    finally {
      org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
      spark.sparkContext.removeSparkListener(listener)
    }
  }

  def fail(msg: String): Unit = { problems += msg; System.err.println(s"perfbench: FAILED $msg") }

  def elapsed: Double = (System.nanoTime() - t0) / 1e9

  /** Elapsed seconds at the end of each phase of the run. */
  val phases = ArrayBuffer.empty[(String, Double)]
  def mark(phase: String): Unit = phases += phase -> elapsed
}

/** What a workload reports: end-to-end and per-layer values (value,
  * unit), extra report lines, and the operation counts. */
final case class Outcome(e2e: Map[String, (Double, String)], layers: Map[String, (Double, String)],
    report: Seq[String])

object Main {
  /** The result line's metrics with `--trace 0`. `iter_cpu_s` stays in the
    * report and the run record only: JIT compiler threads make it spread
    * too widely between runs of the sweep to carry a bound. */
  val EndToEnd: Seq[(String, String)] =
    Seq("setup_s" -> "s", "iter_s" -> "s", "peak_rss_mb" -> "MB")

  /** Every per-layer metric; a layer a workload does not call reads 0. */
  val PerLayer: Seq[(String, String)] = Seq(
    "session.build_s" -> "s", "registry.calls" -> "count", "registry.s" -> "s",
    "sources.scan_s" -> "s", "sources.bytes_read_per_byte" -> "ratio",
    "functions.fixed_avro_s" -> "s", "sources.ocf_write_s" -> "s", "parse.typed_s" -> "s",
    "sinks.encode_s" -> "s", "sinks.write_to_s" -> "s", "sinks.frames" -> "count",
    "sinks.frame_bytes" -> "bytes", "sources.frames_read_s" -> "s", "sources.decode_s" -> "s",
    "sources.decoded_per_attempted" -> "ratio", "ops.build_s" -> "s", "ops.build_jobs" -> "count",
    "ops.exec_s" -> "s", "ops.exec_jobs" -> "count") ++
    QuerySweep.Families.map(f => s"ops.${f}_s" -> "s") ++ Seq(
    "spark.jobs" -> "count", "spark.stages" -> "count", "spark.tasks" -> "count",
    "spark.task_cpu_s" -> "s", "spark.task_run_s" -> "s", "spark.gc_s" -> "s",
    "spark.busy_frac" -> "ratio", "spark.idle_s" -> "s", "spark.sched_delay_s" -> "s",
    "spark.shuffle_write_bytes" -> "bytes", "spark.shuffle_read_bytes" -> "bytes",
    "spark.task_failures" -> "count", "trace.overhead_frac" -> "ratio",
    "trace.unaccounted_frac" -> "ratio")

  private def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    val trace = need("trace") match {
      case "0" => false; case "1" => true
      case t => throw new IllegalArgumentException(s"--trace must be 0 or 1, got $t")
    }
    val a = Args(need("workload"), need("seed").toLong, need("seconds").toInt, trace,
      new File(need("work")), new File(need("data")), m.get("scale").contains("tiny"),
      m.get("inject"), m.get("record").map(new File(_)))
    require(a.seconds >= 1, "--seconds must be at least 1")
    a
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val ctx = new Ctx(a)
    Harness.deleteTree(ctx.out)
    ctx.out.mkdirs()
    val outcome =
      try a.workload match {
        case "ocf_export"      => OcfExport.run(ctx)
        case "kafka_roundtrip" => KafkaRoundtrip.run(ctx)
        case "query_sweep"     => QuerySweep.run(ctx)
        case w => throw new IllegalArgumentException(s"unknown workload $w")
      } finally if (ctx.spark != null) ctx.spark.stop()
    Harness.deleteTree(ctx.out)
    ctx.mark("end")

    val e2e = outcome.e2e ++ Map(
      "setup_s" -> (Harness.median(ctx.setups.toSeq), "s"),
      "peak_rss_mb" -> (Harness.peakRssMb(), "MB"))
    val layers = outcome.layers + ("session.build_s" -> (Harness.median(ctx.sessionBuild.toSeq), "s"))
    if (ctx.ops.isEmpty) ctx.fail("no operation ran")
    val attempted = ctx.ops.size max 1
    val failed = ctx.ops.count(!_.ok) max (if (ctx.ops.isEmpty) 1 else 0)
    val correct = ctx.problems.isEmpty && failed == 0

    val runs = new File(a.work, "runs"); runs.mkdirs()
    val tag = s"${a.workload}-s${a.seed}-t${if (a.trace) 1 else 0}"
    if (a.trace) {
      ctx.tracer.addSpark(ctx.listener)
      val self = ctx.tracer.selfTimes.toSeq.sortBy(_._1)
        .map { case (k, v) => s"${Harness.jstr(k)}:${Harness.jnum(v)}" }.mkString("{", ",", "}")
      Files.write(new File(runs, s"$tag.spans.json").toPath,
        s"""{"self_s":$self,"spans":${ctx.tracer.json}}""".getBytes(UTF_8))
    }
    val all = (e2e ++ layers).toSeq.sortBy(_._1)
    Files.write(new File(runs, s"$tag.json").toPath, (
      s"""{"workload":${Harness.jstr(a.workload)},"seed":${a.seed},"seconds":${a.seconds},""" +
      s""""trace":${a.trace},"nproc":${ctx.nproc},"setup_s":${ctx.setups.map(Harness.jnum).mkString("[", ",", "]")},""" +
      s""""session_build_s":${ctx.sessionBuild.map(Harness.jnum).mkString("[", ",", "]")},""" +
      s""""problems":${ctx.problems.map(Harness.jstr).mkString("[", ",", "]")},""" +
      s""""metrics":${all.map { case (k, (v, u)) => s"${Harness.jstr(k)}:[${Harness.jnum(v)},${Harness.jstr(u)}]" }.mkString("{", ",", "}")},""" +
      s""""ops":${Harness.opsJson(ctx.ops.toSeq)}}""").getBytes(UTF_8))

    println(s"perfbench ${a.workload} seed=${a.seed} trace=${if (a.trace) 1 else 0} nproc=${ctx.nproc} " +
      ctx.phases.map { case (p, t) => f"$p@$t%.1fs" }.mkString(" ") +
      " setup_cycles_s=" + ctx.setups.map(x => f"$x%.2f").mkString(","))
    outcome.report.foreach(println)
    println(f"  failed_frac = ${failed.toDouble / attempted}%.4f ratio ($failed of $attempted)")
    ctx.problems.foreach(p => println(s"  problem: $p"))
    val listed = if (a.trace) PerLayer else EndToEnd
    val metrics = listed.map { case (k, u) =>
      val v = (if (a.trace) layers else e2e).get(k).map(_._1).getOrElse(0.0)
      s"${Harness.jstr(k)}:{\"value\":${Harness.jnum(v)},\"unit\":${Harness.jstr(u)}}"
    }
    println(s"""{"correct":$correct,"attempted":$attempted,"failed":$failed,"metrics":${metrics.mkString("{", ",", "}")}}""")
  }
}
