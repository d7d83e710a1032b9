package perfbench

import java.io.File
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Machine state taken before one iteration. It is stored beside the
  * timing so a drifted run can be told apart; it corrects nothing. */
final case class Machine(nproc: Int, load1: Double, otherJava: Int, calMs: Double)

/** One timed operation: an ingest iteration or one query run. `legs`
  * holds the traced run's extra timings (seconds) by metric name. */
final case class Op(iter: Int, label: String, wall: Double, cpu: Double, ok: Boolean,
    machine: Machine, legs: Map[String, Double] = Map.empty, windows: Seq[(Long, Long)] = Nil)

object Harness {
  private val osBean = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  /** Process CPU time of all threads, seconds. */
  def cpuNow(): Double = osBean.getProcessCpuTime / 1e9

  def deleteTree(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).getOrElse(Array.empty[File]).foreach(deleteTree)
    f.delete()
  }

  def dirBytes(f: File): Long =
    if (f.isDirectory) Option(f.listFiles()).getOrElse(Array.empty[File]).map(dirBytes).sum
    else f.length()

  /** Total length of the union of intervals. */
  def covered(iv: Iterable[(Long, Long)]): Long = {
    var total = 0L; var curS = Long.MinValue; var curE = Long.MinValue
    iv.filter(p => p._2 > p._1).toSeq.sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) { if (curE > curS) total += curE - curS; curS = s; curE = e }
      else if (e > curE) curE = e
    }
    if (curE > curS) total += curE - curS
    total
  }

  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted; val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  def medianOrNaN(xs: Seq[Double]): Double = if (xs.isEmpty) Double.NaN else median(xs)

  /** Quartiles as Python's `statistics.quantiles(xs, n=4)` (exclusive). */
  def quartiles(xs: Seq[Double]): (Double, Double) = {
    val s = xs.sorted; val n = s.size
    if (n < 2) return (s.head, s.head)
    def q(k: Int) = {
      val m = k * (n + 1) / 4.0
      val j = (m.floor.toInt max 1) min (n - 1)
      val d = (m - j) max 0.0 min 1.0
      s(j - 1) + (s(j) - s(j - 1)) * d
    }
    (q(1), q(3))
  }

  /** The highest percentile with at least ten samples beyond it. */
  def tailPct(n: Int): Int = if (n <= 10) 0 else ((1.0 - 10.0 / n) * 100).floor.toInt

  def pct(xs: Seq[Double], p: Int): Double = {
    val s = xs.sorted
    s(((p / 100.0) * (s.size - 1)).round.toInt)
  }

  // ------------------------------------------------------------- machine

  def load1(): Double =
    try new String(Files.readAllBytes(Paths.get("/proc/loadavg"))).split("\\s+")(0).toDouble
    catch { case _: Exception => -1.0 }

  def otherJava(): Int = {
    val self = ProcessHandle.current().pid()
    Option(new File("/proc").listFiles()).getOrElse(Array.empty[File]).count { d =>
      val n = d.getName
      n.forall(_.isDigit) && n.toLong != self &&
        (try new String(Files.readAllBytes(d.toPath.resolve("comm"))).trim == "java"
         catch { case _: Exception => false })
    }
  }

  @volatile private var sink = 0L

  /** A fixed single-thread integer loop, ~100 ms on one Intel Xeon vCPU;
    * returns its wall milliseconds. */
  def calibrate(): Double = {
    val t0 = System.nanoTime()
    var x = 88172645463325252L; var acc = 0L; var i = 0
    while (i < 36000000) { x ^= x << 13; x ^= x >>> 7; x ^= x << 17; acc += x & 0xff; i += 1 }
    sink = acc
    (System.nanoTime() - t0) / 1e6
  }

  def machine(nproc: Int): Machine = Machine(nproc, load1(), otherJava(), calibrate())

  /** Full collection before a timed iteration, so one iteration's garbage
    * is not collected inside the next one's timing. */
  def gcBarrier(): Unit = System.gc()

  /** `VmHWM` of this process in MB. */
  def peakRssMb(): Double =
    try {
      val line = new String(Files.readAllBytes(Paths.get("/proc/self/status")))
        .split("\n").find(_.startsWith("VmHWM:")).get
      line.split("\\s+")(1).toDouble / 1024.0
    } catch { case _: Exception => -1.0 }

  // ---------------------------------------------------------- spark side

  /** Runs the whole plan and counts its rows, with no sink behind it. */
  def force(df: DataFrame): Long = {
    val acc = df.sparkSession.sparkContext.longAccumulator
    df.queryExecution.toRdd.foreachPartition { it =>
      var n = 0L
      while (it.hasNext) { it.next(); n += 1 }
      acc.add(n)
    }
    acc.value
  }

  /** Forces a query to the no-op sink. */
  def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  /** Order-independent (rows, hash sum) over all columns. */
  def checksum(df: DataFrame): (Long, String) = {
    val r = df.select(xxhash64(df.columns.map(c => col(s"`$c`")): _*).cast("decimal(38,0)").as("h"))
      .agg(count(lit(1)), sum(col("h"))).head()
    (r.getLong(0), String.valueOf(r.get(1)))
  }

  // ---------------------------------------------------------------- json

  def jstr(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
      case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
    } + "\""

  def jnum(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)

  def opsJson(ops: Seq[Op]): String = ops.map { o =>
    val legs = o.legs.map { case (k, v) => s"${jstr(k)}:${jnum(v)}" }.mkString("{", ",", "}")
    s"""{"iter":${o.iter},"label":${jstr(o.label)},"wall_s":${jnum(o.wall)},"cpu_s":${jnum(o.cpu)},""" +
      s""""ok":${o.ok},"nproc":${o.machine.nproc},"load1":${jnum(o.machine.load1)},""" +
      s""""other_java":${o.machine.otherJava},"cal_ms":${jnum(o.machine.calMs)},"legs":$legs}"""
  }.mkString("[\n", ",\n", "\n]")
}
