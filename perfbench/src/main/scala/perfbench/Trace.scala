package perfbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.scheduler._

/** One timed interval. Benchmark spans wrap calls into the engine's
  * public functions; job and stage spans come from the listener and are
  * parented to the innermost benchmark span that contains their start. */
final case class Span(id: Int, parent: Int, iter: Int, name: String, start: Long, end: Long) {
  def dur: Long = end - start
}

/** In-memory span recorder for the traced run; written out when the run
  * ends. Times are `System.nanoTime`. */
final class Tracer {
  val spans = ArrayBuffer.empty[Span]
  private var stack = List.empty[Int]
  private var open = Map.empty[Int, (String, Long, Int)]
  private var nextId = 0
  var iter = 0

  def span[A](name: String)(body: => A): A = {
    val id = nextId; nextId += 1
    open += id -> ((name, System.nanoTime(), stack.headOption.getOrElse(-1)))
    stack = id :: stack
    try body
    finally {
      val (n, s, p) = open(id)
      spans += Span(id, p, iter, n, s, System.nanoTime())
      open -= id; stack = stack.tail
    }
  }

  /** Adds listener-side spans (epoch ms, converted to the nanoTime line)
    * under the innermost benchmark span containing each start. */
  def addSpark(l: Listener): Unit = {
    val own = spans.toVector
    def parentOf(t: Long): (Int, Int) = own.filter(s => s.start <= t && t <= s.end)
      .sortBy(_.dur).headOption.map(s => (s.id, s.iter)).getOrElse((-1, -1))
    l.jobs.foreach { j =>
      val (p, it) = parentOf(l.nanos(j.start))
      spans += Span(nextId, p, it, s"spark.job.${j.id}", l.nanos(j.start), l.nanos(j.end)); nextId += 1
    }
    l.stages.foreach { s =>
      val (p, it) = parentOf(l.nanos(s.submit))
      spans += Span(nextId, p, it, s"spark.stage.${s.id}", l.nanos(s.submit), l.nanos(s.end)); nextId += 1
    }
  }

  /** Self time per span name: duration minus the time its children cover. */
  def selfTimes: Map[String, Double] = {
    val kids = spans.groupBy(_.parent)
    spans.groupBy(s => if (s.name.startsWith("spark.job")) "spark.job"
        else if (s.name.startsWith("spark.stage")) "spark.stage" else s.name)
      .map { case (n, ss) =>
        n -> ss.map(s => (s.dur - Harness.covered(kids.getOrElse(s.id, Nil).map(c =>
          (c.start max s.start, c.end min s.end)))) / 1e9).sum
      }
  }

  def json: String = spans.map { s =>
    s"""{"id":${s.id},"parent":${s.parent},"iter":${s.iter},"name":"${s.name}","start_ns":${s.start},"end_ns":${s.end}}"""
  }.mkString("[\n", ",\n", "\n]")
}

final case class JobRec(id: Int, start: Long, end: Long)
final case class StageRec(id: Int, submit: Long, end: Long)
final case class TaskRec(stage: Int, launch: Long, finish: Long, ok: Boolean, runMs: Long,
    cpuNs: Long, gcMs: Long, inBytes: Long, shRead: Long, shWrite: Long, schedMs: Long)

/** Scheduler counts and task metrics, attached to the session in the
  * traced run only. Listener times are epoch ms. */
final class Listener extends SparkListener {
  private val epoch0 = System.currentTimeMillis(); private val nano0 = System.nanoTime()
  def nanos(ms: Long): Long = nano0 + (ms - epoch0) * 1000000L

  val jobs = ArrayBuffer.empty[JobRec]
  val stages = ArrayBuffer.empty[StageRec]
  val tasks = ArrayBuffer.empty[TaskRec]
  private val jobStart = scala.collection.mutable.Map.empty[Int, Long]
  private val stageSubmit = scala.collection.mutable.Map.empty[Int, Long]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized { jobStart(e.jobId) = e.time }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs += JobRec(e.jobId, jobStart.getOrElse(e.jobId, e.time), e.time)
  }
  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    stageSubmit(e.stageInfo.stageId) = e.stageInfo.submissionTime.getOrElse(System.currentTimeMillis())
  }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val i = e.stageInfo
    stages += StageRec(i.stageId, stageSubmit.getOrElse(i.stageId, i.submissionTime.getOrElse(0L)),
      i.completionTime.getOrElse(System.currentTimeMillis()))
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val ti = e.taskInfo; val m = e.taskMetrics
    val sched = ti.launchTime - stageSubmit.getOrElse(e.stageId, ti.launchTime)
    tasks += (if (m == null) TaskRec(e.stageId, ti.launchTime, ti.finishTime, ok = false, 0, 0, 0, 0, 0, 0, sched)
      else TaskRec(e.stageId, ti.launchTime, ti.finishTime, ti.successful && !ti.failed, m.executorRunTime,
        m.executorCpuTime, m.jvmGCTime, m.inputMetrics.bytesRead,
        m.shuffleReadMetrics.totalBytesRead, m.shuffleWriteMetrics.bytesWritten, sched))
  }

  /** Scheduler and task totals for everything that started inside the
    * nanoTime windows `ws`, which `cores` task slots served. */
  def window(ws: Seq[(Long, Long)], cores: Int): Map[String, Double] = synchronized {
    def in(ms: Long) = { val n = nanos(ms); ws.exists { case (a, b) => n >= a && n <= b } }
    val ts = tasks.filter(t => in(t.launch))
    val wall = ws.map { case (a, b) => b - a }.sum / 1e9
    val busy = ws.map { case (a, b) =>
      Harness.covered(ts.map(t => (nanos(t.launch) max a, nanos(t.finish) min b)))
    }.sum / 1e9
    val run = ts.map(_.runMs).sum / 1e3
    Map(
      "spark.jobs" -> jobs.count(j => in(j.start)).toDouble,
      "spark.stages" -> stages.count(s => in(s.submit)).toDouble,
      "spark.tasks" -> ts.size.toDouble,
      "spark.task_cpu_s" -> ts.map(_.cpuNs).sum / 1e9,
      "spark.task_run_s" -> run,
      "spark.gc_s" -> ts.map(_.gcMs).sum / 1e3,
      "spark.busy_frac" -> (if (wall > 0) run / (wall * cores) else 0.0),
      "spark.idle_s" -> (wall - busy),
      "spark.sched_delay_s" -> ts.map(_.schedMs).sum / 1e3,
      "spark.shuffle_write_bytes" -> ts.map(_.shWrite).sum.toDouble,
      "spark.shuffle_read_bytes" -> ts.map(_.shRead).sum.toDouble,
      "spark.task_failures" -> ts.count(!_.ok).toDouble,
      "spark.input_bytes" -> ts.map(_.inBytes).sum.toDouble)
  }
}
