package perfbench

import java.io.File
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** `query_sweep`: a fixed set of `SparkEntry.queries` entries over the
  * sf0.01 tables, each built with `fn(spark, dir)` and forced to the no-op
  * sink, in an order shuffled by the seed on every pass. At this scale a
  * query is mostly construction and job scheduling, which is what the
  * query operators' orchestration work would move; the fixed-width layers
  * are hardly touched. */
object QuerySweep {
  val Families: Seq[String] =
    Seq("ingest", "relational", "events", "dedup", "similarity", "text", "multimodal")

  /** `graft.Bench`'s family split, by query name. */
  def familyOf(name: String): String = name match {
    case n if n.startsWith("fixedwidth") || n.startsWith("alltypes") ||
      n.startsWith("avro") || n.startsWith("ocf") || n.startsWith("kafka") => "ingest"
    case n if n.startsWith("q") => "relational"
    case n if n.startsWith("events") => "events"
    case n if n.startsWith("dedup") || n.startsWith("corpus_clean") ||
      n.startsWith("corpus_decontam") || n.startsWith("corpus_shared") => "dedup"
    case n if n.startsWith("similarity") || n.startsWith("embedding") => "similarity"
    case n if n.startsWith("multimodal") => "multimodal"
    case _ => "text"
  }

  /** One query per family, ~3 s per warm pass on 4 cores, chosen among
    * the cheaper ones so a run fits several passes: at this scale their
    * time is mostly construction (eager jobs in `dedup_clusters_staged`,
    * schema jobs per table read) and job scheduling. The whole registry
    * (129 queries, ~96 s warm and ~230 s cold at sf0.01) does not fit the
    * time one run may take. */
  val Queries: Seq[String] = Seq(
    "kafka_stage_roundtrip", "q3_top_orders", "events_histogram", "dedup_clusters_staged",
    "embedding_pq", "text_normalize", "multimodal_meta")

  /** Double and float values are compared at six significant digits, so
    * summation order inside an aggregate cannot flip the fingerprint. */
  private def norm(c: Column, t: DataType): Column = t match {
    case DoubleType | FloatType =>
      val d = c.cast(DoubleType)
      when(d.isNull, lit(null).cast(StringType)).when(isnan(d), lit("NaN"))
        .when(d === 0.0, lit("0")).otherwise(format_string("%.5e", d))
    case ArrayType(et, _) => transform(c, x => norm(x, et))
    case StructType(fs) if fs.nonEmpty =>
      when(c.isNull, lit(null)).otherwise(struct(fs.map(f => norm(c.getField(f.name), f.dataType).as(f.name)).toIndexedSeq: _*))
    case MapType(kt, vt, _) =>
      array_sort(transform(map_entries(c), e =>
        struct(norm(e.getField("key"), kt).as("k"), norm(e.getField("value"), vt).as("v"))))
    case _ => c
  }

  /** Row count plus an order-independent hash of the rows. */
  def fingerprint(df: DataFrame): String = {
    val cols = df.schema.fields.map(f => norm(col(s"`${f.name}`"), f.dataType))
    val r = df.select(xxhash64(cols.toIndexedSeq: _*).cast("decimal(38,0)").as("h"))
      .agg(count(lit(1)), coalesce(sum(col("h")), lit(0).cast("decimal(38,0)"))).head()
    s"${r.getLong(0)}:${r.get(1)}"
  }

  def run(ctx: Ctx): Outcome = {
    val a = ctx.a
    val dir = new File(a.data, "sf0.01").getAbsolutePath
    val registry = graft.SparkEntry.queries
    val thrower: (SparkSession, String) => DataFrame =
      (_, _) => throw new IllegalStateException("injected query failure")
    val queries: Seq[(String, (SparkSession, String) => DataFrame)] =
      Queries.map(n => n -> registry(n)) ++
        (if (a.inject.contains("throw-query")) Seq("injected_throw" -> thrower) else Nil)
    val expected: Map[String, String] = loadFingerprints(new File(a.data, "fingerprints.txt"))

    // Each set-up cycle warms up with one pass over the queries, in the
    // fixed order: the order the JIT first sees them in sets how fast the
    // compiled planner ends up, and that must not depend on the seed. After
    // a single pass the timed passes would still trend down as the planner
    // code gets compiled.
    val m0 = Harness.machine(ctx.nproc)
    ctx.setUp(3) { spark => untimed(ctx, m0, queries, "warm") { case (_, fn) => Harness.noop(fn(spark, dir)); true } }
    val rng = new scala.util.Random(a.seed)

    // Timed passes. A pass starts while time is left, so the last one may
    // end after it.
    val passWall = scala.collection.mutable.ArrayBuffer.empty[Double]
    val passCpu = scala.collection.mutable.ArrayBuffer.empty[Double]
    val passLayers = scala.collection.mutable.ArrayBuffer.empty[Map[String, Double]]
    var pass = 1
    ctx.startLoop()
    while (pass == 1 || ctx.timeLeft > 0) {
      val tracedPass = a.trace && pass % 2 == 0
      var wall = 0.0; var cpu = 0.0
      val fam = scala.collection.mutable.Map.empty[String, Double].withDefaultValue(0.0)
      val lay = scala.collection.mutable.Map.empty[String, Double].withDefaultValue(0.0)
      val windows = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
      val m = Harness.machine(ctx.nproc)
      Harness.gcBarrier()
      rng.shuffle(queries).foreach { case (name, fn) =>
        val (res, w, c) = ctx.measure {
          def run(): (Double, Double, Seq[(Long, Long)]) = {
            val t0 = System.nanoTime()
            val df = if (tracedPass) ctx.tracer.span("ops.build")(fn(ctx.spark, dir)) else fn(ctx.spark, dir)
            val t1 = System.nanoTime()
            if (tracedPass) ctx.tracer.span("ops.exec")(Harness.noop(df)) else Harness.noop(df)
            val t2 = System.nanoTime()
            ((t1 - t0) / 1e9, (t2 - t1) / 1e9, Seq((t0, t1), (t1, t2)))
          }
          try Right(if (tracedPass) ctx.traced(pass)(ctx.tracer.span(s"query.$name")(run())) else run())
          catch { case e: Exception => Left(e) }
        }
        // a failed query's time stays in its pass: the pass took that long
        wall += w; cpu += c; fam(familyOf(name)) += w
        res match {
          case Right((b, e, ws)) =>
            lay("ops.build_s") += b; lay("ops.exec_s") += e
            if (tracedPass) {
              windows ++= ws
              lay("ops.build_jobs") += ctx.listener.window(ws.take(1), ctx.nproc)("spark.jobs")
              lay("ops.exec_jobs") += ctx.listener.window(ws.drop(1), ctx.nproc)("spark.jobs")
            }
          case Left(e) => ctx.fail(s"$name threw in pass $pass: $e")
        }
        ctx.ops += Op(pass, if (tracedPass) s"traced:$name" else name, w, c, res.isRight, m)
      }
      if (!tracedPass) { passWall += wall; passCpu += cpu }
      else passLayers += (lay.toMap ++ fam.map { case (f, v) => s"ops.${f}_s" -> v } ++
        ctx.listener.window(windows.toSeq, ctx.nproc) + ("pass_s" -> wall) +
        ("untraced_s" -> passWall.lastOption.getOrElse(Double.NaN)))
      pass += 1
    }
    ctx.mark("timed")

    // Output check pass, untimed: every query's fingerprint against the
    // file recorded from an oracle-checked run.
    val seen = scala.collection.mutable.LinkedHashMap.empty[String, String]
    untimed(ctx, Harness.machine(ctx.nproc), rng.shuffle(queries), "check") { case (name, fn) =>
      val fp = fingerprint(fn(ctx.spark, dir))
      seen(name) = fp
      a.record.isDefined || expected.get(name).contains(fp) || {
        ctx.fail(s"$name fingerprint $fp != recorded ${expected.getOrElse(name, "<none>")}"); false
      }
    }
    a.record.foreach { f =>
      Files.write(f.toPath, seen.map { case (k, v) => s"$k $v" }.mkString("", "\n", "\n").getBytes(UTF_8))
    }
    ctx.mark("check")

    val plainQ = ctx.ops.filter(o => o.ok && o.iter > 0 && !o.label.contains(":")).toSeq
    val sweep = Harness.medianOrNaN(passWall.toSeq)
    val report = Seq(
      Report.line("sweep_s", "s", passWall.toSeq),
      Report.line("query_p50_s", "s", plainQ.map(_.wall)),
      Report.line("iter_cpu_s", "s", passCpu.toSeq),
      s"  queries: ${queries.size} per pass (${queries.map(_._1).mkString(", ")})")

    val layers =
      if (!a.trace || passLayers.isEmpty) Map.empty[String, (Double, String)]
      else {
        val keys = Main.PerLayer.map(_._1).filter(k => k.startsWith("ops.") || k.startsWith("spark."))
        val units = Main.PerLayer.toMap
        keys.map(k => k -> (Harness.median(passLayers.map(_.getOrElse(k, 0.0)).toSeq), units(k))).toMap ++
          Report.overhead(sweep, passLayers.map(p => (p("untraced_s"), p("pass_s"))).toSeq,
            Harness.median(passLayers.map(p => p("ops.build_s") + p("ops.exec_s")).toSeq))
      }
    Outcome(Map("iter_s" -> (sweep, "s"),
      "iter_cpu_s" -> (Harness.medianOrNaN(passCpu.toSeq), "s")),
      layers, report)
  }

  /** Runs `body` once per query outside any timing; a throw or a false
    * result counts as a failed operation. */
  private def untimed(ctx: Ctx, m: Machine, qs: Seq[(String, (SparkSession, String) => DataFrame)],
      label: String)(body: ((String, (SparkSession, String) => DataFrame)) => Boolean): Unit =
    qs.foreach { q =>
      val ok =
        try body(q)
        catch { case e: Exception => ctx.fail(s"${q._1} threw in the $label pass: $e"); false }
      ctx.ops += Op(0, s"$label:${q._1}", 0.0, 0.0, ok, m)
    }

  private def loadFingerprints(f: File): Map[String, String] =
    if (!f.isFile) Map.empty
    else new String(Files.readAllBytes(f.toPath), UTF_8).split("\n").map(_.trim).filter(_.nonEmpty)
      .map { l => val Array(k, v) = l.split(" "); k -> v }.toMap
}
