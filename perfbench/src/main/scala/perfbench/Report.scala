package perfbench

/** Formatting and the per-layer figures shared by the workloads. */
object Report {
  /** `name = median unit [q1, q3] pXX=… n=…`, the tail percentile being
    * the highest one with at least ten samples beyond it. */
  def line(name: String, unit: String, xs: Seq[Double]): String =
    if (xs.isEmpty) s"  $name = n/a $unit (no successful samples)"
    else {
      val (q1, q3) = Harness.quartiles(xs)
      val p = Harness.tailPct(xs.size)
      val tail = if (p > 50) f" p$p=${Harness.pct(xs, p)}%.4f" else ""
      f"  $name = ${Harness.median(xs)}%.4f $unit [q1 $q1%.4f, q3 $q3%.4f]$tail n=${xs.size}"
    }

  /** Listener totals per traced operation over its action windows, as
    * medians across operations. */
  def sparkLayers(ctx: Ctx, traced: Seq[Op]): Map[String, (Double, String)] = {
    val per = traced.map(o => ctx.listener.window(o.windows, ctx.nproc))
    if (per.isEmpty) Map.empty
    else per.head.keys.map { k =>
      val unit = if (k.endsWith("_s")) "s" else if (k.endsWith("_bytes")) "bytes"
        else if (k.endsWith("_frac")) "ratio" else "count"
      k -> (Harness.median(per.map(_(k))), unit)
    }.toMap
  }

  /** Tracing overhead: the median over (untraced, traced) pairs of
    * neighbouring iterations of traced / untraced − 1, so warm-up drift
    * across the run cancels. Also the share of the untraced iteration the
    * layer times leave unexplained. */
  def overhead(untraced: Double, pairs: Seq[(Double, Double)], layerSum: Double): Map[String, (Double, String)] =
    Map(
      "trace.overhead_frac" -> (if (pairs.isEmpty) Double.NaN else Harness.median(pairs.map(p => p._2 / p._1)) - 1, "ratio"),
      "trace.unaccounted_frac" -> ((untraced - layerSum) / untraced, "ratio"))

  /** (untraced wall, traced action time) for each traced iteration that
    * follows an untraced one. */
  def pairs(ops: Seq[Op], action: Op => Double): Seq[(Double, Double)] =
    ops.sliding(2).collect {
      case Seq(u, t) if u.ok && t.ok && u.label == "plain" && t.label == "traced" => (u.wall, action(t))
    }.toSeq
}
