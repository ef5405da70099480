package perfbench

import perfbench.Harness.Sample

/** Turns a run's samples into the end-to-end metrics (untraced run) or the
  * per-layer metrics (traced run), plus a per-operation breakdown that
  * also holds each operation's counters from the first warm-up pass
  * (`cold`). Every per-pass figure is a sum over the pass's operations; the
  * reported value is the median over the timed passes. */
final case class Report(
    workload: String,
    seed: Long,
    trace: Boolean,
    setup: Seq[(String, Double)],
    rowsPerPass: Double,
    samples: Seq[Sample],
    cold: Seq[Sample],
    failures: Seq[(String, String)]
) {
  import Report._

  private val passes = samples.groupBy(_.pass).toSeq.sortBy(_._1).map(_._2)
  private def perPass(f: Seq[Sample] => Double): Double = median(passes.map(f))
  private def layer(k: String)(ss: Seq[Sample]): Double = ss.map(_.layers.getOrElse(k, 0.0)).sum

  /** The highest percentile of the per-operation latencies with at least
    * ten samples above it: (value, percentile, samples above). */
  val tail: (Double, Double, Int) = {
    val xs = samples.map(_.latencyS).sorted
    val n = xs.size
    if (n > 10) (xs(n - 11), 100.0 * (n - 10) / n, 10) else (xs.last, 100.0, 0)
  }

  val passS: Double = perPass(_.map(_.latencyS).sum)

  def endToEnd: Seq[(String, Double, String)] = Seq(
    ("setup_s", setup.map(_._2).sum, "s"),
    ("pass_s", passS, "s"),
    ("op_p50_s", median(samples.map(_.latencyS)), "s"),
    ("op_tail_s", tail._1, "s"),
    ("rows_per_s", rowsPerPass / passS, "rows/s"),
    ("cpu_s", perPass(_.map(_.cpuS).sum), "s")
  )

  def perLayer: Seq[(String, Double, String)] = {
    val sum = Seq(
      ("queries.build_s", "s"), ("queries.build_jobs", "count"), ("plans.plan_s", "s"),
      ("exec.run_s", "s"), ("exec.jobs", "count"), ("exec.stages", "count"),
      ("exec.tasks", "count"), ("exec.cpu_s", "s"), ("exec.task_s", "s"),
      ("exec.gc_s", "s"), ("exec.idle_s", "s"), ("sources.files_mb", "MB"),
      ("sources.rows", "count"), ("sources.block_read_mb", "MB"),
      ("shuffle.write_mb", "MB"), ("shuffle.read_mb", "MB"),
      ("shuffle.fetch_wait_s", "s"), ("shuffle.spill_mb", "MB"),
      ("materialize.put_mb", "MB")
    ).map { case (k, u) => (k, perPass(layer(k)), u) }
    val derived = Seq(
      ("exec.empty_task_frac",
        perPass(ss => layer("exec.empty_tasks")(ss) / math.max(1.0, layer("exec.all_tasks")(ss))),
        "ratio"),
      ("exec.peak_mem_mb", samples.map(_.layers.getOrElse("exec.peak_mem_mb", 0.0)).max, "MB"),
      ("materialize.put_per_scan",
        perPass(ss => layer("materialize.put_mb")(ss) / math.max(1e-9, layer("sources.files_mb")(ss))),
        "ratio"),
      ("materialize.leaked_rdds", perPass(_.map(_.leakedRdds.toDouble).sum), "count"),
      ("materialize.leaked_mb", perPass(_.map(_.leakedMb).sum), "MB"),
      ("materialize.held_mb", samples.map(_.heldMb).max, "MB")
    )
    val spans = Workloads.OperatorSpans.map { k =>
      (s"operators.${k}_s", perPass(_.map(_.spans.getOrElse(k, 0.0)).sum), "s")
    }
    sum ++ derived ++ spans
  }

  def json: String = {
    val metrics = (if (trace) perLayer else endToEnd).map { case (k, v, u) =>
      s"${q(k)}: {${q("value")}: ${num(v)}, ${q("unit")}: ${q(u)}}"
    }.mkString("{", ", ", "}")
    val ops = samples.groupBy(_.op).toSeq.sortBy(_._1).map { case (op, ss) =>
      val layerKeys = ss.flatMap(_.layers.keys).distinct
      val coldJson = cold.find(_.op == op).map { c =>
        (("leaked_rdds" -> num(c.leakedRdds)) +: c.layers.toSeq.map { case (k, v) => k -> num(v) })
          .map { case (k, v) => s"${q(k)}: $v" }.mkString("{", ", ", "}")
      }.getOrElse("{}")
      val fields = Seq(
        "runs" -> ss.size.toString,
        "latency_s" -> num(median(ss.map(_.latencyS))),
        "build_s" -> num(median(ss.map(_.buildS))),
        "plan_s" -> num(median(ss.map(_.planS))),
        "exec_s" -> num(median(ss.map(_.execS))),
        "cpu_s" -> num(median(ss.map(_.cpuS))),
        "leaked_rdds" -> ss.map(_.leakedRdds).mkString("[", ",", "]"),
        "leaked_mb" -> num(median(ss.map(_.leakedMb))),
        "fingerprints" -> ss.flatMap(_.fingerprint.map(_.render)).distinct.map(q).mkString("[", ",", "]"),
        "cold" -> coldJson
      ) ++ layerKeys.map(k => k -> ss.map(s => num(s.layers.getOrElse(k, 0.0))).mkString("[", ",", "]"))
      q(op) + ": " + fields.map { case (k, v) => s"${q(k)}: $v" }.mkString("{", ", ", "}")
    }.mkString("{", ", ", "}")
    val fails = failures.map { case (k, v) => s"[${q(k)}, ${q(v)}]" }.mkString("[", ", ", "]")
    val setupJson = setup.map { case (k, v) => s"${q(k)}: ${num(v)}" }.mkString("{", ", ", "}")
    s"""{"workload": ${q(workload)}, "seed": $seed, "trace": $trace, "passes": ${passes.size}, """ +
      s""""rows_per_pass": ${num(rowsPerPass)}, """ +
      s""""pass_s": ${num(passS)}, "passes_s": ${passes.map(ss => num(ss.map(_.latencyS).sum)).mkString("[", ", ", "]")}, """ +
      s""""setup": $setupJson, """ +
      s""""attempted": ${samples.size}, "failed": ${failures.size}, """ +
      s""""tail": {"percentile": ${num(tail._2)}, "samples_above": ${tail._3}, "samples": ${samples.size}}, """ +
      s""""metrics": $metrics, "failures": $fails, "ops": $ops}"""
  }
}

object Report {
  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }

  private def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "0.0" else java.lang.Double.toString(v)

  def q(s: String): String = "\"" + s.flatMap {
    case '"'          => "\\\""
    case '\\'         => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c            => c.toString
  } + "\""
}
