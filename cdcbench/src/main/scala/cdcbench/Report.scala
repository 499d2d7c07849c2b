package cdcbench

import scala.collection.immutable.ListMap

/** Turns a finished run into named metrics: the end-to-end set (untraced
  * runs), the per-layer set (traced runs), and the longer human report. */
object Report {
  type Metrics = ListMap[String, (Double, String)]

  /** The end-to-end metrics every workload reports (BENCHMARK.json). */
  val EndToEnd: Seq[String] = Seq("setup_s", "batch_p50_s", "lookup_p50_s", "scan_p50_s")

  /** The per-layer metrics every workload reports in a traced run. */
  val PerLayer: Seq[(String, String)] = Seq(
    "pipeline.driver_gap_ms" -> "ms", "pipeline.jobs" -> "count",
    "sources.plan_ms" -> "ms", "sources.exec_ms" -> "ms",
    "sources.rows_read" -> "count", "sources.rows_read_per_row_returned" -> "ratio",
    "storage.versions" -> "count", "storage.bytes_written" -> "bytes",
    "spark.executor_cpu_ms" -> "ms", "spark.gc_ms" -> "ms",
    "spark.shuffle_write_bytes" -> "bytes", "spark.tasks" -> "count",
    "spark.unattributed_ms" -> "ms")

  /** Latency metrics of every sampled operation: `<op>_p50_s` and
    * `<op>_tail_s`, the tail being the highest percentile with at least ten
    * samples beyond it (absent when there are too few samples). */
  def latencies(r: Run): Seq[(String, Double, String, String)] =
    r.samples.toSeq.flatMap { case (op, ss) =>
      val xs = ss.toSeq
      val p50 = (s"${op}_p50_s", Stats.median(xs), "s", s"n=${xs.size}")
      p50 +: Stats.tail(xs).toSeq.map { case (p, v) =>
        (s"${op}_tail_s", v, "s", s"p${fmtP(p)}, n=${xs.size}")
      }
    }

  private def fmtP(p: Double): String = if (p == p.floor) p.toLong.toString else p.toString

  def endToEnd(r: Run): Metrics = {
    val lat = latencies(r).map(x => x._1 -> (x._2, x._3)).toMap
    ListMap(EndToEnd.map(n => n -> r.values.get(n).orElse(lat.get(n)).getOrElse(
      throw new Mismatch(s"metric $n was not measured"))): _*)
  }

  /** The span kind whose time the workload's headline metric measures. */
  def primary(workload: String): String = if (workload == "lake_scan") "scan" else "batch"

  /** Per-layer metrics from the trace plus the values the workload measured
    * from outside (manifest diffs, directory sizes). Spans are recorded in
    * the fixed set of timed rounds only (and, on `lake_scan`, the build's
    * appends), so counts and totals cover the same work on every run and
    * the counts repeat exactly for a seed; times are medians per span. */
  def layers(r: Run, tr: Trace, workload: String): Metrics = {
    def med(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else Stats.median(xs)
    val batches = tr.top("batch")
    val prim = tr.top(primary(workload))
    val plan = tr.spans.filter(_.name == "plan"); val exec = tr.spans.filter(_.name == "exec")
    val lookups = tr.top("lookup")
    val scanRows = tr.top("scan").map(s => tr.stagesIn(s).map(_.recordsRead).sum.toDouble)
    val m = ListMap.newBuilder[String, (Double, String)]
    m += "pipeline.driver_gap_ms" -> (med(batches.map(tr.driverGapMs)), "ms")
    m += "pipeline.jobs" -> (med(batches.map(tr.jobsIn(_).size.toDouble)), "count")
    m += "sources.plan_ms" -> (med(plan.map(_.wallMs)), "ms")
    m += "sources.exec_ms" -> (med(exec.map(_.wallMs)), "ms")
    m += "sources.rows_read" -> (med(scanRows), "count")
    m += "sources.rows_read_per_row_returned" -> (
      lookups.map(s => tr.stagesIn(s).map(_.recordsRead).sum).sum.toDouble /
        math.max(1.0, lookups.map(_.counts.getOrElse("rows", 0.0)).sum), "ratio")
    r.layer.get("storage.versions").foreach(v => m += "storage.versions" -> v)
    r.layer.get("storage.bytes_written").foreach(v => m += "storage.bytes_written" -> v)
    m += "spark.executor_cpu_ms" -> (med(prim.map(s => tr.stagesIn(s).map(_.cpuMs).sum)), "ms")
    m += "spark.gc_ms" -> (med(prim.map(_.counts.getOrElse("gc_ms", 0.0))), "ms")
    m += "spark.shuffle_write_bytes" -> (med(prim.map(s => tr.stagesIn(s).map(_.shuffleWriteBytes).sum.toDouble)), "bytes")
    m += "spark.tasks" -> (med(prim.map(s => tr.stagesIn(s).map(_.tasks).sum.toDouble)), "count")
    // total over every top-level span: a headline span can be fully
    // attributed (streaming)
    m += "spark.unattributed_ms" -> (tr.spans.filter(_.parent < 0)
      .map(s => tr.stageMsByModule(s).getOrElse("unattributed", 0.0)).sum, "ms")
    m.result()
  }

  /** Everything else the trace can say, for the human report: per-module
    * stage time, streaming progress durations, per-read-kind planning and
    * execution, and the share of the primary span's time per layer. */
  def layerDetail(r: Run, tr: Trace, workload: String): Seq[String] = {
    def med(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else Stats.median(xs)
    val out = Seq.newBuilder[String]
    val batches = tr.top("batch")
    val modules = batches.flatMap(tr.stageMsByModule(_).keys).distinct.sorted
    modules.filter(_ != "unattributed").foreach { mod =>
      out += f"$mod.stage_ms = ${med(batches.map(tr.stageMsByModule(_).getOrElse(mod, 0.0)))}%.3f ms (median per batch)"
    }
    if (workload == "cdc_mor_mixed") {
      val keys = Seq("addBatch", "walCommit", "commitOffsets", "latestOffset", "queryPlanning", "getBatch")
      keys.foreach { k =>
        out += f"streaming.${k}_ms = ${med(batches.map(s => tr.progressIn(s).map(_.durations.getOrElse(k, 0L)).sum.toDouble))}%.3f ms (median per batch)"
      }
      out += f"streaming.startup_ms = ${med(batches.map(s => s.wallMs - tr.progressIn(s).map(_.durations.getOrElse("triggerExecution", 0L)).sum))}%.3f ms (batch wall minus trigger execution, median)"
    }
    r.layer.foreach { case (k, (v, u)) => out += f"$k = $v%.4f $u" }
    Seq("lookup", "scan", "feed", "travel", "day", "range").foreach { kind =>
      val ks = tr.top(kind)
      if (ks.nonEmpty) {
        val kids = ks.flatMap(tr.descendants)
        out += f"sources.plan_ms[$kind] = ${med(kids.filter(_.name == "plan").map(_.wallMs))}%.3f ms, " +
          f"sources.exec_ms[$kind] = ${med(kids.filter(_.name == "exec").map(_.wallMs))}%.3f ms (n=${ks.size})"
      }
    }
    // share of the primary operation's time per layer
    val prim = tr.top(primary(workload))
    if (prim.nonEmpty) {
      val driverLayer = if (primary(workload) == "batch") "pipeline" else "sources"
      val buckets = prim.map { s =>
        tr.stageMsByModule(s) + (driverLayer + " (driver gap)" -> tr.driverGapMs(s))
      }.flatten.groupBy(_._1).map { case (k, v) => k -> v.map(_._2).sum }
      val total = buckets.values.sum
      val shares = buckets.toSeq.sortBy(-_._2)
      out += s"time of ${primary(workload)} by layer (${prim.size} traced spans): " +
        shares.map { case (k, v) => f"$k ${100 * v / total}%.1f%%" }.mkString(", ")
      val byName = prim.flatMap(tr.stagesIn).groupBy(x => (x.module, x.name))
        .map { case (k, v) => k -> v.map(_.ms).sum }.toSeq.sortBy(-_._2).take(8)
      byName.foreach { case ((mod, name), ms) => out += f"  stage $name [$mod] $ms%.0f ms total" }
      val largest = shares.filter(_._1 != "unattributed").headOption
      largest.foreach { case (k, v) =>
        out += f"largest module share of ${primary(workload)}_p50_s: ${k.takeWhile(_ != ' ')} (${100 * v / total}%.1f%%); " +
          f"unattributed ${100 * buckets.getOrElse("unattributed", 0.0) / total}%.1f%%"
      }
    }
    out.result()
  }

  /** The JSON result line, printed last. */
  def json(correct: Boolean, attempted: Long, failed: Long, metrics: Metrics): String = {
    def num(v: Double): String =
      if (v.isNaN || v.isInfinite) "0" else java.math.BigDecimal.valueOf(v).toPlainString
    val ms = metrics.map { case (k, (v, u)) => s""""$k": {"value": ${num(v)}, "unit": "$u"}""" }
    s"""{"correct": $correct, "attempted": $attempted, "failed": $failed, "metrics": {${ms.mkString(", ")}}}"""
  }
}
