package cdcbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.immutable.ListMap

import org.apache.spark.sql.SparkSession

/** CDC-lake benchmark entry point:
  * `--workload <cdc_cow_hot|cdc_mor_mixed|lake_scan> --seed <n> --seconds <n>
  * --trace <0|1> --work <dir>`. Prints one `[cdcbench]` line per metric and,
  * last, the JSON result line; exits 1 when any answer differs from the
  * oracle or an engine call throws. */
object Main {
  val Workloads: Seq[String] = Seq("cdc_cow_hot", "cdc_mor_mixed", "lake_scan")

  /** The session shape of `graft.Bench` and `graft.Verify`: `local[n]` with
    * `n` shuffle partitions, `SessionTuning` and `GraftExtensions`. */
  def session(work: Path, cpus: Int): SparkSession = {
    val spark = graft.core.SessionTuning(SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("cdcbench")
      .config("spark.sql.shuffle.partitions", cpus.toLong)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("spark-warehouse").toString))
      .withExtensions(new graft.GraftExtensions)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  def say(s: String): Unit = println(s"[cdcbench] $s")

  /** Run one workload into `r`; the caller owns the session. */
  def runWorkload(r: Run, workload: String, seed: Long, work: Path, sizes: Sizes): Unit =
    workload match {
      case "cdc_cow_hot" => CdcWorkload.run(r, work, seed, sizes, mor = false)
      case "cdc_mor_mixed" => CdcWorkload.run(r, work, seed, sizes, mor = true)
      case "lake_scan" => LakeScanWorkload.run(r, work, seed, sizes)
    }

  /** Print the human report and, last, the JSON line of a run that passed
    * every check. */
  def report(r: Run, tracer: Tracer, workload: String): Unit = {
    say(f"error_rate = ${r.failed.toDouble / r.attempted}%.4f ratio (${r.failed}/${r.attempted} operations)")
    r.values.foreach { case (k, (v, u)) => if (k != "session_s") say(f"$k = $v%.4f $u") }
    Report.latencies(r).foreach { case (k, v, u, note) => say(f"$k = $v%.4f $u ($note)") }
    r.samples.foreach { case (op, xs) => say(s"samples $op: ${xs.map(x => f"$x%.3f").mkString(" ")}") }
    say("jvm uptime at " + r.phases.map { case (k, v) => f"$k $v%.1fs" }.mkString(", "))
    val metrics =
      if (!tracer.enabled) Report.endToEnd(r)
      else {
        tracer.drain()
        val tr = tracer.snapshot
        val ls = Report.layers(r, tr, workload)
        ls.foreach { case (k, (v, u)) => say(f"$k = $v%.4f $u") }
        Report.layerDetail(r, tr, workload).foreach(say)
        ls
      }
    println(Report.json(correct = true, r.attempted, r.failed, metrics))
  }

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val workload = opts.getOrElse("workload", "")
    if (!Workloads.contains(workload)) {
      System.err.println(s"unknown workload '$workload'; one of ${Workloads.mkString(", ")}")
      sys.exit(2)
    }
    val seed = opts.getOrElse("seed", "1").toLong
    val seconds = opts.getOrElse("seconds", "10").toInt
    val traced = opts.getOrElse("trace", "0") == "1"
    val work = Paths.get(opts.getOrElse("work", "cdcbench-work")).toAbsolutePath
    Files.createDirectories(work)
    val cpus = Runtime.getRuntime.availableProcessors
    val sizes = Sizes.standard(workload)

    val tracer = new Tracer(traced)
    val t0 = System.nanoTime()
    val spark = session(work, cpus)
    tracer.install(spark)
    val sessionS = (System.nanoTime() - t0) / 1e9
    say(s"workload=$workload seed=$seed seconds=$seconds trace=${if (traced) 1 else 0} " +
      s"cores=$cpus session=SessionTuning+GraftExtensions local[$cpus]")

    val r = new Run(spark, tracer, seconds)
    r.phase("session")
    r.values("session_s") = (sessionS, "s")
    val code =
      try {
        runWorkload(r, workload, seed, work, sizes)
        report(r, tracer, workload)
        0
      } catch {
        case e: Throwable =>
          say(s"FAILED: ${e.getClass.getSimpleName}: ${e.getMessage}")
          e.printStackTrace(System.err)
          // an exception that no check caught is one more failed operation
          val f = if (r.failed == 0) 1L else r.failed
          println(Report.json(correct = false, math.max(r.attempted, f), f, ListMap.empty))
          1
      }
    spark.stop()
    sys.exit(code)
  }
}
