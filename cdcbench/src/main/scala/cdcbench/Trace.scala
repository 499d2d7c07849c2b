package cdcbench

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQueryListener

/** A timed region around one call the benchmark makes into the engine.
  * `round` is the timed-loop round it belongs to (-1 during set-up). */
final case class Span(
    id: Int, parent: Int, name: String, layer: String, round: Int,
    t0Ms: Long, t1Ms: Long, wallMs: Double, counts: Map[String, Double])

final case class JobRec(id: Int, startMs: Long, endMs: Long, stageIds: Seq[Int])

final case class StageRec(
    id: Int, name: String, module: String, submitMs: Long, doneMs: Long,
    tasks: Int, cpuMs: Double, recordsRead: Long, shuffleWriteBytes: Long) {
  def ms: Double = (doneMs - submitMs).toDouble
}

final case class Progress(triggerMs: Long, durations: Map[String, Long])

/** In-memory span recorder plus the Spark and streaming listeners that add
  * per-span counts. Spans are recorded only while `active`; nothing is
  * written until the run ends. Listener events arrive asynchronously and are
  * matched to spans by wall-clock time at the end of the run. */
final class Tracer(val enabled: Boolean) {
  @volatile var active: Boolean = false
  var round: Int = -1
  private val spans = mutable.ArrayBuffer.empty[Span]
  private val stack = mutable.Stack.empty[Int]
  private var nextId = 0

  private val jobs = new java.util.concurrent.ConcurrentHashMap[Int, JobRec]()
  private val stages = new java.util.concurrent.ConcurrentLinkedQueue[StageRec]()
  private val progress = new java.util.concurrent.ConcurrentLinkedQueue[Progress]()
  private val jobsStarted = new java.util.concurrent.atomic.AtomicInteger()
  private val jobsEnded = new java.util.concurrent.atomic.AtomicInteger()
  private val queriesTerminated = new java.util.concurrent.atomic.AtomicInteger()

  def recording: Boolean = enabled && active

  /** Run `f` inside a span named `name` of layer `layer`; `counts` is read
    * after `f` returns and attached to the span. */
  def span[T](name: String, layer: String)(f: => T): T = spanWith(name, layer, (_: T) => Map.empty)(f)

  def spanWith[T](name: String, layer: String, counts: T => Map[String, Double])(f: => T): T = {
    if (!recording) return f
    val id = nextId; nextId += 1
    val parent = stack.headOption.getOrElse(-1)
    stack.push(id)
    val t0 = System.currentTimeMillis(); val n0 = System.nanoTime(); val gc0 = Tracer.gcMs
    try {
      val out = f
      val wall = (System.nanoTime() - n0) / 1e6
      spans += Span(id, parent, name, layer, round, t0, System.currentTimeMillis(), wall,
        counts(out) + ("gc_ms" -> (Tracer.gcMs - gc0).toDouble))
      out
    } finally stack.pop()
  }

  def install(spark: SparkSession): Unit = if (enabled) {
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        jobsStarted.incrementAndGet()
        jobs.put(e.jobId, JobRec(e.jobId, e.time, -1L, e.stageIds))
      }
      override def onJobEnd(e: SparkListenerJobEnd): Unit = {
        jobs.computeIfPresent(e.jobId, (_, j) => j.copy(endMs = e.time))
        jobsEnded.incrementAndGet()
      }
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
        val s = e.stageInfo
        val m = s.taskMetrics
        stages.add(StageRec(s.stageId, s.name, Tracer.module(s.details),
          s.submissionTime.getOrElse(0L), s.completionTime.getOrElse(0L),
          s.numTasks, m.executorCpuTime / 1e6, m.inputMetrics.recordsRead,
          m.shuffleWriteMetrics.bytesWritten))
      }
    })
    spark.streams.addListener(new StreamingQueryListener {
      override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
        val p = e.progress
        progress.add(Progress(java.time.Instant.parse(p.timestamp).toEpochMilli,
          p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap))
      }
      override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
      override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit =
        queriesTerminated.incrementAndGet(): Unit
    })
  }

  def terminatedQueries: Int = queriesTerminated.get

  /** Wait (bounded) until the streaming listener has seen `n` terminations,
    * so a drained query's progress events are all in. */
  def awaitTerminated(n: Int): Unit = {
    val deadline = System.currentTimeMillis() + 5000
    while (queriesTerminated.get < n && System.currentTimeMillis() < deadline) Thread.sleep(5)
  }

  /** Wait (bounded) until every started job has ended and its events are in. */
  def drain(): Unit = {
    val deadline = System.currentTimeMillis() + 10000
    while (jobsEnded.get < jobsStarted.get && System.currentTimeMillis() < deadline) Thread.sleep(10)
    Thread.sleep(200)
  }

  def snapshot: Trace = Trace(spans.toVector, jobs.values.asScala.toVector.sortBy(_.id),
    stages.asScala.toVector, progress.asScala.toVector)
}

object Tracer {
  /** JVM-wide collection time so far (driver and local executors share it). */
  def gcMs: Long = java.lang.management.ManagementFactory.getGarbageCollectorMXBeans
    .asScala.map(_.getCollectionTime).filter(_ > 0).sum

  /** The engine module a stage belongs to: the package of the innermost
    * `graft.<module>` frame of its call site, or "unattributed" when the
    * call site names no engine frame before the benchmark's own code. */
  def module(details: String): String =
    details.linesIterator.map(_.trim.stripPrefix("at "))
      .find(l => l.startsWith("graft.") || l.startsWith("cdcbench."))
      .filter(_.startsWith("graft."))
      .map { l =>
        val parts = l.takeWhile(_ != '(').split('.')
        // graft.<module>.<Class>.<method>; a top-level graft.<Class> is "graft"
        if (parts.length >= 4) parts(1) else "graft"
      }
      .getOrElse("unattributed")
}

/** Everything one traced run recorded. */
final case class Trace(
    spans: Vector[Span], jobs: Vector[JobRec], stages: Vector[StageRec],
    progress: Vector[Progress]) {

  private lazy val stageById: Map[Int, StageRec] = stages.map(s => s.id -> s).toMap
  private lazy val children: Map[Int, Vector[Span]] = spans.groupBy(_.parent)

  /** Spans nested under `s`, at any depth. */
  def descendants(s: Span): Vector[Span] =
    children.getOrElse(s.id, Vector.empty).flatMap(c => c +: descendants(c))

  /** Jobs that started inside `s`. */
  def jobsIn(s: Span): Vector[JobRec] =
    jobs.filter(j => j.startMs >= s.t0Ms && j.startMs <= s.t1Ms)

  def stagesIn(s: Span): Vector[StageRec] =
    jobsIn(s).flatMap(_.stageIds).distinct.flatMap(stageById.get)

  /** Span wall time not covered by any Spark job (driver-side work). */
  def driverGapMs(s: Span): Double = {
    val iv = jobsIn(s).map(j => (math.max(j.startMs, s.t0Ms),
      math.min(if (j.endMs < 0) s.t1Ms else j.endMs, s.t1Ms))).sortBy(_._1)
    var covered = 0L; var curS = -1L; var curE = -1L
    iv.foreach { case (a, b) =>
      if (a > curE) { if (curE > curS) covered += curE - curS; curS = a; curE = b }
      else curE = math.max(curE, b)
    }
    if (curE > curS) covered += curE - curS
    math.max(0.0, s.wallMs - covered)
  }

  /** Stage time inside `s` per engine module (plus "unattributed"). */
  def stageMsByModule(s: Span): Map[String, Double] =
    stagesIn(s).groupBy(_.module).map { case (m, ss) => m -> ss.map(_.ms).sum }

  def progressIn(s: Span): Vector[Progress] =
    progress.filter(p => p.triggerMs >= s.t0Ms && p.triggerMs <= s.t1Ms)

  def top(name: String): Vector[Span] = spans.filter(s => s.name == name && s.parent < 0)
}
