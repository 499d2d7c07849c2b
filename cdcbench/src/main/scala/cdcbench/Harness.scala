package cdcbench

import java.nio.file.{Files, Path}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.util.DateTimeUtils
import org.apache.spark.sql.types._

/** Raised when the engine's answer differs from the oracle's or an operation
  * throws: the run stops, reports `correct: false` and exits non-zero. */
final class Mismatch(msg: String) extends RuntimeException(msg)

/** Per-run bookkeeping shared by the workloads: latency samples, set-up
  * phases, per-layer values computed from outside, and the oracle checks. */
final class Run(val spark: SparkSession, val tracer: Tracer, val seconds: Int) {
  val samples = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
  val values = mutable.LinkedHashMap.empty[String, (Double, String)]
  val layer = mutable.LinkedHashMap.empty[String, (Double, String)]
  var attempted = 0L
  var failed = 0L
  /** Samples are kept only while measuring (not during set-up or warm-up). */
  var measuring = false

  def sample(name: String, s: Double): Unit = if (measuring)
    samples.getOrElseUpdate(name, mutable.ArrayBuffer.empty) += s

  def times(name: String): Seq[Double] = samples.get(name).toSeq.flatten

  /** Time `f` as one sample of `name`, inside a span of layer `layerName`. */
  def timed[T](name: String, layerName: String)(f: => T): T =
    timedWith(name, layerName, (_: T) => Map.empty)(f)

  def timedWith[T](name: String, layerName: String, counts: T => Map[String, Double])(f: => T): T = {
    val t0 = System.nanoTime()
    val out = tracer.spanWith(name, layerName, counts)(f)
    sample(name, (System.nanoTime() - t0) / 1e9)
    out
  }

  /** A read: planning (`executedPlan` forced) and execution are separate
    * child spans of one `name` sample. */
  def read[T](name: String, df: => DataFrame)(collect: DataFrame => T)
      (rows: T => Long): T =
    timedWith[T](name, "sources", (t: T) => Map("rows" -> rows(t).toDouble)) {
      val d = df
      tracer.span("plan", "sources")(d.queryExecution.executedPlan)
      tracer.span("exec", "sources")(collect(d))
    }

  /** Count one attempted operation; a false `ok` is a mismatch. */
  def check(what: String)(ok: Boolean, detail: => String): Unit = {
    attempted += 1
    if (!ok) { failed += 1; throw new Mismatch(s"$what: $detail") }
  }

  /** Note the JVM uptime at a named point of the run (human report only). */
  val phases = mutable.ArrayBuffer.empty[(String, Double)]
  def phase(name: String): Unit =
    phases += name -> java.lang.management.ManagementFactory.getRuntimeMXBean.getUptime / 1000.0
}

object Harness {
  def secondsOf(f: => Unit): Double = {
    val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
  }

  def micros(t: java.sql.Timestamp): Long = DateTimeUtils.fromJavaTimestamp(t)
  def timestamp(us: Long): java.sql.Timestamp = DateTimeUtils.toJavaTimestamp(us)

  val BaseFields: Seq[StructField] = Seq(
    StructField("user_id", LongType), StructField("email", StringType),
    StructField("cur_level", LongType), StructField("seq", LongType),
    StructField("payload", StringType))
  val AuditFields: Seq[StructField] = Seq(
    StructField("timestamp", TimestampType), StructField("last_applied_date", TimestampType))
  val CdcSchema: StructType = StructType(
    StructField("Op", StringType) +: StructField("timestamp", TimestampType) +: BaseFields)
  val LogSchema: StructType = StructType(Seq(
    StructField("event_id", LongType), StructField("ts", TimestampType),
    StructField("user_id", LongType), StructField("amount", LongType),
    StructField("kind", StringType), StructField("payload", StringType)))

  def recRow(r: Rec, withAudit: Boolean): Row = {
    val base = Seq(r.userId, r.email, r.curLevel, r.seq, r.payload)
    Row.fromSeq(if (withAudit) base ++ Seq(r.ts.map(timestamp).orNull, r.audit.map(timestamp).orNull) else base)
  }

  def eventRow(e: Event): Row =
    Row.fromSeq(Seq(e.op, timestamp(e.ts), e.rec.userId, e.rec.email,
      e.rec.curLevel, e.rec.seq, e.rec.payload))

  def logRow(r: LogRow): Row =
    Row(r.eventId, timestamp(r.tsMicros), r.userId, r.amount, r.kind, r.payload)

  /** A table row read back through the connector, as the oracle's [[Rec]]. */
  def toRec(r: Row): Rec = {
    def ts(c: String): Option[Long] =
      if (!r.schema.fieldNames.contains(c) || r.isNullAt(r.fieldIndex(c))) None
      else Some(micros(r.getAs[java.sql.Timestamp](c)))
    Rec(r.getAs[Long]("user_id"), r.getAs[String]("email"), r.getAs[Long]("cur_level"),
      r.getAs[Long]("seq"), r.getAs[String]("payload"), ts("timestamp"), ts("last_applied_date"))
  }

  def toLogRow(r: Row): LogRow = LogRow(r.getAs[Long]("event_id"),
    micros(r.getAs[java.sql.Timestamp]("ts")), r.getAs[Long]("user_id"),
    r.getAs[Long]("amount"), r.getAs[String]("kind"), r.getAs[String]("payload"))

  /** Write the initial snapshot as one parquet file per [[Gen.initialSlice]]
    * (key-clustered files), generating each slice on an executor so that the
    * rows never pass through the Spark driver. */
  def writeInitial(spark: SparkSession, seed: Long, n: Int, withAudit: Boolean, dir: Path): Unit = {
    val rows = spark.sparkContext.parallelize(0 until Gen.InitialSlices, Gen.InitialSlices)
      .flatMap(k => Gen.initialSlice(seed, n, k).map(recRow(_, withAudit)))
    spark.createDataFrame(rows, StructType(BaseFields ++ (if (withAudit) AuditFields else Nil)))
      .write.mode("overwrite").parquet(dir.toString)
  }

  /** Write one CDC file to `staging`, returning the single parquet part file
    * (None when Spark wrote no part file for an empty batch). */
  def stageCdc(spark: SparkSession, events: Seq[Event], staging: Path): Option[Path] = {
    spark.createDataFrame(spark.sparkContext.parallelize(events.map(eventRow), 1), CdcSchema)
      .write.mode("overwrite").parquet(staging.toString)
    listFiles(staging).find(_.getFileName.toString.endsWith(".parquet"))
  }

  def listFiles(dir: Path): Seq[Path] =
    if (!Files.isDirectory(dir)) Nil
    else scala.util.Using.resource(Files.list(dir))(_.iterator().asScala.toVector.sorted)

  /** Total bytes of regular files under `root`. */
  def treeBytes(root: Path): Long =
    if (!Files.exists(root)) 0L
    else scala.util.Using.resource(Files.walk(root)) { s =>
      s.iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum
    }

  def deleteTree(root: Path): Unit =
    if (Files.exists(root)) scala.util.Using.resource(Files.walk(root)) { s =>
      s.iterator().asScala.toVector.reverse.foreach(Files.deleteIfExists)
    }
}
