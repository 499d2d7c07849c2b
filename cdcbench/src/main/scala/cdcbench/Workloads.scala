package cdcbench

import java.nio.file.{Files, Path, StandardCopyOption}

import scala.collection.mutable
import scala.util.Random

import graft.pipeline.LakeJob
import graft.storage.{CowTable, TableConfig}
import graft.streaming.CdcStream
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

/** Input sizes and loop shape of one run of a workload. The timed loop
  * runs a fixed number of rounds, `ceil(seconds / roundS)` for the run
  * length given, so every run times the same batches and queries however
  * fast the engine is; `roundS` is a round's nominal time on 4 cores.
  * `warmup` rounds come first. On the CDC workloads they hold the empty
  * batch (`emptyAt`) and, where `warmup > replayAt`, the replayed one. */
final case class Sizes(
    rows: Int, files: Int, batchEvents: Int, hotKeys: Int,
    warmup: Int, emptyAt: Int, replayAt: Int, roundS: Double,
    lookups: Int, purgeEvery: Int, travelBack: Int, log: Gen.LogShape) {
  def rounds(seconds: Int): Int = math.max(1, math.ceil(seconds / roundS).toInt)
}

object Sizes {
  /** `cdc_cow_hot`: 500k rows in 32 key-clustered files, 5k-event batches. */
  val cow: Sizes = Sizes(rows = 500000, files = 32, batchEvents = 5000,
    hotKeys = 20000, warmup = 3, emptyAt = 0, replayAt = 2, roundS = 3.0,
    lookups = 8, purgeEvery = 3, travelBack = 12, log = Gen.LogShape(14, 800, 14, 8))
  /** `cdc_mor_mixed`: 50k rows in 32 files, 1k-event batches, a tenth of
    * the COW sizes: a deletion-vector batch costs seconds more per 10x of
    * data, and a run at the COW sizes would not fit the benchmark's time
    * budget (README). The replay is the first timed round. Deletion
    * vectors are purged after every batch: batches and scans slow down as
    * they pile up, and alike rounds give a steady median. */
  val mor: Sizes = cow.copy(rows = 50000, batchEvents = 1000, warmup = 2, roundS = 4.0,
    purgeEvery = 1)
  /** `lake_scan`: the event log's shape; a round is one query. */
  val lake: Sizes = cow.copy(warmup = 7, roundS = 0.5)

  val standard: Map[String, Sizes] =
    Map("cdc_cow_hot" -> cow, "cdc_mor_mixed" -> mor, "lake_scan" -> lake)

  /** A few seconds of work, for the benchmark's own tests. */
  val tiny: Sizes = Sizes(rows = 2000, files = 4, batchEvents = 200,
    hotKeys = 300, warmup = 0, emptyAt = 3, replayAt = 5, roundS = 0.1,
    lookups = 2, purgeEvery = 4, travelBack = 4, log = Gen.LogShape(6, 60, 5, 2))
}

/** Reads and fingerprints shared by the workloads, all through the public
  * `spark.read.format("graft")` connector. */
object Reads {
  def table(r: Run, root: Path, version: Option[Int] = None): DataFrame = {
    val rd = r.spark.read.format("graft")
    version.fold(rd)(v => rd.option("versionAsOf", v.toLong)).load(root.toString)
  }

  /** (row count, xor of per-row xxhash64): a wide projection over every
    * column, so the scan pays full decode. */
  def fingerprint(df: DataFrame, cols: Seq[org.apache.spark.sql.Column]): DataFrame =
    df.select(xxhash64(cols: _*).as("h")).agg(count(lit(1)), bit_xor(col("h")))

  def recCols(df: DataFrame): (Seq[org.apache.spark.sql.Column], Boolean) = {
    val audit = df.columns.contains("last_applied_date")
    val base = Seq("user_id", "email", "cur_level", "seq", "payload").map(col)
    (if (audit) base ++ Seq(unix_micros(col("timestamp")), unix_micros(col("last_applied_date")))
     else base, audit)
  }

  def pair(rows: Array[Row]): (Long, Long) = (rows(0).getLong(0), rows(0).getLong(1))
}

/** `cdc_cow_hot` (mor = false) and `cdc_mor_mixed` (mor = true): the paper's
  * recurring CDC job, one landed DMS file per round. */
object CdcWorkload {
  import Harness._

  def run(r: Run, work: Path, seed: Long, sz: Sizes, mor: Boolean): Unit = {
    val spark = r.spark
    val perFile = (sz.rows + sz.files - 1) / sz.files
    val cfg =
      if (mor) TableConfig("user_data", Seq("user_id"), maxRecordsPerFile = perFile,
        changeDataFeed = true, deletionVectors = true)
      else TableConfig("user_data", Seq("user_id"), precombineKey = Some("seq"),
        maxRecordsPerFile = perFile)

    // ---- set-up: generate the initial-load zone and build the table
    var init: Vector[Rec] = Vector.empty
    val genRows = secondsOf { init = Gen.initialRows(seed, sz.rows) }
    val fp0 = Oracle.fingerprint(init)(Oracle.rowHash(_, mor))
    r.phase("generated")
    val raw = work.resolve("raw"); val lake = work.resolve("lake")
    val writeRaw = secondsOf(writeInitial(spark, seed, sz.rows, withAudit = mor,
      raw.resolve("initial-load").resolve(cfg.tableName)))
    val load = secondsOf(LakeJob.initialLoad(spark, raw.toString, lake.toString, Seq(cfg)): Unit)
    val got0 = Reads.pair(Reads.fingerprint(Reads.table(r, lake.resolve(cfg.tableName)),
      Reads.recCols(Reads.table(r, lake.resolve(cfg.tableName)))._1).collect())
    r.check("initial load fingerprint")(got0 == fp0, s"engine $got0, oracle $fp0")
    r.phase("build")
    val root = lake.resolve(cfg.tableName)
    val t = CowTable(spark, root.toString, cfg)
    val cdcDir = raw.resolve("cdc-load").resolve(cfg.tableName)
    Files.createDirectories(cdcDir)
    val ckpt = work.resolve("stream-checkpoint")
    val initialPaths = t.manifest(t.currentVersion).files.map(_.path).toSet
    r.check("initial layout")(initialPaths.size >= sz.files / 2,
      s"${initialPaths.size} initial files, expected about ${sz.files}")

    val src = new Gen.CdcSource(seed, sz.rows,
      Gen.Stream(hot = !mor, hotKeys = sz.hotKeys, batchEvents = sz.batchEvents, strictTies = !mor,
        replayAt = sz.replayAt, emptyAt = sz.emptyAt))
    val rounds = sz.rounds(r.seconds)
    var state: Map[Long, Rec] = init.iterator.map(x => x.userId -> x).toMap
    val history = mutable.TreeMap(t.currentVersion -> state)
    var b = 0
    // timed-loop totals; the counts repeat exactly for a seed and run length
    var events = 0L; var landedBytes = 0L; var addedBytes = 0L
    val counts = mutable.LinkedHashMap("storage.files_rewritten" -> 0.0,
      "storage.bytes_written" -> 0.0, "storage.versions" -> 0.0, "storage.dv_files" -> 0.0)
    val pruneRatios = mutable.ArrayBuffer.empty[Double]
    var maint = 0.0
    val cold = mutable.ArrayBuffer.empty[Double]; val warm = mutable.ArrayBuffer.empty[Double]

    def round(i: Int): Unit = {
      val evs = src.batch(b)
      val audit = Gen.T0 + 40L * Gen.MicrosPerDay + b * 1000000L
      val staged = stageCdc(spark, evs, work.resolve("stage").resolve(f"b$b%05d"))
      val fileBytes = staged.map(Files.size).getOrElse(0L)
      val bytes0 = treeBytes(root); val v0 = t.currentVersion
      val terminated = r.tracer.terminatedQueries
      r.timed("batch", if (mor) "streaming" else "pipeline") {
        staged.foreach(p => Files.move(p, cdcDir.resolve(f"20230830-$b%06d.parquet"),
          StandardCopyOption.ATOMIC_MOVE))
        if (mor) CdcStream.runAvailableNow(spark, t, cdcDir.toString, ckpt.toString,
          CdcSchema, auditTs = lit(timestamp(audit)))
        else LakeJob.cdcLoad(spark, raw.toString, lake.toString, Seq(cfg),
          auditTs = lit(timestamp(audit))): Unit
      }
      if (mor && r.tracer.recording) r.tracer.awaitTerminated(terminated + 1)
      val v1 = t.currentVersion
      val applied = Oracle.apply(state, evs, strict = !mor, audit)
      state = applied.state
      history(v1) = state
      val added = treeBytes(root) - bytes0
      // manifest diffs: which files each commit of this round dropped
      val removed = (v0 + 1 to v1).map { v =>
        (t.manifest(v - 1).files.map(_.path).toSet -- t.manifest(v).files.map(_.path)).size
      }.sum
      if (mor) r.check("DV commits rewrite no file")(removed == 0,
        s"round $b: CDC commits v${v0 + 1}..v$v1 dropped $removed files")
      if (i >= 0) {
        events += evs.size; landedBytes += fileBytes; addedBytes += added
        if (v1 > v0) pruneRatios += removed.toDouble / t.manifest(v0).files.size
        counts("storage.files_rewritten") += removed
        counts("storage.bytes_written") += added
        counts("storage.versions") += v1 - v0
        if (i == rounds - 1)
          counts("storage.dv_files") = t.manifest(v1).files.count(_.dvPath.isDefined).toDouble
      }

      // read probe: the keys just changed, then two whole-table fingerprints
      // (one scan a round left the median hanging on too few samples)
      val rnd = new Random(seed * 31 + b)
      val batchKeys = evs.map(_.rec.userId).distinct
      val keys = Seq.fill(sz.lookups)(
        if (batchKeys.nonEmpty) batchKeys(rnd.nextInt(batchKeys.size))
        else 1L + rnd.nextInt(sz.rows))
      keys.foreach { k =>
        val got = r.read("lookup", Reads.table(r, root).filter(col("user_id") === k))(_.collect())(_.length.toLong)
        r.check("lookup")(got.map(toRec).toSeq == state.get(k).toSeq,
          s"key $k at v$v1: engine ${got.mkString(";")}, oracle ${state.get(k)}")
      }
      val (cols, audited) = Reads.recCols(Reads.table(r, root))
      val want = Oracle.fingerprint(state.values)(Oracle.rowHash(_, audited))
      (0 until 2).foreach { _ =>
        val got = r.read("scan", Reads.fingerprint(Reads.table(r, root), cols))(d => Reads.pair(d.collect()))(_ => 1L)
        r.check("table fingerprint")(got == want, s"v$v1: engine $got, oracle $want")
      }

      if (mor) {
        if (v1 > v0) {
          val feed = r.read("feed", r.spark.read.format("graft")
            .option("readChangeFeed", "true").option("startingVersion", (v0 + 1).toLong)
            .option("endingVersion", v1.toLong).load(root.toString))(_.collect())(_.length.toLong)
          val gotCh = feed.toSeq.map(x => Oracle.Change(x.getAs[String]("_change_type"), toRec(x)))
          r.check("change feed")(multiset(gotCh) == multiset(applied.changes),
            s"v${v0 + 1}..v$v1: engine ${gotCh.size} rows, oracle ${applied.changes.size} rows")
        }
        // time travel: a point read at a version well behind the head
        val vt = history.keysIterator.takeWhile(_ <= math.max(1, v1 - sz.travelBack)).toSeq.lastOption
          .getOrElse(history.firstKey)
        val old = history(vt)
        val k = keys.head
        val c0 = System.nanoTime(); t.manifest(vt); val c1 = System.nanoTime(); t.manifest(vt)
        if (i >= 0) { cold += (c1 - c0) / 1e6; warm += (System.nanoTime() - c1) / 1e6 }
        val tr = r.read("travel", Reads.table(r, root, Some(vt)).filter(col("user_id") === k))(_.collect())(_.length.toLong)
        r.check("time travel")(tr.map(toRec).toSeq == old.get(k).toSeq,
          s"key $k at v$vt: engine ${tr.mkString(";")}, oracle ${old.get(k)}")

        // purge after every `purgeEvery`-th batch that carried events (an
        // empty batch leaves no deletion vector to purge)
        if (evs.nonEmpty && (b + 1) % sz.purgeEvery == 0) {
          val vm = t.manifest(t.currentVersion)
          r.check("deletion vectors present")(vm.files.exists(_.dvPath.isDefined),
            s"v${vm.version} carries no deletion vector before purge")
          val s = secondsOf(r.timed("purge", "storage")(t.purgeDeletionVectors(): Unit))
          if (i >= 0) maint += s
          history(t.currentVersion) = state
        }
      }
      b += 1
    }

    val warmup = secondsOf((0 until sz.warmup).foreach(_ => round(-1)))
    val build = writeRaw + (if (mor) load else 0.0)
    r.values("setup_s") = (r.values("session_s")._1 + genRows + build + warmup, "s")
    r.values("setup.build_s") = (build, "s")
    r.values("setup.warmup_s") = (warmup, "s")
    if (!mor) r.values("load_s") = (load, "s")
    r.phase("warm")
    loop(r, rounds)(round)
    r.phase("timed loop done")

    r.values("changes_per_s") = (events / r.times("batch").sum, "events/s")
    r.values("write_amp") = (addedBytes.toDouble / math.max(1L, landedBytes), "ratio")
    if (mor) r.values("maint_s") = (maint, "s")
    counts.foreach { case (k, v) => r.layer(k) = (v, if (k.endsWith("bytes_written")) "bytes" else "count") }
    if (!mor && pruneRatios.nonEmpty) r.layer("storage.prune_ratio") = (Stats.median(pruneRatios.toSeq), "ratio")
    if (cold.nonEmpty) {
      r.layer("storage.manifest_cold_ms") = (Stats.median(cold.toSeq), "ms")
      r.layer("storage.manifest_warm_ms") = (Stats.median(warm.toSeq), "ms")
    }
    if (mor) r.layer("storage.purge_ms") = (maint * 1000, "ms")
  }

  def multiset[A](xs: Seq[A]): Map[A, Int] = xs.groupBy(identity).map { case (k, v) => k -> v.size }

  /** The timed loop: a fixed number of rounds. */
  def loop(r: Run, rounds: Int)(round: Int => Unit): Unit = {
    r.measuring = true
    (0 until rounds).foreach { i =>
      r.tracer.round = i
      r.tracer.active = true
      round(i)
    }
    r.tracer.active = false
    r.measuring = false
  }
}

/** `lake_scan`: a read-only mix over an append-only, day-partitioned event
  * log built through the DSv2 writer. */
object LakeScanWorkload {
  import Harness._

  val CheckpointMinFiles = 100

  def run(r: Run, work: Path, seed: Long, sz: Sizes): Unit = {
    val spark = r.spark
    val shape = sz.log
    var appends: Vector[Vector[LogRow]] = Vector.empty
    val gen = secondsOf { appends = Vector.tabulate(shape.appends)(a => Gen.logAppend(seed, shape, a)) }
    val all = appends.flatten
    val root = work.resolve("lake").resolve("events")
    // the engine externalizes a manifest's file list as a parquet checkpoint
    // from 512 files on; the log here has 112, so lower the threshold to keep
    // that planning path (checkpoint write, pruned cold read) in the mix
    spark.conf.set("graft.parquetCheckpointMinFiles", CheckpointMinFiles.toString)
    val t = CowTable(spark, root.toString, TableConfig("events", Seq("event_id"),
      partitionSpec = Some("day(ts)"), statsColumns = Seq("amount")))

    // ---- build: CREATE TABLE, then one small append per batch; each append
    // is one commit through the connector's writer (a "batch" sample)
    val versionRows = mutable.TreeMap.empty[Int, Int] // version -> appends visible
    val build = secondsOf {
      def frame(rows: Vector[LogRow]): DataFrame =
        spark.createDataFrame(spark.sparkContext.parallelize(rows.map(logRow), 1), LogSchema)
      // the first batch creates the table (hidden day(ts) partitioning and
      // the stats column are table properties); the rest are connector
      // appends, which carry the generated partition column the engine
      // recomputes from `ts` inside the write
      t.create(frame(appends.head))
      versionRows(t.currentVersion) = 1
      r.measuring = true
      r.tracer.active = true
      appends.zipWithIndex.drop(1).foreach { case (rows, a) =>
        val df = frame(rows).withColumn("ts_day", to_date(col("ts")))
        r.timed("batch", "sources")(df.write.format("graft").mode("append").save(root.toString))
        versionRows(t.currentVersion) = a + 1
      }
      r.tracer.active = false
      r.measuring = false
    }
    val head = versionRows.lastKey
    val nFiles = t.manifest(head).files.size
    r.check("event log shape")(nFiles >= CheckpointMinFiles || shape.appends < 10,
      s"only $nFiles files; the log must take the parquet-checkpoint path")
    val logCols = Seq(col("event_id"), unix_micros(col("ts")), col("user_id"), col("amount"),
      col("kind"), col("payload"))
    val fpAll = Oracle.fingerprint(all)(Oracle.logHash)

    // ---- the seeded query mix
    val byDay = all.groupBy(x => (x.tsMicros - Gen.T0) / Gen.MicrosPerDay)
    // a fixed cycle of query kinds (the warm-up runs it once); the
    // parameters come from the seed
    val cycle = Vector("lookup", "scan", "day", "lookup", "range", "scan", "travel")
    val rnd = new Random(seed * 131 + 7)
    def query(q: Int): Unit = {
      val kind = cycle(q % cycle.size)
      if (kind == "lookup") {
        val row = all(rnd.nextInt(all.size))
        val got = r.read("lookup", Reads.table(r, root).filter(col("event_id") === row.eventId)
          .select("event_id", "ts", "user_id", "amount", "kind", "payload"))(_.collect())(_.length.toLong)
        r.check("lookup")(got.map(toLogRow).toSeq == Seq(row), s"event ${row.eventId}: ${got.mkString(";")}")
      } else if (kind == "day") {
        val d = rnd.nextInt(shape.days).toLong
        val lo = Gen.T0 + d * Gen.MicrosPerDay
        val got = r.read("day", Reads.table(r, root)
          .filter(col("ts") >= timestamp(lo) && col("ts") < timestamp(lo + Gen.MicrosPerDay))
          .agg(count(lit(1)), coalesce(sum("amount"), lit(0L)), coalesce(sum(length(col("payload"))), lit(0L))))(_.collect())(_ => 1L)
        val rows = byDay.getOrElse(d, Vector.empty)
        val want = (rows.size.toLong, rows.map(_.amount).sum, rows.map(_.payload.length.toLong).sum)
        r.check("day aggregate")((got(0).getLong(0), got(0).getLong(1), got(0).getLong(2)) == want,
          s"day $d: ${got(0)} vs $want")
      } else if (kind == "range") {
        val lo = rnd.nextInt(shape.appends * 1000).toLong; val hi = lo + 2500
        val got = r.read("range", Reads.table(r, root).filter(col("amount").between(lo, hi))
          .agg(count(lit(1)), coalesce(sum(length(col("payload"))), lit(0L))))(_.collect())(_ => 1L)
        val rows = all.filter(x => x.amount >= lo && x.amount <= hi)
        val want = (rows.size.toLong, rows.map(_.payload.length.toLong).sum)
        r.check("range aggregate")((got(0).getLong(0), got(0).getLong(1)) == want,
          s"amount [$lo, $hi]: ${got(0)} vs $want")
      } else if (kind == "scan") {
        val got = r.read("scan", Reads.fingerprint(Reads.table(r, root), logCols))(d => Reads.pair(d.collect()))(_ => 1L)
        r.check("scan fingerprint")(got == fpAll, s"engine $got, oracle $fpAll")
      } else {
        // a point read at an old version: the row exists there only if its
        // append had landed
        val (v, visible) = versionRows.toSeq(rnd.nextInt(versionRows.size))
        val row = all(rnd.nextInt(all.size))
        val c0 = System.nanoTime(); t.manifest(v)
        val c1 = System.nanoTime(); t.manifest(v)
        if (r.measuring) {
          r.sample("manifest_cold", (c1 - c0) / 1e9)
          r.sample("manifest_warm", (System.nanoTime() - c1) / 1e9)
        }
        val got = r.read("travel", Reads.table(r, root, Some(v)).filter(col("event_id") === row.eventId)
          .select("event_id", "ts", "user_id", "amount", "kind", "payload"))(_.collect())(_.length.toLong)
        val want = if ((row.eventId - 1) / shape.rowsPerAppend < visible) Seq(row) else Nil
        r.check("time travel")(got.map(toLogRow).toSeq == want, s"event ${row.eventId} at v$v: ${got.mkString(";")}")
      }
    }
    val warmup = secondsOf((0 until sz.warmup).foreach(query))
    r.values("setup_s") = (r.values("session_s")._1 + gen + build + warmup, "s")
    r.values("setup.build_s") = (build, "s")
    r.values("setup.warmup_s") = (warmup, "s")
    r.phase("warm")
    CdcWorkload.loop(r, sz.rounds(r.seconds))(query)
    r.phase("timed loop done")
    r.layer("storage.versions") = (head.toDouble, "count")
    r.layer("storage.bytes_written") = (treeBytes(root).toDouble, "bytes")
    r.layer("storage.files") = (nFiles.toDouble, "count")
    r.layer("storage.manifest_cold_ms") = (Stats.median(r.times("manifest_cold")) * 1000, "ms")
    r.layer("storage.manifest_warm_ms") = (Stats.median(r.times("manifest_warm")) * 1000, "ms")
  }
}
