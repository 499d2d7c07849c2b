package cdcbench

import java.nio.file.{Files, Path, Paths}

import graft.pipeline.CdcPipeline
import graft.storage.{CowTable, TableConfig}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** The oracle against the engine on tiny seeds, and whole tiny runs of
  * every workload (each checks every answer against the oracle itself). */
class OracleSpec extends AnyFunSuite with BeforeAndAfterAll {
  private var spark: SparkSession = _
  private var base: Path = _

  override def beforeAll(): Unit = {
    Files.createDirectories(Paths.get(System.getProperty("java.io.tmpdir")))
    base = Files.createTempDirectory("cdcbench-spec")
    spark = Main.session(base, 2)
  }

  override def afterAll(): Unit = {
    spark.stop()
    Harness.deleteTree(base)
  }

  private def dir(name: String): Path = Files.createDirectories(base.resolve(name))

  test("row hashes match Spark's xxhash64, nulls included") {
    val rows = Gen.initialRows(1, 5).zipWithIndex.map { case (r, i) =>
      if (i % 2 == 0) r.copy(ts = Some(1000L * i), audit = None) else r.copy(ts = None, audit = Some(7L))
    }
    val df = spark.createDataFrame(spark.sparkContext.parallelize(rows.map(Harness.recRow(_, true))),
      org.apache.spark.sql.types.StructType(Harness.BaseFields ++ Harness.AuditFields))
    val (cols, audited) = Reads.recCols(df)
    assert(audited)
    val got = df.select(xxhash64(cols: _*)).collect().map(_.getLong(0)).toSeq
    assert(got == rows.map(Oracle.rowHash(_, withAudit = true)))
  }

  test("the oracle agrees with CowTable on a tiny seed") {
    val cfg = TableConfig("t", Seq("user_id"), precombineKey = Some("seq"), maxRecordsPerFile = 100)
    val t = CowTable(spark, dir("agree").toString, cfg)
    val init = Gen.initialRows(2, 400)
    t.create(spark.createDataFrame(spark.sparkContext.parallelize(init.map(Harness.recRow(_, false))),
      org.apache.spark.sql.types.StructType(Harness.BaseFields)))
    var state = init.map(r => r.userId -> r).toMap
    val src = new Gen.CdcSource(2, 400, Gen.Stream(hot = true, hotKeys = 100, batchEvents = 80, strictTies = true,
      replayAt = 3, emptyAt = 4))
    (0 until 6).foreach { b =>
      val evs = src.batch(b)
      val audit = Gen.T0 + b * 1000000L
      val df = spark.createDataFrame(spark.sparkContext.parallelize(evs.map(Harness.eventRow)), Harness.CdcSchema)
      CdcPipeline.applyBatch(t, df, auditTs = lit(Harness.timestamp(audit)))
      state = Oracle.apply(state, evs, strict = true, audit).state
      val got = t.read().collect().map(Harness.toRec).toSet
      assert(got == state.values.toSet, s"batch $b: ${(got -- state.values).take(3)} vs ${(state.values.toSet -- got).take(3)}")
    }
  }

  private def tinyRun(workload: String, trace: Boolean): Run = {
    val tracer = new Tracer(trace)
    tracer.install(spark)
    val r = new Run(spark, tracer, seconds = 1)
    r.values("session_s") = (0.1, "s")
    Main.runWorkload(r, workload, seed = 4, dir(s"$workload-$trace"), Sizes.tiny)
    r
  }

  Main.Workloads.foreach { w =>
    test(s"$w: a tiny run agrees with the oracle and reports every end-to-end metric") {
      val r = tinyRun(w, trace = false)
      assert(r.attempted > 0 && r.failed == 0)
      assert(Report.endToEnd(r).keySet == Report.EndToEnd.toSet)
    }
  }

  test("a traced run reports every per-layer metric and the layer shares") {
    val r = tinyRun("cdc_cow_hot", trace = true)
    r.tracer.drain()
    val tr = r.tracer.snapshot
    assert(tr.spans.exists(_.name == "batch") && tr.jobs.nonEmpty)
    val ls = Report.layers(r, tr, "cdc_cow_hot")
    assert(ls.keys.toSeq == Report.PerLayer.map(_._1))
    assert(ls("pipeline.jobs")._1 > 0 && ls("storage.versions")._1 > 0)
    val detail = Report.layerDetail(r, tr, "cdc_cow_hot")
    assert(detail.exists(_.startsWith("largest module share of batch_p50_s")), detail.mkString("\n"))
    val json = Report.json(correct = true, r.attempted, r.failed, ls)
    assert(json.startsWith("{\"correct\": true") && json.contains("\"pipeline.jobs\""))
  }
}
