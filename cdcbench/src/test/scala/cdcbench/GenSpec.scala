package cdcbench

import org.scalatest.funsuite.AnyFunSuite

class GenSpec extends AnyFunSuite {
  private val hot = Gen.Stream(hot = true, hotKeys = 300, batchEvents = 400, strictTies = true,
    replayAt = 5, emptyAt = 8)
  private val uniform = hot.copy(hot = false, strictTies = false)

  private def batches(seed: Long, cfg: Gen.Stream, n: Int): Seq[Vector[Event]] = {
    val src = new Gen.CdcSource(seed, 2000, cfg)
    (0 until n).map(src.batch)
  }

  test("the same seed gives the same inputs; another seed does not") {
    assert(Gen.initialRows(7, 500) == Gen.initialRows(7, 500))
    assert(Gen.initialRows(7, 500) != Gen.initialRows(8, 500))
    assert(batches(7, hot, 12) == batches(7, hot, 12))
    assert(batches(7, hot, 12) != batches(8, hot, 12))
    val shape = Gen.LogShape(4, 50, 5, 2)
    assert(Gen.logAppend(7, shape, 3) == Gen.logAppend(7, shape, 3))
    assert(Gen.logAppend(7, shape, 3) != Gen.logAppend(8, shape, 3))
  }

  test("batches cover the FIXTURES cases") {
    val bs = batches(3, hot, 12)
    assert(bs(8).isEmpty, "batch emptyAt is empty")
    assert(bs(5) == bs(4), "batch replayAt replays its predecessor")
    assert(bs.zipWithIndex.forall { case (b, i) => i == 8 || b.nonEmpty }, "no other batch is empty")
    val evs = bs.flatten
    val perKey = evs.groupBy(_.rec.userId)
    assert(perKey.values.exists(_.size > 1), "several events per key")
    assert(perKey.values.exists(es => es.map(_.ts).distinct.size < es.size), "tied times in a key")
    assert(evs.exists(e => e.op == "D" && e.rec.userId > 1000000L), "D for a key never inserted")
    val deleted = evs.filter(_.op == "D").map(_.rec.userId).toSet
    assert(evs.exists(e => e.op == "U" && deleted(e.rec.userId)), "U for a deleted key")
    assert(evs.exists(_.op == "I") && evs.count(_.op == "D") > evs.size / 50)
  }

  test("every run reaches the empty and the replayed batch, in a fixed number of rounds") {
    for (sz <- Seq(Sizes.cow, Sizes.mor, Sizes.tiny); seconds <- Seq(1, 12)) {
      val batches = sz.warmup + sz.rounds(seconds)
      assert(sz.emptyAt < batches && sz.replayAt < batches, s"$sz at $seconds s")
    }
    assert(Sizes.cow.rounds(12) == 4 && Sizes.mor.rounds(12) == 3)
  }

  test("without a precombine key, a key's latest events hold at most one upsert") {
    for (b <- batches(5, uniform, 10); es <- b.groupBy(_.rec.userId).values) {
      val mx = es.map(_.ts).max
      assert(es.count(e => e.ts == mx && e.op != "D") <= 1, es.toString)
    }
  }

  test("hot keys sit near the newest key; uniform keys spread over all") {
    val hotKeys = batches(9, hot, 3).flatten.filter(_.op == "U").map(_.rec.userId)
    val uniKeys = batches(9, uniform, 3).flatten.filter(_.op == "U").map(_.rec.userId)
    assert(hotKeys.count(_ > 1500) > hotKeys.size * 3 / 4)
    assert(uniKeys.count(_ < 1000) > uniKeys.size / 4)
  }
}
