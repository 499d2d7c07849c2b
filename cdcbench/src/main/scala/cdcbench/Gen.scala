package cdcbench

import scala.collection.mutable
import scala.util.Random

/** One row of the CDC-fed table (the reference's `user_data` shape plus a
  * payload column). `ts` and `audit` are the DMS envelope's event time and
  * the job's `last_applied_date`, in epoch microseconds; both are absent on
  * rows that came from the initial load and were never changed since. */
final case class Rec(
    userId: Long, email: String, curLevel: Long, seq: Long, payload: String,
    ts: Option[Long] = None, audit: Option[Long] = None)

/** One DMS change event: the `Op`/`timestamp` envelope around a full row
  * image. */
final case class Event(op: String, ts: Long, rec: Rec)

/** One appended row of the `lake_scan` event log. */
final case class LogRow(
    eventId: Long, tsMicros: Long, userId: Long, amount: Long, kind: String,
    payload: String)

/** Seeded input generator. Every input the engine sees comes from here and
  * depends on nothing but the seed and the sizes. */
object Gen {
  val MicrosPerDay: Long = 86400L * 1000000L
  /** 2023-08-30T00:00:00Z, the day of the reference's demo CDC files. */
  val T0: Long = 1693353600L * 1000000L

  private val Domains = Array("hotmail.com", "yahoo.com", "gmail.com", "icloud.com")
  private val Kinds = Array("play", "purchase", "login", "chat")
  private val Alphabet = "abcdefghijklmnopqrstuvwxyz0123456789"

  def word(rnd: Random, n: Int): String = {
    val sb = new java.lang.StringBuilder(n)
    var i = 0
    while (i < n) { sb.append(Alphabet.charAt(rnd.nextInt(Alphabet.length))); i += 1 }
    sb.toString
  }

  def rec(rnd: Random, id: Long, seq: Long): Rec = Rec(
    id, s"${word(rnd, 12)}@${Domains(rnd.nextInt(Domains.length))}",
    1L + rnd.nextInt(60), seq, word(rnd, 60 + rnd.nextInt(80)))

  /** The initial (full-load) snapshot comes in this many slices of
    * consecutive keys, each generated on its own so that executors can
    * write the slices in parallel. */
  val InitialSlices = 4

  /** Slice `k` of the initial snapshot of keys 1..n, in key order. */
  def initialSlice(seed: Long, n: Int, k: Int): Vector[Rec] = {
    val rnd = new Random(seed * 7919L + 1 + k)
    val lo = n.toLong * k / InitialSlices; val hi = n.toLong * (k + 1) / InitialSlices
    Vector.tabulate((hi - lo).toInt)(i => rec(rnd, lo + i + 1L, 0L))
  }

  /** The initial (full-load) snapshot: keys 1..n in key order. */
  def initialRows(seed: Long, n: Int): Vector[Rec] =
    (0 until InitialSlices).toVector.flatMap(initialSlice(seed, n, _))

  /** How keys of a CDC stream are chosen. `hot`: most events hit the most
    * recent keys (a `hotKeys` window below the newest key); otherwise keys
    * spread uniformly over all keys ever inserted. `strictTies`: the table
    * has a precombine key, so several events of one key may tie on time;
    * without one, a key's tied latest events hold at most one non-`D` row
    * (the engine rejects two tied upserts of one key, as MERGE does).
    * Batch `replayAt` replays the batch before it and batch `emptyAt` is
    * empty: the FIXTURES idempotency and empty-batch cases. */
  final case class Stream(
      hot: Boolean, hotKeys: Int, batchEvents: Int, strictTies: Boolean,
      replayAt: Int, emptyAt: Int)

  /** Stateful CDC batch source: batch `b` is a pure function of the seed and
    * the batches before it. */
  final class CdcSource(seed: Long, initialKeys: Int, cfg: Stream) {
    private val rnd = new Random(seed * 104729L + 17)
    private var nextKey: Long = initialKeys + 1L
    private var seq: Long = 1L
    private val recentlyDeleted = mutable.ArrayBuffer.empty[Long]
    private var previous: Vector[Event] = Vector.empty

    def batch(b: Int): Vector[Event] = {
      val out =
        if (b == cfg.replayAt) previous
        else if (b == cfg.emptyAt) Vector.empty
        else fresh(b)
      previous = out
      out
    }

    private def pickExisting(): Long =
      if (cfg.hot) {
        // skewed towards the newest keys: squaring a uniform draw puts about
        // half of the events on the newest quarter of the window
        val u = rnd.nextDouble()
        math.max(1L, nextKey - 1 - (u * u * cfg.hotKeys).toLong)
      } else 1L + (rnd.nextDouble() * (nextKey - 1)).toLong

    private def fresh(b: Int): Vector[Event] = {
      val base = T0 + (b + 1).toLong * 3600L * 1000000L
      // per key within this batch: latest time, and whether the events at
      // that time hold a D / a non-D row (the tie rule for non-strict tables)
      final class KeyState(var maxTs: Long, var dAtMax: Boolean, var nonDAtMax: Boolean)
      val seen = mutable.LinkedHashMap.empty[Long, KeyState]
      val out = Vector.newBuilder[Event]
      var i = 0
      while (i < cfg.batchEvents) {
        val r = rnd.nextDouble()
        val followUp = seen.nonEmpty && rnd.nextDouble() < 0.2
        val (key, op0) =
          if (followUp) {
            val ks = seen.keysIterator.drop(rnd.nextInt(seen.size)).next()
            (ks, if (rnd.nextDouble() < 0.15) "D" else "U")
          } else if (r < 0.12) { val k = nextKey; nextKey += 1; (k, "I") }
          else if (r < 0.16) (pickExisting(), "D")
          else if (r < 0.17) {
            // D for a key never inserted: a no-op delete
            (nextKey + 1000000L + rnd.nextInt(1000000), "D")
          } else if (r < 0.18 && recentlyDeleted.nonEmpty) {
            // U for a key deleted earlier: an upsert of an absent key inserts
            (recentlyDeleted(rnd.nextInt(recentlyDeleted.size)), "U")
          } else (pickExisting(), "U")
        val ks = seen.get(key)
        val tieAllowed = ks.exists { s =>
          cfg.strictTies || (if (op0 == "D") !s.dAtMax else !s.nonDAtMax)
        }
        val ts = ks match {
          case Some(s) if tieAllowed && rnd.nextDouble() < 0.3 => s.maxTs
          case Some(s) => s.maxTs + 1 + rnd.nextInt(5000)
          // first event of a key: a coarse clock, so different keys tie often
          case None => base + rnd.nextInt(math.max(1, cfg.batchEvents / 2)) * 1000L
        }
        ks match {
          case Some(s) if s.maxTs == ts =>
            if (op0 == "D") s.dAtMax = true else s.nonDAtMax = true
          case Some(s) =>
            s.maxTs = ts; s.dAtMax = op0 == "D"; s.nonDAtMax = op0 != "D"
          case None => seen(key) = new KeyState(ts, op0 == "D", op0 != "D")
        }
        if (op0 == "D") {
          recentlyDeleted += key
          if (recentlyDeleted.size > 4096) recentlyDeleted.remove(0, 2048)
        }
        val row = rec(rnd, key, seq).copy(ts = Some(ts))
        seq += 1
        out += Event(op0, ts, row)
        i += 1
      }
      out.result()
    }
  }

  /** The `lake_scan` event log: `appends` batches of `rowsPerAppend` rows.
    * Append `a` covers `daysPerAppend` consecutive days starting at
    * `(a * 3) % days`, and its `amount`s sit in `[a*1000, a*1000+1000)`, so
    * the stats column skips well and every day holds files of many
    * appends. */
  final case class LogShape(appends: Int, rowsPerAppend: Int, days: Int, daysPerAppend: Int)

  def logAppend(seed: Long, shape: LogShape, a: Int): Vector[LogRow] = {
    val rnd = new Random(seed * 15485863L + a)
    val d0 = (a * 3) % shape.days
    Vector.tabulate(shape.rowsPerAppend) { i =>
      val day = (d0 + i % shape.daysPerAppend) % shape.days
      LogRow(
        eventId = a.toLong * shape.rowsPerAppend + i + 1,
        tsMicros = T0 + day * MicrosPerDay + (rnd.nextDouble() * MicrosPerDay).toLong,
        userId = 1L + rnd.nextInt(50000),
        amount = a * 1000L + rnd.nextInt(1000),
        kind = Kinds(rnd.nextInt(Kinds.length)),
        payload = word(rnd, 40 + rnd.nextInt(100)))
    }
  }
}
