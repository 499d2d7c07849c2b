package cdcbench

import org.apache.spark.sql.catalyst.expressions.XXH64
import org.apache.spark.unsafe.Platform

/** Plain-Scala model of what the CDC job must produce, independent of the
  * engine: latest event per key, upserts before deletes (the reference's
  * statement order), and the change rows each commit should emit. */
object Oracle {

  /** A change-feed row: `_change_type` plus the row image. */
  final case class Change(kind: String, rec: Rec)

  final case class Applied(
      state: Map[Long, Rec], upserts: Int, deletes: Int, changes: Vector[Change])

  /** Apply one CDC batch. `strict`: the table has the precombine key `seq`,
    * so each key keeps exactly its (latest time, highest seq) event;
    * otherwise every event at the key's latest time survives — a surviving
    * D removes the key even when a tied upsert survived beside it. */
  def apply(state: Map[Long, Rec], events: Seq[Event], strict: Boolean,
      audit: Long): Applied = {
    val latest: Seq[Seq[Event]] = events.groupBy(_.rec.userId).values.toSeq.map { es =>
      val mx = es.map(_.ts).max
      val top = es.filter(_.ts == mx)
      if (strict) Seq(top.maxBy(_.rec.seq)) else top
    }
    val ups = latest.flatMap(_.filter(e => e.op == "I" || e.op == "U"))
    val dels = latest.flatMap(_.filter(_.op == "D")).map(_.rec.userId)
    var s = state
    val ch = Vector.newBuilder[Change]
    ups.foreach { e =>
      val now = e.rec.copy(audit = Some(audit))
      s.get(now.userId) match {
        case Some(old) =>
          ch += Change("update_preimage", old); ch += Change("update_postimage", now)
        case None => ch += Change("insert", now)
      }
      s = s.updated(now.userId, now)
    }
    dels.foreach { k =>
      s.get(k).foreach(old => ch += Change("delete", old))
      s = s - k
    }
    Applied(s, ups.size, dels.size, ch.result())
  }

  /** Spark's `xxhash64` over the table's columns in [[Fingerprint.Columns]]
    * order (timestamps as epoch micros; a null leaves the hash unchanged, as
    * Spark's does), so engine and oracle fingerprints compare exactly. */
  def rowHash(r: Rec, withAudit: Boolean): Long = {
    var h = 42L
    h = XXH64.hashLong(r.userId, h)
    h = str(r.email, h)
    h = XXH64.hashLong(r.curLevel, h)
    h = XXH64.hashLong(r.seq, h)
    h = str(r.payload, h)
    if (withAudit) {
      r.ts.foreach(t => h = XXH64.hashLong(t, h))
      r.audit.foreach(t => h = XXH64.hashLong(t, h))
    }
    h
  }

  def logHash(r: LogRow): Long = {
    var h = 42L
    h = XXH64.hashLong(r.eventId, h)
    h = XXH64.hashLong(r.tsMicros, h)
    h = XXH64.hashLong(r.userId, h)
    h = XXH64.hashLong(r.amount, h)
    h = str(r.kind, h)
    str(r.payload, h)
  }

  private def str(s: String, seed: Long): Long = {
    val b = s.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    XXH64.hashUnsafeBytes(b, Platform.BYTE_ARRAY_OFFSET, b.length, seed)
  }

  /** Order-independent fingerprint of a whole table: (row count, xor of row
    * hashes). Rows are key-unique, so no two equal hashes cancel. */
  def fingerprint[A](rows: Iterable[A])(hash: A => Long): (Long, Long) =
    rows.foldLeft((0L, 0L)) { case ((n, x), r) => (n + 1, x ^ hash(r)) }
}
