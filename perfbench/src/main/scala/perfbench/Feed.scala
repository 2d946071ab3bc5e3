package perfbench

import java.security.MessageDigest
import java.time.Instant

import scala.collection.mutable

import graft.codec.{PgOutput, PgType}
import graft.sources.WalFiles

/** Seeded change stream for the CDC workloads, and its encoding into a
  * WAL feed with the library's own encoder (`PgOutput.Encoder`,
  * `PgType.encode`, `WalFiles.writeSegment`).
  *
  * One captured table with typed columns: int8 key, float8, numeric,
  * ~100-byte text, timestamptz. Transactions hold 1-8 changes split
  * 60/30/10 across INSERT/UPDATE/DELETE; updates and deletes hit live
  * keys only, so the generator knows the exact final table state.
  */
object Feed {
  val Rel: PgOutput.Relation = PgOutput.Relation(16384, "public", "items", 'd', Seq(
    PgOutput.Column("id", PgType.Int8, isKey = true),
    PgOutput.Column("price", PgType.Float8, isKey = false),
    PgOutput.Column("amount", PgType.Numeric, isKey = false),
    PgOutput.Column("note", PgType.Text, isKey = false),
    PgOutput.Column("updated_at", PgType.Timestamptz, isKey = false)))

  final case class Row(price: Double, amount: java.math.BigDecimal,
      note: String, updatedUs: Long)

  sealed trait Op { def id: Long }
  final case class Ins(id: Long, row: Row) extends Op
  final case class Upd(id: Long, row: Row) extends Op
  final case class Del(id: Long) extends Op

  /** One source transaction. `lsn` is its final LSN (the checkpoint
    * every change of the transaction carries). */
  final case class Tx(lsn: Long, ops: Array[Op])

  final val FirstLsn = 0x1000000L
  final val LsnStep = 0x100L

  /** Seeded change generator; keeps the live key set and the expected
    * final state of the table. */
  final class Generator(seed: Long) {
    private val rng = new java.util.SplittableRandom(seed)
    private val notes = Array.fill(256) {
      val b = new StringBuilder
      (0 until 90).foreach(_ => b += ('a' + rng.nextInt(26)).toChar)
      b.result()
    }
    private var liveIds = new Array[Long](1024)
    private var liveN = 0
    private val pos = mutable.HashMap.empty[Long, Int]
    val state: mutable.HashMap[Long, Row] = mutable.HashMap.empty
    private var nextId = 1L
    private var txN = 0L
    private var clockUs = 1700000000000000L
    var changes = 0L

    private def row(id: Long): Row = {
      clockUs += 1000
      Row(math.round(rng.nextDouble() * 100000) / 100.0,
        java.math.BigDecimal.valueOf(rng.nextLong(1000000000L), 2),
        notes(rng.nextInt(notes.length)) + f"#$id%09d", clockUs)
    }

    private def insert(): Op = {
      val id = nextId; nextId += 1
      if (liveN == liveIds.length) liveIds = java.util.Arrays.copyOf(liveIds, liveN * 2)
      liveIds(liveN) = id; pos(id) = liveN; liveN += 1
      val r = row(id); state(id) = r
      Ins(id, r)
    }

    private def pick(): Long = liveIds(rng.nextInt(liveN))

    private def remove(id: Long): Unit = {
      val i = pos.remove(id).get
      liveN -= 1
      val last = liveIds(liveN)
      if (i != liveN) { liveIds(i) = last; pos(last) = i }
      state.remove(id); ()
    }

    private def nextLsn(): Long = { txN += 1; FirstLsn + txN * LsnStep }

    /** A transaction of 1-8 changes, 60/30/10 INSERT/UPDATE/DELETE. */
    def tx(): Tx = {
      val n = 1 + rng.nextInt(8)
      val ops = Array.fill[Op](n) {
        val r = rng.nextInt(100)
        if (liveN == 0 || r < 60) insert()
        else if (r < 90) { val id = pick(); val x = row(id); state(id) = x; Upd(id, x) }
        else { val id = pick(); remove(id); Del(id) }
      }
      changes += n
      Tx(nextLsn(), ops)
    }

    /** A bulk-load transaction of `n` inserts. */
    def bulk(n: Int): Tx = {
      changes += n
      Tx(nextLsn(), Array.fill[Op](n)(insert()))
    }

    def nextInt(n: Int): Int = rng.nextInt(n)
    def nextDouble(): Double = rng.nextDouble()
  }

  /** The backlog feed: ordinary transactions up to `changes` changes,
    * plus bulk transactions of 3-5x `cap` changes holding about
    * `bulkShare` of them (at least one), at seeded positions. */
  def backlog(seed: Long, changes: Int, cap: Int, bulkShare: Double): (Generator, Vector[Tx]) = {
    val g = new Generator(seed)
    val bulkSizes = {
      val sizes = mutable.Buffer.empty[Int]
      do sizes += (cap * (3.0 + 2.0 * g.nextDouble())).toInt
      while (sizes.sum < bulkShare * changes)
      sizes.toList
    }
    val ordinary = changes - bulkSizes.sum
    // bulk loads start somewhere in the middle half of the feed
    val at = bulkSizes.map(_ => ordinary / 4 + g.nextInt(ordinary / 2)).sorted
    val out = Vector.newBuilder[Tx]
    var pending = at.zip(bulkSizes)
    var ordinaryDone = 0L
    while (ordinaryDone < ordinary) pending match {
      case (p, n) :: rest if ordinaryDone >= p => out += g.bulk(n); pending = rest
      case _ => val t = g.tx(); ordinaryDone += t.ops.length; out += t
    }
    pending.foreach { case (_, n) => out += g.bulk(n) }
    (g, out.result())
  }

  private def datums(id: Long, r: Row): Seq[Array[Byte]] = Seq(
    PgType.encode(PgType.Int8, id),
    PgType.encode(PgType.Float8, r.price),
    PgType.encode(PgType.Numeric, r.amount),
    PgType.encode(PgType.Text, r.note),
    PgType.encode(PgType.Timestamptz,
      Instant.ofEpochSecond(r.updatedUs / 1000000L, (r.updatedUs % 1000000L) * 1000L)))

  /** Wire frames of one transaction: Begin, one frame per change,
    * Commit. `commitUs` is the Unix-epoch commit time. */
  def frames(tx: Tx, commitUs: Long): Seq[Array[Byte]] = {
    val pgUs = commitUs - PgType.PgEpochMicros
    val out = new mutable.ArrayBuffer[Array[Byte]](tx.ops.length + 2)
    out += PgOutput.Encoder.begin(tx.lsn, pgUs, (tx.lsn / LsnStep).toInt)
    tx.ops.foreach {
      case Ins(id, r) => out += PgOutput.Encoder.insert(Rel, datums(id, r))
      case Upd(id, r) => out += PgOutput.Encoder.update(Rel, None, datums(id, r))
      case Del(id) =>
        out += PgOutput.Encoder.delete(Rel,
          Seq(PgType.encode(PgType.Int8, id), null, null, null, null))
    }
    out += PgOutput.Encoder.commit(tx.lsn, tx.lsn + 1, pgUs)
    out.toSeq
  }

  /** Write `txs` as segments of about `segChanges` changes each, the
    * first one led by the Relation frame. Returns the feed's bytes. */
  def write(dir: String, txs: Seq[Tx], segChanges: Int, withRelation: Boolean,
      commitUs: Tx => Long): Long = {
    var bytes = 0L
    val seg = mutable.ArrayBuffer.empty[Array[Byte]]
    var segFirst = -1L
    var segN = 0
    def flush(): Unit = if (seg.nonEmpty) {
      bytes += seg.map(_.length + 4L).sum
      WalFiles.writeSegment(dir, segFirst, seg.toSeq)
      seg.clear(); segN = 0; segFirst = -1L
    }
    var first = withRelation
    txs.foreach { tx =>
      if (segFirst < 0) segFirst = tx.lsn
      if (first) { seg += PgOutput.Encoder.relation(Rel); first = false }
      seg ++= frames(tx, commitUs(tx))
      segN += tx.ops.length
      if (segN >= segChanges) flush()
    }
    flush()
    bytes
  }

  /** SHA-256 over the wire frames of `txs` with commit times left out
    * (the live feed stamps them from the clock): equal for equal seeds. */
  def digest(txs: Seq[Tx]): String = {
    val md = MessageDigest.getInstance("SHA-256")
    txs.foreach(tx => frames(tx, 0L).foreach(md.update))
    md.digest().take(12).map("%02x".format(_)).mkString
  }
}
