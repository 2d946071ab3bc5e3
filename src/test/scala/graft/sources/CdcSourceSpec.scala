package graft.sources

import java.nio.file.Files

import graft.SparkTestSession
import graft.cdc.Checkpoint
import graft.codec.{PgOutput, PgType}
import graft.codec.PgOutput.{Column => C, Relation => R}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** End-to-end DSv2 streaming source over a file-backed WAL feed:
  * fixture transactions stream through `format("pgcapture")`, resume
  * exactly-once from the checkpoint dir, honor publication scoping, and
  * write standby-status acks on commit (A1/A9/A10/A14/A23/A24). */
class CdcSourceSpec extends AnyFunSuite {

  private val rel = R(1, "public", "t1", 'd',
    Seq(C("id", PgType.Int8, isKey = true), C("v", PgType.Int4, isKey = false)))
  private val rel2 = R(2, "public", "audit", 'd',
    Seq(C("id", PgType.Int8, isKey = true)))

  private def tx(lsn: Long, msgs: Array[Byte]*): Seq[Array[Byte]] =
    PgOutput.Encoder.begin(lsn, lsn * 1000, lsn.toInt) +:
      msgs.toSeq :+ PgOutput.Encoder.commit(lsn, lsn, lsn * 1000)

  private def ins(r: R, id: Long, v: Int): Array[Byte] =
    PgOutput.Encoder.insert(r, if (r == rel2) Seq(PgType.encode(PgType.Int8, id))
      else Seq(PgType.encode(PgType.Int8, id), PgType.encode(PgType.Int4, v)))
  private def upd(id: Long, v: Int): Array[Byte] =
    PgOutput.Encoder.update(rel, None,
      Seq(PgType.encode(PgType.Int8, id), PgType.encode(PgType.Int4, v)))
  private def del(id: Long): Array[Byte] =
    PgOutput.Encoder.delete(rel, Seq(PgType.encode(PgType.Int8, id), null))

  private def runStream(walDir: String, ckDir: String,
      tables: Option[String] = None): Seq[(String, String, Long, Long, Int)] =
    runBatches(walDir, ckDir, tables).flatten

  /** (op, table, new id or -1, lsn, seq) of every delivered row. */
  private def idRow(op: String, table: String,
      nf: Map[String, Array[Byte]], lsn: Long, seq: Int) =
    (op, table, nf.get("id").map(d =>
      PgType.decode(PgType.Int8, d).asInstanceOf[Long]).getOrElse(-1L),
      lsn, seq)

  /** Drains the feed under AvailableNow; one entry per micro-batch run,
    * in batch order. */
  private def runBatches(walDir: String, ckDir: String,
      tables: Option[String] = None, opts: Map[String, String] = Map.empty)
      : Seq[Seq[(String, String, Long, Long, Int)]] = {
    val spark = SparkTestSession.spark
    val out = scala.collection.mutable.Buffer.empty[Seq[(String, String, Long, Long, Int)]]
    val reader = spark.readStream.format("pgcapture").option("path", walDir)
      .options(opts)
    tables.foreach(reader.option("tables", _))
    val q = reader.load()
      .writeStream
      .option("checkpointLocation", ckDir)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        out.synchronized {
          out += batch.select("op", "table", "lsn", "seq", "new")
            .collect()
            .map { r =>
              val nf = if (r.isNullAt(4)) Map.empty[String, Array[Byte]]
                else r.getMap[String, Array[Byte]](4).toMap
              idRow(r.getString(0), r.getString(1), nf, r.getLong(2), r.getInt(3))
            }.toSeq
        }
        ()
      }.start()
    q.awaitTermination(60000)
    out.toSeq
  }

  test("capture, resume exactly-once, scoping, ack") {
    val walDir = Files.createTempDirectory("wal").toString
    val ckDir = Files.createTempDirectory("ck").toString

    // segment 1: relation + two txs (insert id=1, insert id=2 + update id=1)
    WalFiles.writeSegment(walDir, 100L,
      PgOutput.Encoder.relation(rel) +: (
        tx(100L, ins(rel, 1, 10)) ++ tx(101L, ins(rel, 2, 20), upd(1, 11))))

    val got1 = runStream(walDir, ckDir)
    assert(got1.map(e => (e._1, e._3, e._4, e._5)) == Seq(
      ("INSERT", 1L, 100L, 1), ("INSERT", 2L, 101L, 1), ("UPDATE", 1L, 101L, 2)))

    // segment 2 appended: delete id=2 + a second table for scoping
    WalFiles.writeSegment(walDir, 102L,
      PgOutput.Encoder.relation(rel2) +:
        (tx(102L, del(2)) ++ tx(103L, ins(rel2, 9, 0))))

    // resume from checkpoint: ONLY the new changes arrive (exactly-once)
    val got2 = runStream(walDir, ckDir)
    assert(got2.map(e => (e._1, e._2, e._3)) == Seq(
      ("DELETE", "t1", -1L), ("INSERT", "audit", 9L)))

    // standby-status ack (A10): the restart commits run-1's batch, so
    // the ack must now cover at least run 1's end checkpoint
    val ack = WalFiles.readAck(walDir)
    assert(ack.isDefined && !Checkpoint(101L, 2).after(ack.get),
      s"ack $ack must be at or beyond (101,2)")

    // fresh checkpoint + publication scoping regex: audit filtered out
    val ck2 = Files.createTempDirectory("ck2").toString
    val got3 = runStream(walDir, ck2, tables = Some("t1"))
    assert(got3.map(_._2).toSet == Set("t1"))
    assert(got3.size == 4)

    // no new WAL → empty batch, stream completes without new rows (A9)
    val got4 = runStream(walDir, ckDir)
    assert(got4.isEmpty)
  }

  test("truncate is first-class; other unknown frames skip — both window-scoped") {
    // r14 ask #1: a 'T' frame is no longer an Unknown skip — it emits
    // one op=TRUNCATE control row per relation, TAKING a seq slot (the
    // checkpoint the next row would have had), so offsets stay dense
    // and WalTail/planBatch/replay agree. Other unknown tags ('O'rigin
    // here) keep the r13 contract: skip + advance, zero rows, counted.
    // Both counters are batch-window-scoped (ADVICE r14): replaying a
    // segment across micro-batches must not recount old frames.
    val walBase = Files.createTempDirectory("walUb").toString
    val walU = Files.createTempDirectory("walUu").toString
    val trunc = PgOutput.Encoder.truncate(Seq(rel.relId), optionBits = 2)
    val orig = PgOutput.Encoder.origin(55L, "src_a")
    val rows1 = tx(100L, ins(rel, 1, 10))
    val rows2 = tx(101L, ins(rel, 2, 20), upd(1, 11))
    WalFiles.writeSegment(walBase, 100L,
      PgOutput.Encoder.relation(rel) +: (rows1 ++ rows2))
    // truncate mid-transaction (between tx 101's I and U frames);
    // origin before tx 101's Begin
    val tx2u = Seq(rows2.head, rows2(1), trunc, rows2(2), rows2(3))
    WalFiles.writeSegment(walU, 100L,
      PgOutput.Encoder.relation(rel) +: (rows1 ++ (orig +: tx2u)))

    val t0 = WalFiles.truncateFrames.get()
    val u0 = WalFiles.unknownFrames.get()
    val base = runStream(walBase, Files.createTempDirectory("ckUb").toString)
    val tBase = WalFiles.truncateFrames.get()
    val ckU = Files.createTempDirectory("ckUu").toString
    val withU = runStream(walU, ckU)

    assert(base.map(e => (e._1, e._3, e._4, e._5)) == Seq(
      ("INSERT", 1L, 100L, 1), ("INSERT", 2L, 101L, 1), ("UPDATE", 1L, 101L, 2)))
    // the truncate row rides the stream at its own checkpoint (101,2);
    // the UPDATE behind it shifts to seq 3 — a seq slot, not a skip
    assert(withU.map(e => (e._1, e._2, e._3, e._4, e._5)) == Seq(
      ("INSERT", "t1", 1L, 100L, 1), ("INSERT", "t1", 2L, 101L, 1),
      ("TRUNCATE", "t1", -1L, 101L, 2), ("UPDATE", "t1", 1L, 101L, 3)))
    assert(tBase == t0, "the clean feed must deliver no truncates")
    assert(WalFiles.truncateFrames.get() - t0 == 1, "one delivered control row")
    assert(WalFiles.unknownFrames.get() - u0 == 1, "one skipped origin frame")

    // window scoping: appending a segment resumes from checkpoint
    // (101,3), whose CONTAINING segment is replayed from its start —
    // the old origin/truncate frames pass under the reader again and
    // must NOT recount (ADVICE r14)
    WalFiles.writeSegment(walU, 102L, tx(102L, ins(rel, 3, 30)))
    val got2 = runStream(walU, ckU)
    assert(got2.map(e => (e._1, e._3)) == Seq(("INSERT", 3L)))
    assert(WalFiles.truncateFrames.get() - t0 == 1, "no recount on replay")
    assert(WalFiles.unknownFrames.get() - u0 == 1, "no recount on replay")

    // the listener gauges read the same mirrors
    val l = new graft.streaming.GraftMetricsListener()
    assert(l.truncateEventsDelivered == WalFiles.truncateFrames.get())
    assert(l.unknownFramesSkipped == WalFiles.unknownFrames.get())
  }

  test("an unknown frame counts once when admission control splits the feed") {
    // the walU shape above at one change per batch: batch 1 = (100,1)
    // stops on tx 101's first row, decoding the origin frame at
    // would-be checkpoint (100,2) on the way — it belongs to batch 2's
    // window and must be counted there only
    val walU = Files.createTempDirectory("walUm").toString
    val rows2 = tx(101L, ins(rel, 2, 20), upd(1, 11))
    WalFiles.writeSegment(walU, 100L,
      PgOutput.Encoder.relation(rel) +: (tx(100L, ins(rel, 1, 10)) ++
        (PgOutput.Encoder.origin(55L, "src_a") +: rows2)))
    val u0 = WalFiles.unknownFrames.get()
    val batches = runBatches(walU, Files.createTempDirectory("ckUm").toString,
      opts = Map("maxChangesPerBatch" -> "1"))
    assert(batches.map(_.map(e => (e._4, e._5))) == Seq(
      Seq((100L, 1)), Seq((101L, 1), (101L, 2))))
    assert(WalFiles.unknownFrames.get() - u0 == 1, "one origin frame, counted once")
  }

  test("the streaming reader decodes O(window) frames per batch, not the rest of the feed") {
    // 20 segments of three txs each; segment k starts at lsn 1000+10k.
    // Every tx ends with an audit row, so a t1-only scope filters out
    // each batch's last in-window rows. Tx 1105 (8 changes, over the
    // cap of 6) begins in segment 10 and commits in segment 11, so one
    // batch ends inside segment 11, on the continuation frames.
    val walDir = Files.createTempDirectory("walW").toString
    var id = 0L
    def txOf(lsn: Long, t1Rows: Int): Seq[Array[Byte]] = {
      val t1 = (1 to t1Rows).map { _ => id += 1; ins(rel, id, id.toInt) }
      id += 1
      tx(lsn, t1 :+ ins(rel2, id, 0): _*)
    }
    var carry = Seq.empty[Array[Byte]]
    (0 until 20).foreach { k =>
      val first = 1000L + 10 * k
      val rels = if (k == 0)
        Seq(PgOutput.Encoder.relation(rel), PgOutput.Encoder.relation(rel2))
      else Seq.empty
      val own = (0 until 3).flatMap(j => txOf(first + j, 1 + j))
      val (tail, next) =
        if (k == 10) txOf(first + 5, 7).splitAt(4) // Begin + 3 rows here
        else (Seq.empty, Seq.empty)
      WalFiles.writeSegment(walDir, first, rels ++ carry ++ own ++ tail)
      carry = next
    }
    val segs = WalFiles.segments(walDir).map(_._2)
    val segFrames = segs.map(WalFiles.readFrames(_).size)
    val expected = WalFiles.replay(segs).map(e => idRow(e.change.op,
      e.change.rel.name, e.change.newTuple.get, e.cp.lsn, e.cp.seq)).toSeq

    Seq(None, Some("t1")).foreach { scope =>
      val f0 = PgWalPartitionReader.framesDecoded.get()
      val batches = runBatches(walDir, Files.createTempDirectory("ckW").toString,
        tables = scope, opts = Map("maxChangesPerBatch" -> "6"))
      val decoded = PgWalPartitionReader.framesDecoded.get() - f0
      assert(batches.flatten == expected.filter(e => scope.forall(_ == e._2)),
        s"scope $scope: delivered rows must equal the feed's replay")
      assert(batches.size >= 10, s"the feed drains in many batches: ${batches.size}")
      assert(decoded <= segFrames.sum + batches.size * segFrames.max,
        s"scope $scope: $decoded frames decoded for a feed of ${segFrames.sum} " +
          s"frames in ${batches.size} batches")
      if (scope.isEmpty) {
        assert(batches.exists(_.lastOption.exists(e => (e._4, e._5) == (1105L, 8))),
          "one batch ends on the spanning tx's continuation")
        assert(batches.forall(_.lastOption.forall(_._2 == "audit")))
      }
    }
  }

  test("envelope rows share per-relation parts and keep map keys sorted") {
    import org.apache.spark.sql.types.{BinaryType, StringType}
    val wide = R(3, "public", "wide", 'd', Seq(C("z", PgType.Int8, isKey = true),
      C("a", PgType.Text, isKey = false), C("m", PgType.Int4, isKey = false)))
    val z = PgType.encode(PgType.Int8, 7L)
    val m = PgType.encode(PgType.Int4, 3)
    val rows = new PgWalRows
    def row(seq: Int, nt: Map[String, Array[Byte]],
        ot: Option[Map[String, Array[Byte]]]) = rows.toRow(WalFiles.WalEvent(
      Checkpoint(7L, seq), 0L, PgOutput.Change("UPDATE", wide, Some(nt), ot)))
    def entries(md: org.apache.spark.sql.catalyst.util.MapData) =
      md.keyArray().toSeq[Any](StringType).map(_.toString)
        .zip(md.valueArray().toSeq[Array[Byte]](BinaryType).map(Option(_).map(_.toSeq)))
    val full = row(1, Map("m" -> m, "z" -> z, "a" -> null), Some(Map("z" -> z)))
    // unchanged TOAST: `a` is absent from the new image
    val toast = row(2, Map("z" -> z, "m" -> m), None)
    assert(entries(full.getMap(3)) ==
      Seq("a" -> None, "m" -> Some(m.toSeq), "z" -> Some(z.toSeq)))
    assert(entries(full.getMap(4)) == Seq("z" -> Some(z.toSeq)))
    assert(entries(toast.getMap(3)) == Seq("m" -> Some(m.toSeq), "z" -> Some(z.toSeq)))
    assert(toast.isNullAt(4))
    assert(full.getMap(5) eq toast.getMap(5), "oids built once per relation")
    assert(full.getArray(9) eq toast.getArray(9), "keys built once per relation")
    assert(full.getArray(9).toSeq[Any](StringType).map(_.toString) == Seq("z"))
    assert(full.getUTF8String(2).toString == "wide")
  }

  test("logical messages are first-class control rows with dense checkpoints (r15)") {
    val walDir = Files.createTempDirectory("walM").toString
    val inTx = PgOutput.Encoder.message(transactional = true, 100L,
      "audit", "mark-a".getBytes("UTF-8"))
    val between = PgOutput.Encoder.message(transactional = false, 101L,
      "ctl", "eof".getBytes("UTF-8"))
    // tx 100: insert, message, insert — the message takes seq 2;
    // the non-transactional one lands between txs at (100, 4)
    WalFiles.writeSegment(walDir, 100L,
      PgOutput.Encoder.relation(rel) +:
        (tx(100L, ins(rel, 1, 10), inTx, ins(rel, 2, 20)) :+ between))
    val got = runStream(walDir, Files.createTempDirectory("ckM").toString)
    assert(got.map(e => (e._1, e._2, e._4, e._5)) == Seq(
      ("INSERT", "t1", 100L, 1), ("MESSAGE", "audit", 100L, 2),
      ("INSERT", "t1", 100L, 3), ("MESSAGE", "ctl", 100L, 4)))
    // prefix routes through the publication-scoping regex like a table
    val scoped = runStream(walDir,
      Files.createTempDirectory("ckM2").toString, tables = Some("audit"))
    assert(scoped.map(_._2) == Seq("audit"))
  }

  test("resume past pruned segments still knows their relations") {
    // Relation declared ONLY in segment 1; the resume checkpoint lands
    // past later segment boundaries, so the reader prunes segment 1 —
    // it must warm decoder state from pruned segments or rows of rel
    // in new segments throw "unknown relation id" (ADVICE r3 medium).
    val walDir = Files.createTempDirectory("walP").toString
    val ckDir = Files.createTempDirectory("ckP").toString
    WalFiles.writeSegment(walDir, 100L,
      PgOutput.Encoder.relation(rel) +: tx(100L, ins(rel, 1, 10)))
    WalFiles.writeSegment(walDir, 101L, tx(101L, ins(rel, 2, 20)))
    val got1 = runStream(walDir, ckDir)
    assert(got1.size == 2)

    // segment 3 references rel but declares nothing; the resumed reader
    // prunes segments 1-2 (checkpoint (101,1) ≥ segment-3 predecessors)
    WalFiles.writeSegment(walDir, 102L, tx(102L, upd(1, 99)))
    val got2 = runStream(walDir, ckDir)
    assert(got2.map(e => (e._1, e._3, e._4)) == Seq(("UPDATE", 1L, 102L)))
  }

  test("maxChangesPerBatch rate-limits batches at tx boundaries") {
    val walDir = Files.createTempDirectory("walR").toString
    val ckDir = Files.createTempDirectory("ckR").toString
    // 4 txs: sizes 1, 3 (one tx, must not split), 1, 1 → with limit 2:
    // batches [tx1], [tx2 (overflows to finish the tx)], [tx3, tx4]
    WalFiles.writeSegment(walDir, 400L,
      PgOutput.Encoder.relation(rel) +: (
        tx(400L, ins(rel, 1, 1)) ++
          tx(401L, ins(rel, 2, 2), ins(rel, 3, 3), ins(rel, 4, 4)) ++
          tx(402L, ins(rel, 5, 5)) ++ tx(403L, ins(rel, 6, 6))))
    val spark = SparkTestSession.spark
    val batches = scala.collection.mutable.Buffer.empty[Seq[Long]]
    // NOTE: Trigger.AvailableNow deliberately ignores read limits
    // (drains in one batch), so rate limiting is exercised under a
    // normal processing-time trigger
    val q = spark.readStream.format("pgcapture").option("path", walDir)
      .option("maxChangesPerBatch", "2").load()
      .writeStream.option("checkpointLocation", ckDir)
      .trigger(org.apache.spark.sql.streaming.Trigger.ProcessingTime("100 milliseconds"))
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        val ls = batch.select("lsn").collect().map(_.getLong(0)).toSeq
        if (ls.nonEmpty) batches.synchronized { batches += ls }
        ()
      }.start()
    val deadline = System.currentTimeMillis() + 60000
    while (batches.synchronized(batches.flatten.size) < 6
        && System.currentTimeMillis() < deadline) Thread.sleep(200)
    q.stop()
    assert(batches.flatten == Seq(400L, 401L, 401L, 401L, 402L, 403L))
    assert(batches.forall(b => b.distinct.size <= 2),
      s"bounded batches: $batches")
    assert(batches.exists(_.count(_ == 401L) == 3),
      s"tx 401 must not split across batches: $batches")
    assert(batches.size >= 2, s"the feed drains over multiple batches: $batches")
  }

  test("ack-driven truncation preserves relations; resume survives (WAL retention)") {
    val walDir = Files.createTempDirectory("walX").toString
    val ckDir = Files.createTempDirectory("ckX").toString
    // relation declared ONLY in segment 100
    WalFiles.writeSegment(walDir, 100L,
      PgOutput.Encoder.relation(rel) +: tx(100L, ins(rel, 1, 10)))
    WalFiles.writeSegment(walDir, 101L, tx(101L, ins(rel, 2, 20)))
    assert(runStream(walDir, ckDir).size == 2)
    // the delivered range is acked (the e2e ack path is covered by the
    // A10 test above; Spark only calls commit() when the NEXT batch is
    // constructed, so stamp it here)
    WalFiles.writeAck(walDir, Checkpoint(101L, 1))
    assert(WalFiles.truncateAcked(walDir) == 1, "segment 100 dropped")
    assert(!Files.exists(java.nio.file.Paths.get(walDir,
      WalFiles.segmentName(100L))))
    assert(Files.exists(WalFiles.relationsPath(walDir)),
      "dropped relation declarations must persist in the sidecar catalog")

    // new WAL references rel, which now exists ONLY in the catalog;
    // a fresh driver + fresh reader must still decode it
    WalFiles.writeSegment(walDir, 102L, tx(102L, upd(1, 99)))
    val got = runStream(walDir, ckDir)
    assert(got.map(e => (e._1, e._3, e._4)) == Seq(("UPDATE", 1L, 102L)))
    // once (102,1) is acked, segment 101 goes the same way — and the
    // catalog keeps working for the rows it already preserved
    WalFiles.writeAck(walDir, Checkpoint(102L, 1))
    assert(WalFiles.truncateAcked(walDir) == 1, "segment 101 dropped after new ack")
  }

  test("batch read: one partition per segment, split-tx stamping, options") {
    val walDir = Files.createTempDirectory("walB").toString
    // relation only in segment 1; a tx SPLIT across segments 2-3 (the
    // boundary case parallel decode must stamp correctly)
    WalFiles.writeSegment(walDir, 200L,
      PgOutput.Encoder.relation(rel) +: tx(200L, ins(rel, 1, 10)))
    val split = tx(201L, ins(rel, 2, 20), ins(rel, 3, 30)) // B, I, I, C
    WalFiles.writeSegment(walDir, 201L, split.take(2)) // B + first I
    WalFiles.writeSegment(walDir, 202L, split.drop(2)) // second I + C

    val spark = SparkTestSession.spark
    val df = spark.read.format("pgcapture").option("path", walDir).load()
    assert(df.rdd.getNumPartitions == 3, "one partition per segment")
    val got = df.select("op", "new", "lsn", "seq", "keys").collect()
      .map { r =>
        val nf = r.getMap[String, Array[Byte]](1)
        (r.getString(0),
          PgType.decode(PgType.Int8, nf("id")).asInstanceOf[Long],
          r.getLong(2), r.getInt(3), r.getSeq[String](4))
      }.sortBy(e => (e._3, e._4))
    assert(got.map(e => (e._1, e._2, e._3, e._4)).toSeq == Seq(
      ("INSERT", 1L, 200L, 1),
      ("INSERT", 2L, 201L, 1),
      // decoded by the partition of segment 3, seeded startSeq=1
      ("INSERT", 3L, 201L, 2)))
    assert(got.forall(_._5 == Seq("id")), "keys column from Relation flags")

    // startLsn gate applies to batch reads too
    val fromLsn = spark.read.format("pgcapture").option("path", walDir)
      .option("startLsn", java.lang.Long.toHexString(201L)).load()
    assert(fromLsn.count() == 2)
  }

  test("batch read with plugin=pglogical: parallel per-segment decode") {
    import graft.codec.PgLogical
    val walDir = Files.createTempDirectory("walPL").toString
    // same shape as the pgoutput case: relation only in segment 1, a
    // tx split across segments 2-3 — the tag-level planner must skip
    // pglogical's flags byte when reading the Begin header, or every
    // boundary stamp is garbage
    def pltx(lsn: Long, msgs: Array[Byte]*): Seq[Array[Byte]] =
      PgLogical.Encoder.begin(lsn, lsn * 1000, lsn.toInt) +:
        msgs.toSeq :+ PgLogical.Encoder.commit(lsn, lsn, lsn * 1000)
    def plins(id: Long, v: Int): Array[Byte] =
      PgLogical.Encoder.insert(rel,
        Seq(PgType.encode(PgType.Int8, id), PgType.encode(PgType.Int4, v)))
    WalFiles.writeSegment(walDir, 500L,
      PgLogical.Encoder.relation(rel) +: pltx(500L, plins(1, 10)))
    val split = pltx(501L, plins(2, 20), plins(3, 30))
    WalFiles.writeSegment(walDir, 501L, split.take(2))
    WalFiles.writeSegment(walDir, 502L, split.drop(2))

    val spark = SparkTestSession.spark
    val df = spark.read.format("pgcapture").option("path", walDir)
      .option("plugin", "pglogical").load()
    assert(df.rdd.getNumPartitions == 3, "one partition per segment")
    val got = df.select("op", "new", "lsn", "seq").collect()
      .map { r =>
        val nf = r.getMap[String, Array[Byte]](1)
        (r.getString(0),
          PgType.decode(PgType.Int8, nf("id")).asInstanceOf[Long],
          r.getLong(2), r.getInt(3))
      }.sortBy(e => (e._3, e._4)).toSeq
    assert(got == Seq(
      ("INSERT", 1L, 500L, 1),
      ("INSERT", 2L, 501L, 1),
      ("INSERT", 3L, 501L, 2)))
  }

  test("truncation never severs a transaction spanning segments") {
    val walDir = Files.createTempDirectory("walS").toString
    WalFiles.writeSegment(walDir, 300L,
      PgOutput.Encoder.relation(rel) +: tx(300L, ins(rel, 1, 1)))
    // tx 301 spans segments: Begin+I in 301, I+Commit in 302
    val split = tx(301L, ins(rel, 2, 2), ins(rel, 3, 3))
    WalFiles.writeSegment(walDir, 301L, split.take(2))
    WalFiles.writeSegment(walDir, 302L, split.drop(2))
    // acked into the continuation: candidate keepFrom is segment 302,
    // but 302 opens mid-tx — dropping 301 would orphan its Begin
    WalFiles.writeAck(walDir, Checkpoint(302L, 0))
    assert(WalFiles.truncateAcked(walDir) == 1,
      "only segment 300 may go; 301 holds the spanning tx's Begin")
    assert(Files.exists(java.nio.file.Paths.get(walDir,
      WalFiles.segmentName(301L))))
    // the kept feed still batch-reads with correct stamps
    val spark = SparkTestSession.spark
    val got = spark.read.format("pgcapture").option("path", walDir).load()
      .select("lsn", "seq").collect().map(r => (r.getLong(0), r.getInt(1))).toSet
    assert(got == Set((301L, 1), (301L, 2)))
  }

  test("admission control is bounded by default; 0 opts out") {
    import org.apache.spark.sql.connector.read.streaming.{ReadLimit, ReadMaxRows}
    def streamFor(props: Map[String, String]) = {
      val m = new java.util.HashMap[String, String]()
      props.foreach { case (k, v) => m.put(k, v) }
      new PgCaptureSource().getTable(PgCaptureSource.schema, Array.empty, m)
        .asInstanceOf[PgCaptureTable]
        .newScanBuilder(org.apache.spark.sql.util.CaseInsensitiveStringMap.empty())
        .build().toMicroBatchStream("ignored")
        .asInstanceOf[PgCaptureMicroBatchStream]
    }
    val dir = Files.createTempDirectory("walD").toString
    // no option → the bounded default (driver-collect OOM guard)
    streamFor(Map("path" -> dir)).getDefaultReadLimit match {
      case mr: ReadMaxRows =>
        assert(mr.maxRows() == PgCaptureSource.DefaultMaxChangesPerBatch)
      case other => fail(s"expected bounded default, got $other")
    }
    // explicit 0 = unbounded (the old default, now opt-in)
    assert(streamFor(Map("path" -> dir, "maxChangesPerBatch" -> "0"))
      .getDefaultReadLimit == ReadLimit.allAvailable())
    // explicit value wins
    streamFor(Map("path" -> dir, "maxChangesPerBatch" -> "7"))
      .getDefaultReadLimit match {
      case mr: ReadMaxRows => assert(mr.maxRows() == 7L)
      case other => fail(s"expected maxRows(7), got $other")
    }
  }

  test("envelope batches convert to typed Dataset[CdcEvent]") {
    val walDir = Files.createTempDirectory("walT").toString
    val ckDir = Files.createTempDirectory("ckE").toString
    WalFiles.writeSegment(walDir, 300L,
      PgOutput.Encoder.relation(rel) +: tx(300L, ins(rel, 3, 33)))
    val spark = SparkTestSession.spark
    var events: Seq[graft.cdc.CdcEvent] = Seq.empty
    val q = spark.readStream.format("pgcapture").option("path", walDir).load()
      .writeStream.option("checkpointLocation", ckDir)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        events = events ++ graft.cdc.CdcEvents.typed(batch).collect()
        ()
      }.start()
    q.awaitTermination(60000)
    assert(events.size == 1)
    val e = events.head
    assert(e.op == "INSERT" && e.table == "t1" && e.lsn == 300L && e.seq == 1)
    assert(PgType.decode(PgType.Int8, e.newFields("id")) == 3L)
    assert(e.oids("v") == PgType.Int4)
  }

  test("NULL vs unchanged-TOAST survives the map representation") {
    val walDir = Files.createTempDirectory("wal2").toString
    val ckDir = Files.createTempDirectory("ckT").toString
    val relT = R(3, "public", "toasty", 'd', Seq(
      C("id", PgType.Int8, isKey = true), C("txt", PgType.Text, isKey = false),
      C("bs", PgType.Bytea, isKey = false)))
    val msgs = PgOutput.Encoder.relation(relT) +: tx(200L,
      PgOutput.Encoder.update(relT, None, Seq(
        PgType.encode(PgType.Int8, 5L), null, PgOutput.Encoder.Toast)))
    WalFiles.writeSegment(walDir, 200L, msgs)

    val spark = SparkTestSession.spark
    var keys: Set[String] = null
    var txtNull = false
    val q = spark.readStream.format("pgcapture").option("path", walDir).load()
      .writeStream.option("checkpointLocation", ckDir)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        batch.collect().foreach { r =>
          val nf = r.getMap[String, Array[Byte]](3)
          keys = nf.keysIterator.toSet
          txtNull = nf("txt") == null
        }
        ()
      }.start()
    q.awaitTermination(60000)
    assert(keys == Set("id", "txt"), "unchanged TOAST must be absent key")
    assert(txtNull, "NULL must be present-with-null")
  }
}
