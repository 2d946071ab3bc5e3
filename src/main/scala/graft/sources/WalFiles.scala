package graft.sources

import java.io.{BufferedInputStream, BufferedOutputStream, FileInputStream, FileOutputStream}
import java.nio.file.{Files, Path, Paths}

import graft.cdc.Checkpoint
import graft.codec.{BytesReader, BytesWriter, PgOutput, PgType}

/** File-backed WAL feed for the pgcapture streaming source.
  *
  * Layout mirrors PostgreSQL's WAL segment naming so segment pruning
  * works the same way a replication client's restart_lsn does: each
  * segment file `wal-<16-hex-lsn>.seg` is named by the LSN of its
  * first transaction, and frames inside are `[u32 length][pgoutput
  * message bytes]`. A reader of the window `(start, end]` bounds its
  * work at both ends:
  *  - start: it skips every segment whose successor starts at or below
  *    `start`, replays the containing segment from its first frame,
  *    and drops already-seen messages with the consistency-gate filter
  *    — the reference's resume path (pkg/source/pulsar.go:122-148
  *    gate; pkg/source/postgres.go:51-163 slot restart);
  *  - end: it stops at the first event whose checkpoint is after
  *    `end`, so no frame past that event is decoded and no later
  *    segment is read. The stop is event-driven, never by segment
  *    name: a segment may open with the continuation frames of a
  *    transaction whose Begin lives in the previous segment (see
  *    [[truncateAcked]]), so a segment named above `end.lsn` can
  *    still hold rows at or below `end`.
  *
  * The sandbox has no live PostgreSQL, so this is the capture feed the
  * DSv2 source reads; against a real server the same MicroBatchStream
  * would wrap a replication connection instead of segment files.
  */
object WalFiles {

  def segmentName(firstLsn: Long): String =
    f"wal-$firstLsn%016x.seg"

  /** Append one segment of framed messages. Segments are write-once
    * (the tail's incremental contract); `overwrite = true` is for
    * DETERMINISTIC producers running inside Spark tasks, where a retry
    * or speculative attempt re-writes identical bytes and must land as
    * success, not FileAlreadyExistsException. The tmp name is unique
    * per attempt so concurrent attempts never race on it. */
  def writeSegment(dir: String, firstLsn: Long,
      messages: Seq[Array[Byte]], overwrite: Boolean = false): Path = {
    Files.createDirectories(Paths.get(dir))
    val tmp = Paths.get(dir,
      s".tmp-${java.util.UUID.randomUUID()}-${segmentName(firstLsn)}")
    val out = new BufferedOutputStream(new FileOutputStream(tmp.toFile))
    try messages.foreach { m =>
      val w = new BytesWriter().int32(m.length).raw(m)
      out.write(w.result())
    } finally out.close()
    val fin = Paths.get(dir, segmentName(firstLsn))
    if (overwrite)
      Files.move(tmp, fin, java.nio.file.StandardCopyOption.ATOMIC_MOVE,
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    else Files.move(tmp, fin, java.nio.file.StandardCopyOption.ATOMIC_MOVE)
    fin
  }

  /** Segment files in LSN order, with their starting LSN. */
  def segments(dir: String): Seq[(Long, Path)] = {
    val d = Paths.get(dir)
    if (!Files.isDirectory(d)) return Seq.empty
    import scala.jdk.CollectionConverters._
    Files.list(d).iterator().asScala
      .filter(p => p.getFileName.toString.matches("wal-[0-9a-f]{16}\\.seg"))
      .map { p =>
        val hex = p.getFileName.toString.stripPrefix("wal-").stripSuffix(".seg")
        (java.lang.Long.parseUnsignedLong(hex, 16), p)
      }
      .toSeq.sortBy { case (lsn, _) => lsn ^ Long.MinValue } // unsigned order
  }

  /** Read raw frames of one segment. */
  def readFrames(p: Path): Iterator[Array[Byte]] = {
    val bytes = Files.readAllBytes(p)
    new Iterator[Array[Byte]] {
      private val r = new BytesReader(bytes)
      def hasNext: Boolean = r.remaining >= 4
      def next(): Array[Byte] = r.bytes(r.int32())
    }
  }

  /** One decoded change event stamped with its checkpoint. */
  final case class WalEvent(cp: Checkpoint, commitTimeUs: Long,
      change: PgOutput.Change)

  /** Synthetic relation carrying an op=MESSAGE control row: table =
    * the message prefix (routable by the tables regex), columns typed
    * so the envelope's oids map decodes the image downstream. */
  private def messageRel(prefix: String): PgOutput.Relation =
    PgOutput.Relation(0, "", prefix, 'n', Seq(
      PgOutput.Column("content", PgType.Bytea, isKey = false),
      PgOutput.Column("transactional", PgType.Bool, isKey = false),
      PgOutput.Column("message_lsn", PgType.Int8, isKey = false)))

  /** Per-reader tally of the decode path's non-row frames. `unknowns`
    * are frames the decoder intentionally skips (the Unknown contract,
    * r13 ask #4: skip, keep (lsn, seq) exactly as if the frame were
    * absent, never throw, never emit a phantom row — never drop
    * SILENTLY): 'O'rigin, 'Y' type, 'M'essage, PG14 streaming frames.
    * `truncates` counts DELIVERED op=TRUNCATE control rows — truncate
    * is first-class since r15 (the decoder promotes 'T' to
    * [[PgOutput.Truncate]]; the reader emits one control row per
    * relation), so the figure is batch-window-scoped by the reader's
    * checkpoint filter, not a per-replay-pass frame count. Each reader
    * reports its tally as DSv2 custom task metrics (Spark sums them
    * across executors into the scan node's metrics); the JVM-level
    * [[truncateFrames]]/[[unknownFrames]] mirror feeds the
    * GraftMetricsListener gauge. `frames` counts every frame the
    * reader's replay decoded, the figure behind the O(window) read
    * contract. */
  final class SkipTally {
    var truncates: Long = 0L
    var unknowns: Long = 0L
    var frames: Long = 0L
  }
  /** JVM-level counters (per-executor on a cluster — the cluster-wide
    * aggregate is the scan's custom metric; this mirror is the
    * driver-visible gauge in local mode and a per-executor log signal
    * otherwise). [[truncateFrames]] counts delivered truncate control
    * rows; [[unknownFrames]] counts skipped unknown frames, scoped to
    * the batch window via `tallyFrom`/`tallyTo`: a frame replayed
    * across micro-batches must not be recounted. */
  val truncateFrames = new java.util.concurrent.atomic.AtomicLong
  val unknownFrames = new java.util.concurrent.atomic.AtomicLong

  /** Replay a segment list into checkpoint-stamped change events,
    * tracking (lsn, seq) the way the reference's fetch loop does
    * (pkg/source/postgres.go:165-248): Begin sets the transaction LSN,
    * seq increments per message within the transaction. A Truncate
    * frame fans out to one op=TRUNCATE control row per affected
    * relation, each taking a seq slot (so checkpoints stay dense and
    * WalTail/planBatch agree on offsets).
    *
    * `tallyFrom`/`tallyTo` window the unknown-frame count to
    * `(tallyFrom, tallyTo]`: a reader resuming mid-segment replays
    * already-delivered frames, and one that stops at its batch end
    * still decodes the frames just before the first event past it —
    * counting either again in the neighbouring micro-batch overstates
    * the gauge. Every frame decoded is counted in `tally.frames`. */
  def replay(segs: Seq[Path],
      decoder: PgOutput.WireDecoder = new PgOutput.Decoder,
      startLsn: Long = 0L, startSeq: Int = 0,
      startCommitUs: Long = 0L, tally: SkipTally = null,
      tallyFrom: Checkpoint = Checkpoint.Zero,
      tallyTo: Checkpoint = Checkpoint.Max): Iterator[WalEvent] = {
    var lsn = startLsn
    var seq = startSeq
    var commitUs = startCommitUs
    segs.iterator.flatMap(readFrames).flatMap { frame =>
      if (tally != null) tally.frames += 1
      decoder.decode(frame) match {
        case PgOutput.Begin(finalLsn, ts, _) =>
          lsn = finalLsn; seq = 0; commitUs = ts; None
        case c: PgOutput.Change =>
          seq += 1
          Some(WalEvent(Checkpoint(lsn, seq), commitUs, c))
        case PgOutput.Truncate(rels, _, _) =>
          // first-class control rows, one per relation (r14 ask #1);
          // cascade is already explicit in the relid fan-out and
          // restart-identity is a sequence concern — neither needs to
          // ride the envelope
          rels.map { rel =>
            seq += 1
            WalEvent(Checkpoint(lsn, seq), commitUs,
              PgOutput.Change("TRUNCATE", rel, None, None))
          }
        case PgOutput.LogicalMessage(txn, msgLsn, prefix, content) =>
          // first-class op=MESSAGE control row (r15):
          // pg_logical_emit_message payloads surface in the envelope
          // with table = the message prefix (so publication scoping
          // regexes route them) and a typed new-image carrying the
          // content, the transactional flag, and the frame's own WAL
          // lsn. Takes a seq slot like every delivered row; a
          // non-transactional message between transactions stamps at
          // the last transaction's (lsn, seq+1) — monotone and dense.
          seq += 1
          Some(WalEvent(Checkpoint(lsn, seq), commitUs,
            PgOutput.Change("MESSAGE", messageRel(prefix), Some(Map(
              "content" -> content,
              "transactional" -> PgType.encode(PgType.Bool, txn),
              "message_lsn" -> PgType.encode(PgType.Int8, msgLsn))),
              None)))
        case PgOutput.Unknown(_) =>
          // skip + advance, never throw, zero rows (r13 ask #4) — and
          // counted only inside the batch window: the frame sits at
          // would-be checkpoint (lsn, seq+1), so a tx fully delivered
          // before `tallyFrom` never recounts on replay, and a frame
          // past `tallyTo` is left to the batch that delivers it
          val cp = Checkpoint(lsn, seq + 1)
          if (cp.after(tallyFrom) && !cp.after(tallyTo)) {
            unknownFrames.incrementAndGet()
            if (tally != null) tally.unknowns += 1
          }
          None
        case _ => None // Commit / Relation advance no checkpoint
      }
    }
  }

  /** Per-segment plan for a PARALLEL batch decode of the feed
    * (`spark.read.format("pgcapture")`): the replay state at the
    * segment's boundary plus every Relation frame seen before it, so
    * each executor decodes ONLY its own segment's bytes. The driver
    * derives the states with a tag-level scan — frame tags and Begin
    * headers only, no tuple decode. Both wire formats share the tag
    * alphabet ('B' begin, 'R' relation, I/U/D rows — seq advances once
    * per row frame, exactly as [[replay]] does); the only layout
    * difference at plan level is pglogical's flags byte between the
    * Begin tag and its i64 finalLsn + i64 commitTs header
    * (reference pkg/decode/pglogical.go:43-75 vs pgoutput.go); a
    * pgoutput 'T' frame advances seq by its relid count (one control
    * row per relation in replay). */
  final case class SegPlan(path: String, startLsn: Long, startSeq: Int,
      startCommitUs: Long, relFrames: Seq[Array[Byte]])

  def planBatch(dir: String, plugin: String = "pgoutput"): Seq[SegPlan] = {
    val flagsByte = plugin != null && plugin.equalsIgnoreCase("pglogical")
    var lsn = 0L; var seq = 0; var cus = 0L
    val rels = scala.collection.mutable.Buffer.empty[Array[Byte]]
    if (Files.exists(relationsPath(dir)))
      rels ++= readFrames(relationsPath(dir))
    segments(dir).map { case (_, p) =>
      val plan = SegPlan(p.toString, lsn, seq, cus, rels.toSeq)
      readFrames(p).foreach { f =>
        if (f.nonEmpty) f(0).toChar match {
          case 'B' =>
            val r = new BytesReader(f)
            r.byte()
            if (flagsByte) r.byte()
            lsn = r.int64(); cus = r.int64(); seq = 0
          case 'I' | 'U' | 'D' => seq += 1
          case 'T' if !flagsByte =>
            // pgoutput Truncate fans out one control row per relid
            // (replay contract); nrels is the Int32 after the tag.
            // pglogical has no top-level 'T' message — its decoder
            // would classify one as Unknown (zero rows), so only the
            // pgoutput plan advances seq here.
            val r = new BytesReader(f)
            r.byte()
            seq += r.int32()
          case 'M' if !flagsByte =>
            // pgoutput logical message → one op=MESSAGE control row
            // (pglogical classifies 'M' as Unknown: zero rows)
            seq += 1
          case 'R' => rels += f
          case _ => ()
        }
      }
      plan
    }
  }

  /** Decoder for a plugin name (source option `plugin`, A2/A3). */
  def decoderFor(plugin: String): PgOutput.WireDecoder =
    if (plugin != null && plugin.equalsIgnoreCase("pglogical"))
      new graft.codec.PgLogical.Decoder()
    else new PgOutput.Decoder

  // Per-segment Relation-frame cache: segments are write-once (atomic
  // move), so their 'R' frames are immutable — extract them once per
  // JVM (per executor on a cluster) instead of re-reading every pruned
  // segment's bytes in every batch's reader (r4 ADVICE: reader-side
  // I/O must not stay O(total feed) after the driver side went
  // incremental). Entries are tiny (a few schema frames per segment).
  private val relFrames =
    new java.util.concurrent.ConcurrentHashMap[Path, Array[Array[Byte]]]()
  /** Cache misses = segments actually scanned (instrumentation). */
  val relScans = new java.util.concurrent.atomic.AtomicLong

  /** Decode ONLY Relation ('R') frames of `segs` into `decoder` — the
    * state-only replay a resumed reader needs: its segment pruning may
    * drop segments that declared relations still referenced by later
    * rows (both wire formats tag relation messages with a leading 'R').
    * Segment bytes are read at most once per JVM; warm calls replay the
    * cached frames (bounded by table count, not feed size). */
  def warmRelations(segs: Seq[Path], decoder: PgOutput.WireDecoder): Unit =
    segs.foreach { p =>
      val frames = relFrames.computeIfAbsent(p, { path =>
        relScans.incrementAndGet()
        readFrames(path).filter(f => f.nonEmpty && f(0) == 'R').toArray
      })
      if (relFrames.size > 8192) relFrames.clear() // stream-lifetime bound
      frames.foreach(decoder.decode)
    }

  /** Sidecar relation catalog: raw 'R' frames preserved from truncated
    * segments, replayed into a decoder before any segment bytes. */
  def relationsPath(dir: String): Path = Paths.get(dir, "_relations.seg")

  /** Feed the preserved relation catalog (if any) into `decoder` —
    * REQUIRED before decoding a feed whose history was truncated:
    * relations are declared once per recorded stream, and the only copy
    * may live in a dropped segment. */
  def warmCatalog(dir: String, decoder: PgOutput.WireDecoder): Unit = {
    val p = relationsPath(dir)
    if (Files.exists(p)) readFrames(p).foreach(decoder.decode)
  }

  /** Ack-driven WAL retention (the recycling a standby-status ack
    * enables — reference: the replication slot's restart_lsn advancing
    * frees server WAL, pkg/source/postgres.go:250-275): delete every
    * segment STRICTLY below the one containing the acked checkpoint,
    * preserving their Relation frames in the sidecar catalog first so
    * a later resume can still decode rows of relations declared only
    * in dropped history. Returns the number of segments dropped.
    * Single-writer maintenance op (run it where the producer runs). */
  def truncateAcked(dir: String): Int = readAck(dir) match {
    case None => 0
    case Some(cp) =>
      val all = segments(dir)
      var keepFrom = all.lastIndexWhere { case (first, _) =>
        java.lang.Long.compareUnsigned(first, cp.lsn) <= 0
      }
      // never sever a transaction: if the first kept segment does not
      // begin with a Begin frame, its opening rows continue a tx whose
      // Begin lives in an earlier segment — dropping that segment would
      // make later replays misstamp the continuation (lsn 0, epoch
      // commit_ts). Walk back until the boundary is a tx boundary.
      def startsAtTx(p: Path): Boolean =
        readFrames(p)
          .find(f => f.nonEmpty && "BIUDCTM".indexOf(f(0).toChar) >= 0)
          .forall(_(0) == 'B')
      while (keepFrom > 0 && !startsAtTx(all(keepFrom)._2)) keepFrom -= 1
      if (keepFrom <= 0) return 0
      val drop = all.take(keepFrom).map(_._2)
      // preserve relation declarations before deleting bytes
      val rFrames = drop.iterator.flatMap(readFrames)
        .filter(f => f.nonEmpty && f(0) == 'R').toSeq
      if (rFrames.nonEmpty) {
        val keep =
          if (Files.exists(relationsPath(dir)))
            readFrames(relationsPath(dir)).toSeq
          else Seq.empty
        val tmp = Paths.get(dir, ".tmp-relations")
        val out = new BufferedOutputStream(new FileOutputStream(tmp.toFile))
        try (keep ++ rFrames).foreach { f =>
          out.write(new BytesWriter().int32(f.length).raw(f).result())
        } finally out.close()
        Files.move(tmp, relationsPath(dir),
          java.nio.file.StandardCopyOption.ATOMIC_MOVE,
          java.nio.file.StandardCopyOption.REPLACE_EXISTING)
      }
      drop.foreach(Files.delete)
      drop.size
  }

  /** Standby-status feedback (A10): persist the acked checkpoint so
    * the feed's producer can truncate, like `setFlushedLSN`. */
  def writeAck(dir: String, cp: Checkpoint): Unit = {
    val tmp = Paths.get(dir, ".tmp-ack")
    Files.writeString(tmp, cp.serialize)
    Files.move(tmp, Paths.get(dir, "_ack"),
      java.nio.file.StandardCopyOption.ATOMIC_MOVE,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
  }

  def readAck(dir: String): Option[Checkpoint] = {
    val p = Paths.get(dir, "_ack")
    if (Files.exists(p)) Some(Checkpoint.parse(Files.readString(p))) else None
  }
}
