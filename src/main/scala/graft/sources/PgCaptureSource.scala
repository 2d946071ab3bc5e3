package graft.sources

import java.util

import graft.cdc.Checkpoint
import graft.codec.PgOutput
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.catalyst.util.{ArrayBasedMapData, GenericArrayData}
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.metric.{CustomMetric, CustomSumMetric, CustomTaskMetric}
import org.apache.spark.sql.connector.read.{InputPartition, PartitionReader, PartitionReaderFactory, Scan, ScanBuilder}
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset, SupportsTriggerAvailableNow}
import org.apache.spark.sql.sources.DataSourceRegister
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

/** `spark.readStream.format("pgcapture")` — DSv2 micro-batch CDC
  * source (SURVEY §7.1 step 3; reference A1/A14).
  *
  * Offsets are the reference's total-ordered checkpoints `(lsn, seq)`
  * (pkg/cursor/main.go:13-48) serialized into Spark's checkpoint dir,
  * so exactly-once resume is Structured Streaming's native offset-range
  * contract — the reference needed a hand-rolled consistency gate
  * (pkg/source/pulsar.go:122-148) for the same guarantee.
  *
  * One ordered input partition per batch: logical replication is a
  * strictly ordered single stream (SURVEY §4 "shuffle/partitioning");
  * parallelism happens downstream of the ordered apply, not here. A
  * batch with no new WAL is an empty range — the keepalive behavior
  * (A9). `commit(end)` persists standby-status feedback like
  * `setFlushedLSN` (A10).
  *
  * Options: `path` = WAL feed directory ([[WalFiles]] layout);
  * `tables` = optional regex limiting captured tables (publication
  * scoping, A24 — applied at the reader so filtered rows never enter
  * the stream); `startLsn` = PITR-style initial-offset override (A21).
  */
class PgCaptureSource extends TableProvider with DataSourceRegister {
  override def shortName(): String = "pgcapture"
  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    PgCaptureSource.schema
  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: util.Map[String, String]): Table = {
    // properties keep the caller's key casing — normalize
    val opts = new CaseInsensitiveStringMap(properties)
    new PgCaptureTable(opts.get("path"),
      Option(opts.get("tables")),
      Option(opts.get("startlsn")).map(java.lang.Long.parseUnsignedLong(_, 16)),
      Option(opts.get("plugin")).getOrElse("pgoutput"),
      // bounded by default: the ordered apply collects each micro-batch
      // on the driver (A22), so an uncapped first batch after a long
      // pause is an OOM hazard; `maxChangesPerBatch=0` opts out
      Option(opts.get("maxchangesperbatch")).map(_.toInt)
        .orElse(Some(PgCaptureSource.DefaultMaxChangesPerBatch))
        .filter(_ > 0))
  }
}

object PgCaptureSource {
  /** Default admission-control cap (changes per micro-batch). At ~100
    * bytes a change this bounds the driver-side collect of the ordered
    * apply leg to ~a few MB; batch boundaries still land on commit
    * boundaries. Override with the `maxChangesPerBatch` option
    * (0 = unbounded). */
  final val DefaultMaxChangesPerBatch = 10000
  /** The CdcEvent envelope (SURVEY §1.1): NULL datum = present-with-
    * null map value; unchanged TOAST = absent key. `keys` carries the
    * replica-identity key columns from the Relation message, so a
    * downstream applier is self-describing — no out-of-band catalog
    * needed for key resolution (the reference reads pg_catalog for
    * this; pgoutput already ships the flags on the wire). */
  val schema: StructType = StructType(Seq(
    StructField("op", StringType), StructField("schema", StringType),
    StructField("table", StringType),
    StructField("new", MapType(StringType, BinaryType)),
    StructField("old", MapType(StringType, BinaryType)),
    StructField("oids", MapType(StringType, IntegerType)),
    StructField("lsn", LongType), StructField("seq", IntegerType),
    StructField("commit_ts", TimestampType),
    StructField("keys", ArrayType(StringType))))
}

final class PgCaptureTable(path: String, tablesRegex: Option[String],
    startLsn: Option[Long], plugin: String,
    maxChanges: Option[Int]) extends Table with SupportsRead {
  require(path != null, "pgcapture source requires option 'path'")
  override def name(): String = s"pgcapture($path)"
  override def schema(): StructType = PgCaptureSource.schema
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.MICRO_BATCH_READ, TableCapability.BATCH_READ)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new ScanBuilder {
      override def build(): Scan = new Scan {
        override def readSchema(): StructType = PgCaptureSource.schema
        // the Unknown-frame contract (r13 ask #4): skipped wire frames
        // are COUNTED — Spark sums each reader's task metrics across
        // executors into these scan-node metrics (streaming and batch
        // alike; MicroBatchScanExec reads the same declaration)
        override def supportedCustomMetrics(): Array[CustomMetric] =
          PgScanMetrics.supported
        override def toMicroBatchStream(checkpointLocation: String): MicroBatchStream =
          new PgCaptureMicroBatchStream(path, tablesRegex, startLsn, plugin,
            maxChanges)
        // Batch backfill (`spark.read.format("pgcapture")`): decode is
        // PARALLEL — one input partition per segment, each executor
        // seeded with its boundary state + relation catalog by the
        // driver's tag-level scan, decoding only its own bytes. The
        // ordered single-partition layout is a STREAM-side constraint
        // (the applier's total order); analytics over the feed have no
        // such constraint and get full cluster fan-out.
        override def toBatch: org.apache.spark.sql.connector.read.Batch = {
          new org.apache.spark.sql.connector.read.Batch {
            override def planInputPartitions(): Array[InputPartition] =
              WalFiles.planBatch(path, plugin)
                .map(sp => PgWalBatchPartition(sp, tablesRegex, startLsn,
                  plugin): InputPartition)
                .toArray
            override def createReaderFactory(): PartitionReaderFactory =
              new PartitionReaderFactory {
                override def createReader(p: InputPartition): PartitionReader[InternalRow] =
                  new PgWalBatchReader(p.asInstanceOf[PgWalBatchPartition])
              }
          }
        }
      }
    }
}

/** Offset = the reference's cursor.Checkpoint. */
final case class PgOffset(lsn: Long, seq: Int) extends Offset {
  override def json(): String = s"""{"lsn":$lsn,"seq":$seq}"""
  def cp: Checkpoint = Checkpoint(lsn, seq)
}
object PgOffset {
  def apply(cp: Checkpoint): PgOffset = PgOffset(cp.lsn, cp.seq)
  def parse(json: String): PgOffset = {
    val m = """\{"lsn":(-?\d+),"seq":(-?\d+)\}""".r
    json match {
      case m(l, s) => PgOffset(l.toLong, s.toInt)
      case other => throw new IllegalArgumentException(s"bad offset: $other")
    }
  }
}

final class PgCaptureMicroBatchStream(dir: String, tablesRegex: Option[String],
    startLsn: Option[Long], plugin: String = "pgoutput",
    maxChanges: Option[Int] = None)
    extends MicroBatchStream with SupportsTriggerAvailableNow {

  // Incremental tail (reference currentLsn tracking,
  // pkg/source/postgres.go:165-248): each trigger decodes only segments
  // that appeared since the previous call — never the whole feed. The
  // tx index exists only under admission control, where bounded()
  // prunes it per batch (unbounded mode would leak one entry per tx).
  private val tail = new WalTail(dir, plugin, trackTx = maxChanges.isDefined)

  // Trigger.AvailableNow: pin the end of "available" WAL once at query
  // start so the run drains to a fixed checkpoint and stops (A9/A14).
  private var availableEnd: Option[Checkpoint] = None

  override def prepareForTriggerAvailableNow(): Unit =
    availableEnd = Some(tail.last())

  override def initialOffset(): Offset =
    PgOffset(startLsn.map(Checkpoint(_, 0)).getOrElse(Checkpoint.Zero))

  override def latestOffset(): Offset =
    PgOffset(availableEnd.getOrElse(tail.last()))

  // SupportsAdmissionControl (via SupportsTriggerAvailableNow):
  // maxChangesPerBatch bounds each micro-batch, never splitting a
  // transaction (batch boundaries are commit boundaries) — the
  // backpressure role of the reference's bounded channels
  // (pkg/source/main.go:76). The limit is advertised through
  // getDefaultReadLimit (the engine only engages the rate-limited
  // path when the default limit is not allAvailable) and honored in
  // latestOffset(start, limit); under AvailableNow the engine loops
  // bounded batches until the pinned end is drained.
  import org.apache.spark.sql.connector.read.streaming.{ReadLimit, ReadMaxRows}
  override def getDefaultReadLimit: ReadLimit =
    maxChanges.map(n => ReadLimit.maxRows(n.toLong))
      .getOrElse(ReadLimit.allAvailable())

  override def latestOffset(start: Offset, limit: ReadLimit): Offset = {
    val cap = limit match {
      case mr: ReadMaxRows => Some(mr.maxRows().toInt)
      case _ => maxChanges
    }
    cap match {
      case Some(n) =>
        val from = start.asInstanceOf[PgOffset].cp
        val capped = tail.bounded(from, n)
        val end = availableEnd.getOrElse(tail.last())
        PgOffset(if (capped.after(end)) end else capped)
      case None => latestOffset()
    }
  }
  override def reportLatestOffset(): Offset = PgOffset(tail.last())

  override def deserializeOffset(json: String): Offset = PgOffset.parse(json)

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val s = start.asInstanceOf[PgOffset]
    val e = end.asInstanceOf[PgOffset]
    if (s == e) Array.empty // keepalive: no new WAL → empty batch (A9)
    else Array(PgWalPartition(dir, s.cp, e.cp, tablesRegex, plugin))
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new PartitionReaderFactory {
      override def createReader(p: InputPartition): PartitionReader[InternalRow] =
        new PgWalPartitionReader(p.asInstanceOf[PgWalPartition])
    }

  /** Standby-status feedback: ack up to the committed checkpoint so the
    * WAL producer may truncate (reference pkg/source/postgres.go:250-275). */
  override def commit(end: Offset): Unit =
    WalFiles.writeAck(dir, end.asInstanceOf[PgOffset].cp)

  override def stop(): Unit = ()
}

final case class PgWalPartition(dir: String, start: Checkpoint,
    end: Checkpoint, tablesRegex: Option[String],
    plugin: String = "pgoutput") extends InputPartition

/** Reads one micro-batch window `(start, end]` of the feed, doing work
  * proportional to the window, not to the feed:
  *  - start: every segment strictly below the one that contains
  *    `start` is pruned (PG WAL restart_lsn semantics); the containing
  *    segment is replayed from its first frame and the replay gate
  *    drops already-delivered events inside it. Pruned segments may
  *    still hold the only Relation declarations for rows decoded later,
  *    so their 'R' frames feed the decoder first (state-only, cached
  *    per JVM by [[WalFiles.warmRelations]]).
  *  - end: the replay stops at the first event whose checkpoint is
  *    after `end` — before the window and table filters, so a filtered
  *    table cannot keep it reading. No frame past that event is decoded
  *    and no later segment is read. There is deliberately no pruning of
  *    segments named above `end.lsn`: a segment can open with the
  *    continuation frames of a transaction begun in the previous one,
  *    whose rows sit at or below `end`. The event-driven stop costs at
  *    most the head of one extra segment and relies only on feed order
  *    being checkpoint order, which [[WalTail.bounded]] and the start
  *    pruning already assume. */
final class PgWalPartitionReader(p: PgWalPartition)
    extends PartitionReader[InternalRow] {

  private val pattern = p.tablesRegex.map(_.r.pattern)

  private val (prunedSegs, liveSegs) = {
    val all = WalFiles.segments(p.dir)
    val keepFrom = all.lastIndexWhere { case (first, _) =>
      java.lang.Long.compareUnsigned(first, p.start.lsn) <= 0
    }
    // the containing segment must be replayed from its first frame so
    // the replay gate (not the decoder) drops delivered rows
    if (keepFrom <= 0) (Seq.empty[java.nio.file.Path], all.map(_._2))
    else (all.take(keepFrom).map(_._2), all.drop(keepFrom).map(_._2))
  }

  private val decoder = WalFiles.decoderFor(p.plugin)
  // truncated history first (sidecar catalog), then pruned segments
  WalFiles.warmCatalog(p.dir, decoder)
  WalFiles.warmRelations(prunedSegs, decoder)

  private val tally = new WalFiles.SkipTally

  private val it = WalFiles.replay(liveSegs, decoder, tally = tally,
      tallyFrom = p.start, tallyTo = p.end)
    .takeWhile(e => !e.cp.after(p.end))
    .filter(e => e.cp.after(p.start))
    .filter(e => pattern.forall(_.matcher(e.change.rel.name).matches()))

  private val rows = new PgWalRows
  private var current: WalFiles.WalEvent = _

  override def next(): Boolean = {
    if (it.hasNext) {
      current = it.next()
      // delivered-truncate gauge: counted AFTER the window + table
      // filters, so the figure is per-batch-window, never a replay-
      // pass frame count (ADVICE r14)
      if (current.change.op == "TRUNCATE") {
        tally.truncates += 1
        WalFiles.truncateFrames.incrementAndGet()
      }
      true
    } else false
  }

  override def get(): InternalRow = rows.toRow(current)

  override def currentMetricsValues(): Array[CustomTaskMetric] =
    PgScanMetrics.values(tally)

  override def close(): Unit = {
    PgWalPartitionReader.framesDecoded.addAndGet(tally.frames); ()
  }
}

object PgWalPartitionReader {
  /** Frames decoded by every closed streaming reader in this JVM —
    * instrumentation proving the O(window) read contract (CdcSourceSpec),
    * like [[WalTail.framesDecoded]] for the driver side. */
  val framesDecoded = new java.util.concurrent.atomic.AtomicLong
}

/** DSv2 custom metrics for the pgcapture scan: delivered op=TRUNCATE
  * control rows (first-class since r15) and unknown-tagged frames the
  * decode path skips by contract, both batch-window-scoped. Sum
  * semantics — Spark aggregates task values across executors. */
private[sources] object PgScanMetrics {
  final class TruncateFrames extends CustomSumMetric {
    override def name(): String = "truncate_frames"
    override def description(): String =
      "op=TRUNCATE control rows delivered by the scan"
  }
  final class UnknownFrames extends CustomSumMetric {
    override def name(): String = "unknown_frames"
    override def description(): String =
      "unknown-tagged wire frames skipped by the decoder"
  }
  def supported: Array[CustomMetric] =
    Array(new TruncateFrames, new UnknownFrames)
  def values(tally: WalFiles.SkipTally): Array[CustomTaskMetric] = Array(
    new CustomTaskMetric {
      override def name(): String = "truncate_frames"
      override def value(): Long = tally.truncates
    },
    new CustomTaskMetric {
      override def name(): String = "unknown_frames"
      override def value(): Long = tally.unknowns
    })
}

/** Envelope row construction shared by the streaming and batch
  * readers, one instance per reader.
  *
  * The per-relation parts of a row — the `schema`/`table` strings, the
  * `oids` map, the `keys` array and the sorted column order of the
  * `new`/`old` maps — are built once per relation, not once per row.
  * They are memoised by reference identity (the decoder hands out one
  * Relation object per 'R' frame) in a small memo that is cleared when
  * full, since every op=MESSAGE row carries a fresh synthetic Relation.
  * A tuple whose keys are not exactly the relation's columns (absent
  * unchanged-TOAST columns, key-only old images) sorts its own keys,
  * so map entry order is always the keys' sorted order. */
private[sources] final class PgWalRows {
  import PgWalRows.RelParts

  private val memo =
    new java.util.IdentityHashMap[PgOutput.Relation, RelParts]()

  private def parts(rel: PgOutput.Relation): RelParts = {
    var rp = memo.get(rel)
    if (rp == null) {
      if (memo.size >= PgWalRows.MemoSize) memo.clear()
      rp = new RelParts(rel)
      memo.put(rel, rp)
    }
    rp
  }

  private def mapData(m: Option[Map[String, Array[Byte]]],
      rp: RelParts): ArrayBasedMapData = m match {
    case None => null
    case Some(mm) if mm.size == rp.sorted.length &&
        rp.sorted.forall(mm.contains) =>
      new ArrayBasedMapData(rp.sortedKeys,
        new GenericArrayData(rp.sorted.map(k => mm(k): Any)))
    case Some(mm) =>
      val ks = mm.keys.toArray.sorted
      new ArrayBasedMapData(
        new GenericArrayData(ks.map(k => UTF8String.fromString(k): Any)),
        new GenericArrayData(ks.map(k => mm(k): Any)))
  }

  def toRow(e: WalFiles.WalEvent): InternalRow = {
    val ch = e.change
    val rp = parts(ch.rel)
    new GenericInternalRow(Array[Any](
      UTF8String.fromString(ch.op), rp.namespace, rp.name,
      mapData(ch.newTuple, rp), mapData(ch.oldTuple, rp), rp.oids,
      e.cp.lsn, e.cp.seq,
      e.commitTimeUs + graft.codec.PgType.PgEpochMicros,
      rp.keys))
  }
}

private[sources] object PgWalRows {
  final val MemoSize = 64

  /** The row parts that depend only on the relation. */
  final class RelParts(rel: PgOutput.Relation) {
    private def utf8(s: String): Any = UTF8String.fromString(s)
    val namespace: UTF8String = UTF8String.fromString(rel.namespace)
    val name: UTF8String = UTF8String.fromString(rel.name)
    val oids = new ArrayBasedMapData(
      new GenericArrayData(rel.columns.map(c => utf8(c.name)).toArray),
      new GenericArrayData(rel.columns.map(c => c.oid: Any).toArray))
    val keys = new GenericArrayData(
      rel.columns.filter(_.isKey).map(c => utf8(c.name)).toArray)
    /** Column names in map-key (sorted) order. */
    val sorted: Array[String] = rel.columns.map(_.name).toArray.sorted
    val sortedKeys = new GenericArrayData(sorted.map(utf8))
  }
}

/** One segment of the feed, decoded in isolation: boundary replay
  * state and the relation catalog as of the segment start came from
  * the driver's plan (see [[WalFiles.planBatch]]). */
final case class PgWalBatchPartition(plan: WalFiles.SegPlan,
    tablesRegex: Option[String], startLsn: Option[Long],
    plugin: String = "pgoutput") extends InputPartition

final class PgWalBatchReader(p: PgWalBatchPartition)
    extends PartitionReader[InternalRow] {

  private val pattern = p.tablesRegex.map(_.r.pattern)
  private val startCp = p.startLsn.map(Checkpoint(_, 0))

  private val decoder = WalFiles.decoderFor(p.plugin)
  p.plan.relFrames.foreach(decoder.decode)

  private val tally = new WalFiles.SkipTally

  private val it = WalFiles.replay(
    Seq(java.nio.file.Paths.get(p.plan.path)), decoder,
    p.plan.startLsn, p.plan.startSeq, p.plan.startCommitUs, tally,
    tallyFrom = startCp.getOrElse(Checkpoint.Zero))
    .filter(e => startCp.forall(c => e.cp.after(c)))
    .filter(e => pattern.forall(_.matcher(e.change.rel.name).matches()))

  private val rows = new PgWalRows
  private var current: WalFiles.WalEvent = _

  override def next(): Boolean =
    if (it.hasNext) {
      current = it.next()
      if (current.change.op == "TRUNCATE") { // delivered, post-filter
        tally.truncates += 1
        WalFiles.truncateFrames.incrementAndGet()
      }
      true
    } else false

  override def get(): InternalRow = rows.toRow(current)

  override def currentMetricsValues(): Array[CustomTaskMetric] =
    PgScanMetrics.values(tally)

  override def close(): Unit = ()
}
