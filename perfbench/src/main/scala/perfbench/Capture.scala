package perfbench

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryProgress, Trigger}

import graft.cdc.Checkpoint
import graft.sources.{PgCaptureSource, PgOffset, PgWalPartition, PgWalPartitionReader, WalFiles, WalTail}
import graft.streaming.{Bus, CdcApplier, CdcPipeline}

/** Layer measurements shared by the two CDC workloads. */
object CdcLayers {
  /** (start, end) checkpoints of every trigger that read data. */
  def windows(ps: Seq[StreamingQueryProgress]): Seq[(Checkpoint, Checkpoint)] =
    ps.map { p =>
      val s = p.sources.head
      def cp(json: String) =
        if (json == null) Checkpoint.Zero else PgOffset.parse(json).cp
      (cp(s.startOffset), cp(s.endOffset))
    }

  /** Replays the driver-side offset tracking ([[WalTail]]) and the
    * partition reader ([[PgWalPartitionReader]]) over the stream's own
    * batch windows, timing the library's classes directly. The reader
    * is timed on up to `samples` evenly spaced windows. */
  def sources(ctx: Ctx, feedDir: String, ws: Seq[(Checkpoint, Checkpoint)],
      triggers: Int, samples: Int = 8): Map[String, Double] = {
    if (ws.isEmpty) return Map.empty
    val tailNs = {
      val t0 = System.nanoTime()
      ctx.trace.span("sources.tail") {
        val tail = new WalTail(feedDir)
        tail.last()
        ws.foreach { case (from, _) =>
          tail.bounded(from, PgCaptureSource.DefaultMaxChangesPerBatch)
        }
      }
      System.nanoTime() - t0
    }
    val step = math.max(1, ws.length / samples)
    val readerMs = ws.indices.by(step).take(samples).map { i =>
      val (from, to) = ws(i)
      val t0 = System.nanoTime()
      ctx.trace.span("sources.reader") {
        val r = new PgWalPartitionReader(PgWalPartition(feedDir, from, to, None))
        var n = 0L
        while (r.next()) { r.get(); n += 1 }
        r.close()
      }
      (System.nanoTime() - t0) / 1e6
    }
    Map(
      "sources.tail_ms_per_trigger" -> tailNs / 1e6 / math.max(1, triggers),
      "sources.reader_ms_per_batch" -> Stats.mean(readerMs))
  }

  /** Per-trigger durations Spark reports in `durationMs`. */
  def microbatch(ps: Seq[StreamingQueryProgress]): Map[String, Double] = {
    def p50(key: String) = Stats.median(ps.map(ProgressLog.ms(_, key)))
    Map(
      "microbatch.triggers" -> ps.length.toDouble,
      "microbatch.trigger_ms_p50" -> p50("triggerExecution"),
      "microbatch.planning_ms_p50" -> p50("queryPlanning"),
      "microbatch.offset_log_ms_p50" -> p50("walCommit"))
  }

  /** Scan-task time per data batch, from the listener's task totals. */
  def scanTaskMs(ctx: Ctx, batches: Int): Double = {
    ctx.drainJobs()
    ctx.jobs.of("").taskMs / math.max(1, batches)
  }

  def meanMs(ctx: Ctx, name: String): Double = Stats.mean(ctx.trace.named(name).map(_.ms))

  /** Records each trigger as a span, with Spark's phase durations. */
  def recordTriggers(ctx: Ctx, ps: Seq[StreamingQueryProgress]): Unit = {
    val wall0 = System.currentTimeMillis(); val nano0 = System.nanoTime()
    ps.foreach { p =>
      val startNs = nano0 - (wall0 - java.time.Instant.parse(p.timestamp).toEpochMilli) * 1000000L
      val d = ProgressLog.ms(p, "triggerExecution")
      ctx.trace.record("microbatch.trigger", startNs, startNs + (d * 1e6).toLong,
        attrs = Seq("queryPlanning", "walCommit", "addBatch", "latestOffset",
          "getBatch", "commitOffsets").map(k => k -> ProgressLog.ms(p, k)).toMap +
          ("rows" -> p.numInputRows.toDouble))
    }
  }

  /** Every layer the CDC workloads can leave idle, at zero. */
  val zero: Map[String, Double] = Seq(
    "codec.decode_events_per_s", "sources.read_amplification",
    "sources.reader_ms_per_batch", "sources.scan_task_ms_per_batch",
    "sources.tail_ms_per_trigger", "microbatch.triggers", "microbatch.trigger_ms_p50",
    "microbatch.planning_ms_p50", "microbatch.offset_log_ms_p50", "streaming.collect_ms_per_batch",
    "streaming.apply_self_ms_per_batch", "streaming.bus_produce_ms_per_batch",
    "streaming.rows_per_batch", "sql.insert_many_ms", "sql.update_ms",
    "sql.delete_ms", "sql.commit_ms", "sql.rows_per_insert_many",
    "sql.store_calls", "load.generator_late_ms_p99").map(_ -> 0.0).toMap ++ QueryMix.zero
}

/** `cdc_capture_backlog`: a seeded backlog of 540k changes drained by
  * `CdcPipeline.startBusLeg` under `Trigger.AvailableNow` at the
  * default 10 000-change cap (at least 50 micro-batches), the
  * catch-up after downtime. Source, decode and collect do most of the
  * work; the bus sink is cheap. */
object Capture {
  final case class Drain(secs: Double, all: Seq[StreamingQueryProgress],
      data: Seq[StreamingQueryProgress], readBytes: Long, bus: String)
  final val Changes = 540000
  final val SegChanges = 2000
  final val BulkShare = 0.02
  final val WarmTxs = 20000

  def run(ctx: Ctx): Result = {
    val cap = PgCaptureSource.DefaultMaxChangesPerBatch
    val changes = ctx.args.get("changes").map(_.toInt).getOrElse(Changes)
    val tGen = System.nanoTime()
    val (_, txs) = Feed.backlog(ctx.seed, changes, cap, BulkShare)
    val genS = (System.nanoTime() - tGen) / 1e9
    // an untimed write of the feed's first transactions warms the encoder
    Feed.write(ctx.work.resolve("feed-warm").toString, txs.take(WarmTxs), SegChanges,
      withRelation = true, commitUs = _ => 1700000000000000L)
    Host.deleteTree(ctx.work.resolve("feed-warm"))
    // set-up: encode and write the feed, three times, each into a fresh
    // directory on a collected heap, so no set-up pays for the garbage or
    // the deleted files of the one before; the last copy is drained and
    // the others are removed after the drains
    val setups = (1 to 3).map { i =>
      System.gc()
      val t0 = System.nanoTime()
      Feed.write(ctx.work.resolve(s"feed-$i").toString, txs, SegChanges, withRelation = true,
        commitUs = tx => 1700000000000000L + tx.lsn / Feed.LsnStep * 1000L)
      (System.nanoTime() - t0) / 1e9
    }
    val feedDir = ctx.work.resolve(s"feed-${setups.length}").toString
    val feedBytes = Host.treeBytes(java.nio.file.Paths.get(feedDir))
    val feedDigest = Feed.digest(txs)

    // measured: full drains until the run's seconds are used (at least one)
    Host.HeapAfterGc.reset()
    val t0 = System.nanoTime()
    var drains = Vector.empty[Drain]
    while (drains.isEmpty || (System.nanoTime() - t0) / 1e9 < ctx.seconds) {
      val i = drains.length
      val ckpt = ctx.dir(s"ckpt-$i")
      val bus = ctx.dir(s"bus-$i")
      val r0 = Host.rchar()
      val d0 = System.nanoTime()
      val q = ctx.trace.span("capture.drain") {
        val q = if (ctx.trace.on) tracedBusLeg(ctx, feedDir, ckpt, bus)
          else CdcPipeline.startBusLeg(ctx.spark, feedDir, ckpt, bus)
        q.awaitTermination()
        q
      }
      val secs = (System.nanoTime() - d0) / 1e9
      val read = Host.rchar() - r0
      q.exception.foreach(e => throw e)
      Thread.sleep(200) // let the last progress event arrive
      drains :+= Drain(secs, ctx.progress.of(q.id), ctx.progress.batches(q.id), read, bus)
    }
    val heapMb = Host.HeapAfterGc.peakMb()
    (1 until setups.length).foreach(i => Host.deleteTree(ctx.work.resolve(s"feed-$i")))

    // checks, outside the timed region
    val last = drains.last
    val (lastPs, bus) = (last.data, last.bus)
    if (ctx.corrupt) Bus.produce(bus, Seq(CdcApplier.Change("INSERT", "public",
      "items", Map.empty, Map.empty, Map.empty, Long.MaxValue - 1, 1)))
    val tCheck = System.nanoTime()
    // the bus, message by message, against a WalFiles.replay of the feed
    val expected = WalFiles.replay(WalFiles.segments(feedDir).map(_._2)).map(changeOf)
    val got = Bus.consume(bus).iterator
    var (nExpected, nGot, wrong) = (0L, 0L, 0L)
    while (expected.hasNext || got.hasNext) {
      val a = if (expected.hasNext) { nExpected += 1; expected.next() } else null
      val b = if (got.hasNext) { nGot += 1; got.next() } else null
      if (a == null || b == null || !same(a, b)) wrong += 1
    }
    val checkS = (System.nanoTime() - tCheck) / 1e9
    val checks = Seq(
      s"bus holds $nGot messages, WalFiles.replay of the feed $nExpected",
      s"$wrong messages differ from the replay",
      s"generator emitted ${txs.map(_.ops.length).sum} changes")
    val failed = wrong + math.abs(txs.map(_.ops.length.toLong).sum - nExpected)

    val eps = drains.map(d => d.data.map(_.numInputRows).sum / d.secs)
    val batchMs = drains.flatMap(_.data.map(ProgressLog.ms(_, "triggerExecution")))
    val e2e = Map(
      "throughput_per_s" -> Stats.median(eps),
      "latency_ms_p50" -> Stats.median(batchMs),
      "latency_ms_p99" -> Stats.pct(batchMs, 99),
      "setup_s" -> Stats.median(setups))
    val report = Map(
      "capture_events_per_s" -> ((e2e("throughput_per_s"), "1/s", drains.length.toLong)),
      "capture_batch_ms_p50" -> ((e2e("latency_ms_p50"), "ms", batchMs.length.toLong)),
      "capture_batch_ms_p99" -> ((e2e("latency_ms_p99"), "ms", batchMs.length.toLong)),
      "setup_s" -> ((e2e("setup_s"), "s", 3L)),
      "heap_peak_mb" -> ((heapMb, "MB", 1L)))

    val layers = if (!ctx.trace.on) Map.empty[String, Double] else {
      CdcLayers.recordTriggers(ctx, lastPs)
      val ws = CdcLayers.windows(lastPs)
      val nb = lastPs.length
      CdcLayers.zero ++ CdcLayers.microbatch(last.all) ++
        CdcLayers.sources(ctx, feedDir, ws, last.all.length) ++ Map(
        "codec.decode_events_per_s" -> decodeRate(ctx, feedDir),
        "sources.read_amplification" -> last.readBytes.toDouble / feedBytes,
        "sources.scan_task_ms_per_batch" -> CdcLayers.scanTaskMs(ctx, nb * drains.length),
        "streaming.collect_ms_per_batch" -> CdcLayers.meanMs(ctx, "streaming.collect"),
        "streaming.bus_produce_ms_per_batch" -> CdcLayers.meanMs(ctx, "streaming.bus_produce"),
        "streaming.rows_per_batch" -> lastPs.map(_.numInputRows).sum.toDouble / nb)
    }
    Result(nExpected, failed, checks, e2e, report, layers,
      Map("feed" -> Map("changes" -> changes, "transactions" -> txs.length,
        "bytes" -> feedBytes, "digest" -> feedDigest, "segments" -> WalFiles.segments(feedDir).length,
        "batches" -> lastPs.length, "bulk_tx_changes" -> txs.map(_.ops.length).filter(_ > 8)),
        "setup_s" -> setups,
        "phase_s" -> Map("generate" -> genS, "setup" -> setups.sum,
          "drains" -> drains.map(_.secs).sum, "check" -> checkS)))
  }

  /** Events per second of one `WalFiles.replay` pass over the feed. */
  def decodeRate(ctx: Ctx, feedDir: String): Double = {
    val t0 = System.nanoTime()
    val n = ctx.trace.span("codec.replay")(
      WalFiles.replay(WalFiles.segments(feedDir).map(_._2)).size)
    n / ((System.nanoTime() - t0) / 1e9)
  }

  /** The applier-side envelope of a replayed event, exactly as the
    * source's rows carry it to `CdcPipeline.toChanges`. */
  def changeOf(e: WalFiles.WalEvent): CdcApplier.Change = {
    val rel = e.change.rel
    CdcApplier.Change(e.change.op, rel.namespace, rel.name,
      e.change.newTuple.getOrElse(Map.empty), e.change.oldTuple.getOrElse(Map.empty),
      rel.columns.map(c => c.name -> c.oid).toMap, e.cp.lsn, e.cp.seq,
      Some(rel.columns.filter(_.isKey).map(_.name).toList))
  }

  private def same(a: CdcApplier.Change, b: CdcApplier.Change): Boolean = {
    def bytes(x: Map[String, Array[Byte]], y: Map[String, Array[Byte]]) =
      x.size == y.size && x.forall { case (k, v) => y.get(k).exists(java.util.Arrays.equals(v, _)) }
    a.op == b.op && a.schema == b.schema && a.table == b.table && a.lsn == b.lsn &&
      a.seq == b.seq && a.oids == b.oids && a.keys == b.keys &&
      bytes(a.newFields, b.newFields) && bytes(a.oldFields, b.oldFields)
  }

  /** `CdcPipeline.startBusLeg` with spans around the calls its batch
    * body makes (`toChanges`, `Bus.produce`); the traced run uses it
    * so those calls can be timed from outside the library. */
  private def tracedBusLeg(ctx: Ctx, walDir: String, ckpt: String, bus: String): StreamingQuery =
    ctx.spark.readStream.format("pgcapture").option("path", walDir).load()
      .writeStream
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val changes = ctx.trace.span("streaming.collect")(CdcPipeline.toChanges(batch))
        ctx.trace.span("streaming.bus_produce", Map("rows" -> changes.size.toDouble))(
          Bus.produce(bus, changes))
        ()
      }
      .start()
}
