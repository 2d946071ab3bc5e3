package perfbench

import java.sql.{Connection, DriverManager}
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.locks.LockSupport

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{col, count, lit, max}
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.cdc.Checkpoint
import graft.sql.JdbcTxStore
import graft.streaming.{CdcApplier, CdcPipeline, GraftMetricsListener}

/** `TxStore` decorator. Always records each commit's time and the
  * watermark it carried (the live workload's lag is measured to the
  * commit that covers a transaction); with tracing on, every store call
  * is also a span. */
final class TimedStore(inner: CdcApplier.TxStore, trace: Trace) extends CdcApplier.TxStore {
  /** (nanoTime right after the commit returned, watermark LSN). */
  val commits = new ConcurrentLinkedQueue[(Long, Long)]()
  @volatile private var staged = Checkpoint.Zero

  override def begin(): Unit = trace.span("sql.begin")(inner.begin())
  override def commit(): Unit = {
    trace.span("sql.commit")(inner.commit())
    commits.add((System.nanoTime(), staged.lsn)); ()
  }
  override def rollback(): Unit = trace.span("sql.rollback")(inner.rollback())
  override def insert(schema: String, table: String, row: Map[String, Any],
      keyCols: Seq[String]): Unit =
    insertMany(schema, table, Seq(row), keyCols)
  override def insertMany(schema: String, table: String, rows: Seq[Map[String, Any]],
      keyCols: Seq[String]): Unit =
    trace.span("sql.insert_many", Map("rows" -> rows.size.toDouble))(
      inner.insertMany(schema, table, rows, keyCols))
  override def update(schema: String, table: String, keys: Map[String, Any],
      set: Map[String, Any]): Unit = trace.span("sql.update")(inner.update(schema, table, keys, set))
  override def delete(schema: String, table: String, keys: Map[String, Any]): Unit =
    trace.span("sql.delete")(inner.delete(schema, table, keys))
  override def truncate(schema: String, table: String): Unit =
    trace.span("sql.truncate")(inner.truncate(schema, table))
  override def executeDdl(sql: String): Unit = trace.span("sql.ddl")(inner.executeDdl(sql))
  override def readWatermark(sourceId: String): Option[Checkpoint] =
    trace.span("sql.read_watermark")(inner.readWatermark(sourceId))
  override def writeWatermark(sourceId: String, cp: Checkpoint): Unit = {
    staged = cp
    trace.span("sql.write_watermark")(inner.writeWatermark(sourceId, cp))
  }
}

/** `cdc_apply_live`: an open-loop generator appends one WAL segment
  * every 50 ms at a fixed change rate (about a third of what the apply
  * leg drains) for the run's seconds, while `CdcPipeline.start` with
  * `Trigger.ProcessingTime(0)` applies the feed into `JdbcTxStore` on
  * in-memory Derby. Each transaction is stamped when it is due and
  * timed to the store commit that covers it. */
object ApplyLive {
  final val Rate = 2500.0 // changes per second
  final val SegMs = 50L
  /** Load before the measured window, at the same rate: the first
    * triggers compile the scan and the applier's code paths. After 3 s
    * of it the lag still fell by a fifth across the next 10 s. */
  final val WarmupS = 10.0
  /** Rigs set up per run; `setup_s` is their median. No more than
    * three: every rig set up and closed before the measured one slows it
    * (after four, the lag p50 read ~440 ms against ~280 ms after two). */
  final val Setups = 3
  final val SourceId = "perfbench"

  final class Rig(val conn: Connection, val store: TimedStore, val query: StreamingQuery,
      val feedDir: String, val dbName: String) {
    def close(): Unit = {
      query.stop()
      conn.rollback()
      conn.close()
      try DriverManager.getConnection(s"jdbc:derby:memory:$dbName;drop=true")
      catch { case _: java.sql.SQLException => () } // drop reports success by throwing
      ()
    }
  }

  /** Set-up: a fresh Derby database with the target table, the store,
    * and a started pipeline that has run its first (empty) trigger. */
  def rig(ctx: Ctx, i: Int): Rig = {
    val dbName = s"perfbench${ctx.seed}_$i"
    val conn = DriverManager.getConnection(s"jdbc:derby:memory:$dbName;create=true")
    val st = conn.createStatement()
    st.execute("""create schema "public"""")
    st.execute("""create table "public"."items" ("id" bigint not null primary key,
      "price" double, "amount" decimal(18, 2), "note" varchar(200),
      "updated_at" timestamp)""")
    st.close()
    conn.commit()
    val store = new TimedStore(new JdbcTxStore(conn), ctx.trace)
    val feedDir = ctx.dir(s"feed-$i")
    val ckpt = ctx.dir(s"ckpt-$i")
    val q = if (ctx.trace.on) tracedPipeline(ctx, feedDir, ckpt, store)
      else CdcPipeline.start(ctx.spark, feedDir, ckpt, store, SourceId,
        trigger = Trigger.ProcessingTime(0))
    val deadline = System.nanoTime() + 60e9.toLong
    while (q.isActive && !q.status.message.startsWith("Waiting for data") &&
        System.nanoTime() < deadline) Thread.sleep(2)
    q.exception.foreach(e => throw e)
    new Rig(conn, store, q, feedDir, dbName)
  }

  /** Position of a generated transaction in its schedule. */
  private def indexOf(tx: Feed.Tx): Int = ((tx.lsn - Feed.FirstLsn) / Feed.LsnStep - 1).toInt

  def run(ctx: Ctx): Result = {
    val rate = Rate
    val setups = (1 to Setups).map { i =>
      val t0 = System.nanoTime()
      val r = rig(ctx, i)
      val s = (System.nanoTime() - t0) / 1e9
      (r, s)
    }
    setups.init.foreach(_._1.close())
    val r = setups.last._1

    // the whole schedule is drawn up front, from the seed
    val g = new Feed.Generator(ctx.seed)
    val txs = {
      val b = Vector.newBuilder[Feed.Tx]
      while (g.changes < rate * (WarmupS + ctx.seconds)) b += g.tx()
      b.result()
    }
    val dueNs = new Array[Long](txs.length)
    var cum = 0L
    txs.indices.foreach { k => dueNs(k) = (cum / rate * 1e9).toLong; cum += txs(k).ops.length }
    val changes = cum
    val warmupNs = (WarmupS * 1e9).toLong
    val measured = txs.indices.filter(dueNs(_) >= warmupNs)

    Host.HeapAfterGc.reset()
    val r0 = Host.rchar()
    val nano0 = System.nanoTime()
    val wall0Us = System.currentTimeMillis() * 1000L
    val start = nano0 + 20000000L
    val lateMs = Vector.newBuilder[Double]
    val gen = new Thread(() => {
      var k = 0
      var tick = 0L
      while (k < txs.length) {
        val tickAt = start + tick * SegMs * 1000000L
        var now = System.nanoTime()
        while (now < tickAt) { LockSupport.parkNanos(tickAt - now); now = System.nanoTime() }
        lateMs += (now - tickAt) / 1e6
        val from = k
        while (k < txs.length && start + dueNs(k) <= now) k += 1
        if (k > from) ctx.trace.span("load.segment_write") {
          Feed.write(r.feedDir, txs.slice(from, k), Int.MaxValue, withRelation = from == 0,
            commitUs = tx => wall0Us + (start + dueNs(indexOf(tx)) - nano0) / 1000L)
        }
        tick += 1
      }
    }, "perfbench-generator")
    gen.setDaemon(true)
    gen.start()
    gen.join()
    // the tail: wait until the last transaction is committed
    val lastLsn = txs.last.lsn
    val deadline = System.nanoTime() + 60e9.toLong
    def caughtUp = r.store.commits.asScala.exists(_._2 >= lastLsn)
    while (!caughtUp && r.query.isActive && System.nanoTime() < deadline) Thread.sleep(5)
    val measuredS = (System.nanoTime() - start) / 1e9
    val readBytes = Host.rchar() - r0
    r.query.exception.foreach(e => throw e)
    r.query.stop()
    val heapMb = Host.HeapAfterGc.peakMb()

    // lag: due time to the first commit whose watermark covers the tx
    val commits = r.store.commits.asScala.toVector.sortBy(_._1)
    val commitLsn = commits.map(_._2).toArray
    val lagMs = measured.flatMap { k =>
      val i = java.util.Arrays.binarySearch(commitLsn, txs(k).lsn) match {
        case x if x >= 0 => x
        case x => -x - 1
      }
      if (i < commits.length) Some((commits(i)._1 - start - dueNs(k)) / 1e6) else None
    }
    val lastCommit = commits.lastOption.map(_._1).getOrElse(start)
    val measuredChanges = measured.map(txs(_).ops.length.toLong).sum
    val eps = measuredChanges / ((lastCommit - start - warmupNs) / 1e9)

    // checks, outside the timed region
    if (ctx.corrupt) {
      val st = r.conn.createStatement()
      st.executeUpdate(s"""update "public"."items" set "price" = "price" + 1
        where "id" = ${g.state.keys.min}""")
      st.close(); r.conn.commit()
    }
    val (failed, checks) = check(r, g, txs.last)
    val wm = r.store.readWatermark(SourceId)
    val ps = ctx.progress.of(r.query.id)
    val data = ps.filter(_.numInputRows > 0)
    val report = Map(
      "apply_lag_ms_p50" -> ((Stats.median(lagMs), "ms", lagMs.length.toLong)),
      "apply_lag_ms_p99" -> ((Stats.pct(lagMs, 99), "ms", lagMs.length.toLong)),
      "apply_events_per_s" -> ((eps, "1/s", measuredChanges)),
      "generator_late_ms_p99" -> ((Stats.pct(lateMs.result(), 99), "ms", lateMs.result().length.toLong)),
      "offered_events_per_s" -> ((rate, "1/s", measuredChanges)),
      "setup_s" -> ((Stats.median(setups.map(_._2)), "s", Setups.toLong)),
      "heap_peak_mb" -> ((heapMb, "MB", 1L)))
    val e2e = Map(
      "throughput_per_s" -> eps,
      "latency_ms_p50" -> report("apply_lag_ms_p50")._1,
      "latency_ms_p99" -> report("apply_lag_ms_p99")._1,
      "setup_s" -> report("setup_s")._1)

    val layers = if (!ctx.trace.on) Map.empty[String, Double] else {
      CdcLayers.recordTriggers(ctx, ps)
      val nb = math.max(1, data.length)
      val feedBytes = Host.treeBytes(java.nio.file.Paths.get(r.feedDir))
      def mean(n: String) = CdcLayers.meanMs(ctx, n)
      val sqlCalls = ctx.trace.all.count(_.name.startsWith("sql."))
      CdcLayers.zero ++ CdcLayers.microbatch(ps) ++
        CdcLayers.sources(ctx, r.feedDir, CdcLayers.windows(data), ps.length) ++ Map(
        "codec.decode_events_per_s" -> Capture.decodeRate(ctx, r.feedDir),
        "sources.read_amplification" -> readBytes.toDouble / feedBytes,
        "sources.scan_task_ms_per_batch" -> CdcLayers.scanTaskMs(ctx, nb),
        "streaming.collect_ms_per_batch" -> mean("streaming.collect"),
        "streaming.apply_self_ms_per_batch" -> ctx.trace.selfTimeNs("streaming.apply") / 1e6 / nb,
        "streaming.rows_per_batch" -> data.map(_.numInputRows).sum.toDouble / nb,
        "sql.insert_many_ms" -> mean("sql.insert_many"),
        "sql.update_ms" -> mean("sql.update"),
        "sql.delete_ms" -> mean("sql.delete"),
        "sql.commit_ms" -> mean("sql.commit"),
        "sql.rows_per_insert_many" ->
          Stats.mean(ctx.trace.named("sql.insert_many").map(_.attrs("rows"))),
        "sql.store_calls" -> sqlCalls.toDouble / nb,
        "load.generator_late_ms_p99" -> report("generator_late_ms_p99")._1)
    }
    r.close()
    Result(g.state.size.toLong + 1, failed, checks :+
      s"watermark ${wm.orNull}; ${lagMs.length} of ${measured.length} measured transactions committed" +
      f" in $measuredS%.1f s", e2e, report, layers,
      Map("feed" -> Map("changes" -> changes, "transactions" -> txs.length,
        "rate" -> rate, "segments" -> graft.sources.WalFiles.segments(r.feedDir).length,
        "digest" -> Feed.digest(txs), "batches" -> data.length),
        "lag_ms_p50_by_third" -> lagMs.grouped(math.max(1, (lagMs.length + 2) / 3))
          .map(Stats.median(_)).toSeq))
  }

  /** The Derby rows and watermark against the generator's final state:
    * (wrong rows + wrong watermark, descriptions). */
  private def check(r: Rig, g: Feed.Generator, lastTx: Feed.Tx): (Long, Seq[String]) = {
    val st = r.conn.createStatement()
    val rs = st.executeQuery(
      """select "id", "price", "amount", "note", "updated_at" from "public"."items"""")
    var wrong = 0L
    var seen = 0L
    val examples = Seq.newBuilder[String]
    while (rs.next()) {
      seen += 1
      val id = rs.getLong(1)
      val ts = rs.getTimestamp(5).toInstant
      val us = ts.getEpochSecond * 1000000L + ts.getNano / 1000L
      g.state.get(id) match {
        case Some(e) if e.price == rs.getDouble(2) && e.amount.compareTo(rs.getBigDecimal(3)) == 0 &&
          e.note == rs.getString(4) && e.updatedUs == us => ()
        case other =>
          if (wrong < 3) examples += s"row $id: derby (${rs.getDouble(2)}, ${rs.getBigDecimal(3)}, " +
            s"${rs.getString(4)}, $us), expected ${other.orNull}"
          wrong += 1
      }
    }
    rs.close(); st.close()
    wrong += math.max(0L, g.state.size - (seen - wrong))
    val wm = r.store.readWatermark(SourceId)
    val wmOk = wm.contains(Checkpoint(lastTx.lsn, lastTx.ops.length))
    (wrong + (if (wmOk) 0 else 1), Seq(
      s"derby holds $seen rows, generator expects ${g.state.size}",
      s"$wrong rows differ from the generator's final state",
      s"watermark ${if (wmOk) "equals" else "differs from"} the last transaction's checkpoint") ++
      examples.result())
  }

  /** `CdcPipeline.start` with spans around the calls its batch body
    * makes (`collectBatch`, `applyBatch`), for the traced run. */
  private def tracedPipeline(ctx: Ctx, walDir: String, ckpt: String,
      store: CdcApplier.TxStore): StreamingQuery =
    ctx.spark.readStream.format("pgcapture").option("path", walDir).load()
      .observe(GraftMetricsListener.MetricName,
        count(lit(1)).as("changes"),
        max(col("lsn")).as("max_lsn"),
        max(col("commit_ts")).as("last_commit_ts"))
      .writeStream
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.ProcessingTime(0))
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val (changes, keys) = ctx.trace.span("streaming.collect")(CdcPipeline.collectBatch(batch))
        ctx.trace.span("streaming.apply", Map("rows" -> changes.size.toDouble))(
          CdcApplier.applyBatch(store, SourceId, changes, keys))
        ()
      }
      .start()
}
