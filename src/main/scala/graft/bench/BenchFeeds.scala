package graft.bench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Bench/oracle fixture IO for the STREAMING queries (q92-q94) and the
  * persisted-sketch query (q96): the correctness harness needs a
  * genuine multi-micro-batch feed (or a genuine storage round-trip),
  * so data is written once per JVM as a small parquet directory under
  * /tmp and read back. This is fixture plumbing, not an operator — it
  * lives in the bench layer so the query surface (`graft.queries`)
  * contains only operators; feed-build cost showing up inside a
  * streaming query's bench number is the one distortion this file
  * can't remove (documented at the call sites).
  */
object BenchFeeds {

  /** Event-time horizon the streaming queries pass as watermark delay;
    * [[feed]] asserts every feed's doc_id span stays inside it (event
    * time is synthesized as `timestamp_seconds(doc_id + 86400)`, and
    * `maxFilesPerTrigger` gives NO doc_id ordering across batches — a
    * high-doc_id file arriving first would advance the watermark past
    * later files' rows and silently evict state / drop rows mid-run
    * unless the whole span fits inside the delay). */
  final val StreamHorizon = "30 days"
  final val StreamHorizonSec: Long = 30L * 86400L

  // one memory-sink table per invocation: Bench's min-of-two re-runs a
  // query in the same session, and a fixed sink name would collide
  private val streamRuns = new java.util.concurrent.atomic.AtomicInteger(0)

  /** A fresh memory-sink name, e.g. `sinkName("q92_cms")`. */
  def sinkName(prefix: String): String =
    s"${prefix}_${streamRuns.incrementAndGet()}"

  private val feedCleanup =
    java.util.concurrent.ConcurrentHashMap.newKeySet[String]()

  /** Removes `dir`'s whole tree on JVM exit, deepest entries first
    * (streaming checkpoints and outputs nest directories). */
  private def deleteOnExit(dir: String): Unit =
    if (feedCleanup.add(dir))
      Runtime.getRuntime.addShutdownHook(new Thread(() => {
        val root = java.nio.file.Paths.get(dir)
        if (java.nio.file.Files.exists(root)) {
          val all = java.nio.file.Files.walk(root)
          try all.sorted(java.util.Comparator.reverseOrder[java.nio.file.Path]())
            .forEach(p => { p.toFile.delete(); () })
          finally all.close()
        }
      }))

  /** One /tmp parquet dir per (tag, data dir, JVM): pid-suffixed so
    * concurrent runs never share, removed on JVM exit, rebuilt by
    * `write` unless parquet's `_SUCCESS` marker is present (a write
    * that died partway leaves no marker and is redone in overwrite
    * mode — never silently half-read). */
  private def cachedDir(d: String, tag: String)(
      write: String => Unit): String = {
    val safe = d.replaceAll("[^A-Za-z0-9._-]", "_").takeRight(60)
    val full = java.security.MessageDigest.getInstance("MD5")
      .digest(d.getBytes("UTF-8")).take(6).map("%02x".format(_)).mkString
    val pid = ProcessHandle.current().pid()
    val dir = s"/tmp/graft_${tag}_${safe}_${full}_$pid"
    deleteOnExit(dir)
    if (!new java.io.File(dir, "_SUCCESS").isFile) write(dir)
    dir
  }

  /** Write `df` as an 8-file `idCol`-range-partitioned parquet feed
    * for the streaming queries to read back a few files per trigger.
    * Written once per (tag, data dir, JVM); `df` is by-name so a
    * cached feed skips building the frame. `checkSpan` guards the
    * doc_id-synthesized-event-time queries (q93/q94) — pass false for
    * feeds consumed without a watermark. */
  def feed(s: SparkSession, d: String, tag: String,
      idCol: String = "doc_id", checkSpan: Boolean = true)(
      df: => DataFrame): String = {
    // evaluated at most once per call (ADVICE r13): the schema guard
    // below needs the caller's plan even on a cache hit, so the
    // by-name arg no longer skips plan CONSTRUCTION — only the write
    // and span-check EXECUTION are cache-skipped (plan building is a
    // driver-side analysis pass, cheap; double-building it was not)
    lazy val data = df
    val dir = cachedDir(d, tag) { dir =>
      data.repartitionByRange(8, col(idCol))
        .write.mode("overwrite").parquet(dir)
      // guard the watermark math ONCE per feed build (pid-suffixed dir
      // ⟹ a cached feed was built — and checked — by this JVM)
      if (checkSpan) {
        val Array(span) = data
          .agg((max(col(idCol)) - min(col(idCol))).cast("long")).collect()
          .map(r => if (r.isNullAt(0)) 0L else r.getLong(0))
        require(span < StreamHorizonSec,
          s"feed $tag $idCol span $span s does not fit inside the " +
            s"$StreamHorizon watermark delay — late-file arrival could " +
            "evict streaming state mid-run")
      }
    }
    // tag-collision guard: feeds cache per (tag, dir, JVM), so two
    // queries sharing a tag MUST want the same columns — q335 once
    // inherited q305's (doc_id, lang, n_chars) feed under a reused
    // tag and failed only in the single-JVM bench run. Schema check
    // is cheap (footer read) and makes the collision fail AT THE
    // CALLER with both schemas named.
    val have = s.read.parquet(dir).schema.fieldNames.toSeq
    val want = data.schema.fieldNames.toSeq
    require(have == want,
      s"feed tag '$tag' is cached with columns $have but this caller " +
        s"wants $want — use a distinct tag (feeds cache per tag+dir+JVM)")
    dir
  }

  /** A fresh, empty per-invocation scratch directory (pid + counter
    * suffixed, removed on JVM exit) — for queries that APPEND during
    * the run (q97's streaming partials) and must not see a previous
    * invocation's output. */
  def scratchDir(tag: String): String = {
    val dir = s"/tmp/graft_${tag}_${ProcessHandle.current().pid()}" +
      s"_${streamRuns.incrementAndGet()}"
    deleteOnExit(dir)
    dir
  }

  /** The `documents(doc_id, text)` table as a feed. */
  def docFeed(s: SparkSession, d: String): String =
    feed(s, d, "docfeed")(
      graft.Tables.load(s, d, "documents").select(col("doc_id"), col("text")))

  /** Write `df` once per (tag, data dir, JVM) as plain parquet and
    * return the directory — the storage leg for queries whose PATTERN
    * is write-then-read-back (q96's persisted sketch partials). No
    * feed-specific partitioning or span checks. */
  def materialize(s: SparkSession, d: String, tag: String)(
      df: => DataFrame): String =
    cachedDir(d, tag)(dir => df.write.mode("overwrite").parquet(dir))
}
