package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** What one workload run hands back: end-to-end values under the
  * benchmark's metric names, the same numbers under the workload's own
  * names with units and sample counts, per-layer values (traced run
  * only), and the outcome of the output checks. */
final case class Result(
    attempted: Long,
    failed: Long,
    checks: Seq[String],
    e2e: Map[String, Double],
    report: Map[String, (Double, String, Long)],
    layers: Map[String, Double],
    extra: Map[String, Any] = Map.empty)

/** Everything a workload needs from the harness. */
final class Ctx(val spark: SparkSession, val seed: Long, val seconds: Int,
    val trace: Trace, val work: Path, val corrupt: Boolean,
    val args: Map[String, String]) {
  val progress = new ProgressLog
  val jobs = new JobLog
  spark.streams.addListener(progress)
  if (trace.on) spark.sparkContext.addSparkListener(jobs)

  def dir(name: String): String = {
    val p = work.resolve(name)
    Host.deleteTree(p)
    Files.createDirectories(p)
    p.toString
  }

  def drainJobs(): Boolean = !trace.on || jobs.drain(spark.sparkContext)
}

/** Entry point:
  * `perfbench.Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *  --work <dir> --out <file> [--data <tables dir>] [--corrupt 1]`.
  * Runs one workload in this JVM and writes its [[Result]] as JSON to
  * `--out`; `perfbench/run.py` builds the final report from it. */
object Main {
  val Workloads: Map[String, Ctx => Result] = Map(
    "cdc_capture_backlog" -> Capture.run,
    "cdc_apply_live" -> ApplyLive.run,
    "query_mix" -> QueryMix.run)

  def main(argv: Array[String]): Unit = {
    val args = argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") =>
      k.stripPrefix("--") -> v }.toMap
    val workload = args("workload")
    val run = Workloads.getOrElse(workload,
      throw new IllegalArgumentException(s"unknown workload $workload"))
    val work = Paths.get(args("work")).toAbsolutePath
    Files.createDirectories(work)
    val cpus = Runtime.getRuntime.availableProcessors().toString
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName(s"perfbench-$workload")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.ansi.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    Host.HeapAfterGc.install()

    val trace = new Trace(args.getOrElse("trace", "0") == "1")
    val ctx = new Ctx(spark, args("seed").toLong, args("seconds").toInt, trace,
      work, args.getOrElse("corrupt", "0") == "1", args)
    val ticks0 = Host.cpuTicks()
    val load0 = Host.loadAvg()
    val t0 = System.nanoTime()
    val r = run(ctx)
    val wallS = (System.nanoTime() - t0) / 1e9
    val host = Map(
      "steal_pct" -> Host.stealPct(ticks0, Host.cpuTicks()),
      "loadavg_start" -> load0, "loadavg_end" -> Host.loadAvg(),
      "cpus" -> cpus.toInt, "run_wall_s" -> wallS)
    val layers = if (!trace.on) Map.empty[String, Double] else {
      // Spark jobs from the listener, as spans on the same clock
      ctx.drainJobs()
      val (wall0, nano0) = (System.currentTimeMillis(), System.nanoTime())
      ctx.jobs.jobSpans.forEach { case (phase, t0, t1) =>
        trace.record(if (phase.isEmpty) "spark.job" else s"spark.job $phase",
          nano0 - (wall0 - t0) * 1000000L, nano0 - (wall0 - t1) * 1000000L)
      }
      val spansFile = work.getParent.resolve("traces")
        .resolve(s"$workload-seed${ctx.seed}.jsonl")
      trace.write(spansFile)
      r.layers ++ Map(
        "driver.heap_peak_mb" -> r.report("heap_peak_mb")._1,
        "trace.spans" -> trace.all.size.toDouble,
        "trace.overhead_pct" -> 100.0 * trace.overheadNs / 1e9 / wallS)
    }
    spark.stop()
    val out = mutable.LinkedHashMap[String, Any](
      "workload" -> workload, "seed" -> ctx.seed, "trace" -> trace.on,
      "attempted" -> r.attempted, "failed" -> r.failed, "checks" -> r.checks,
      "e2e" -> r.e2e,
      "report" -> r.report.map { case (k, (v, u, n)) =>
        k -> Map("value" -> v, "unit" -> u, "n" -> n) },
      "layers" -> layers, "host" -> host) ++ r.extra
    Files.write(Paths.get(args("out")), Json.render(out).getBytes("UTF-8"))
    ()
  }
}
