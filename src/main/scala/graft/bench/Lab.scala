package graft.bench

import org.apache.spark.sql.SparkSession

/** Optimization-round workbench (not part of the driver contract):
  * times named queries exactly the way Bench does (noop sink, GC
  * settle, min-of-N) and dumps each query's `explain("formatted")` to
  * plans/<tag>/<query>_<suffix>.txt so plan-shape claims in
  * OPTIMIZATION_rNN.md are reproducible. Usage:
  *
  *   sbt "runMain graft.bench.Lab <tag> <suffix> <reps> q.. q.."
  *
  * e.g. `runMain graft.bench.Lab r16 before 2 q138_stream_index_loop`.
  * Reads SPARK_GRAFT_SF_DIR / SPARK_GRAFT_CPUS like Bench.
  */
object Lab {
  private val Usage =
    "usage: runMain graft.bench.Lab <tag> <suffix> <reps> <query> [query ...]" +
      " (conf A/B via SPARK_GRAFT_LAB_CONF=\"key=val;key=val\")"

  def main(args: Array[String]): Unit = {
    // malformed usage must die with the usage line, not an
    // ArrayIndexOutOfBounds/MatchError (ADVICE r16 #4)
    if (args.length < 4 || args(2).toIntOption.isEmpty) {
      System.err.println(Usage)
      sys.exit(2)
    }
    val tag = args(0)
    val suffix = args(1)
    val reps = args(2).toInt
    val names = args.drop(3).toSeq
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val builder = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.ansi.enabled", "true")
      .config("spark.ui.enabled", "false")
    // conf A/B hook: SPARK_GRAFT_LAB_CONF="key=val;key=val"
    sys.env.get("SPARK_GRAFT_LAB_CONF").foreach(_.split(";").filter(_.nonEmpty)
      .foreach { kv =>
        kv.split("=", 2) match {
          case Array(k, v) => builder.config(k, v)
          case _ =>
            System.err.println(
              s"[lab] malformed SPARK_GRAFT_LAB_CONF entry '$kv' — $Usage")
            sys.exit(2)
        }
      })
    val spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val unknown = names.filterNot(graft.SparkEntry.queries.keySet)
    require(unknown.isEmpty, s"unknown queries: ${unknown.mkString(", ")}")

    val dir = new java.io.File(s"plans/$tag")
    dir.mkdirs()

    // same warmup query Bench uses, absorbing JVM/codegen startup
    graft.SparkEntry.queries("q01_pricing_summary")(spark, sfDir)
      .write.mode("overwrite").format("noop").save()

    def ticks(): (Long, Long) = {
      val src = scala.io.Source.fromFile("/proc/stat")
      try {
        val f = src.getLines().next().trim.split("\\s+").drop(1).map(_.toLong)
        (f(0) + f(2), if (f.length > 7) f(7) else 0L)
      } finally src.close()
    }
    // job inventory (SPARK_GRAFT_LAB_JOBS=1): per-job wall time +
    // description over the LAST pass of each query, so a multi-job
    // query (streaming foreachBatch loops, eager checkpoints) shows
    // WHERE its wall-clock goes — guide §1's "decide whether the time
    // is going to shuffle read / compute / scheduler" at job grain.
    val jobLog = if (sys.env.contains("SPARK_GRAFT_LAB_JOBS"))
      Some(new java.util.concurrent.ConcurrentLinkedQueue[String]())
    else None
    jobLog.foreach { q =>
      spark.sparkContext.addSparkListener(
        new org.apache.spark.scheduler.SparkListener {
          private val starts =
            new java.util.concurrent.ConcurrentHashMap[Int, (Long, String)]()
          override def onJobStart(
              j: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
            val desc = Option(j.properties)
              .flatMap(p => Option(p.getProperty("spark.job.description")))
              .getOrElse("")
            starts.put(j.jobId, (System.nanoTime(), desc)); ()
          }
          override def onJobEnd(
              j: org.apache.spark.scheduler.SparkListenerJobEnd): Unit =
            Option(starts.remove(j.jobId)).foreach { case (t0, desc) =>
              val ms = (System.nanoTime() - t0) / 1e6
              q.add(f"job ${j.jobId}%4d ${ms / 1000}%7.3fs  $desc"); ()
            }
        })
    }
    val out = names.map { n =>
      val df = graft.SparkEntry.queries(n)(spark, sfDir)
      val pw = new java.io.PrintWriter(new java.io.File(dir, s"${n}_$suffix.txt"))
      try pw.println(df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode))
      finally pw.close()
      val times = (1 to reps).map { i =>
        jobLog.foreach(_.clear())
        System.gc()
        val (b0, s0) = ticks()
        val t0 = System.nanoTime()
        graft.SparkEntry.queries(n)(spark, sfDir)
          .write.mode("overwrite").format("noop").save()
        val dt = (System.nanoTime() - t0) / 1e9
        val (b1, s1) = ticks()
        val st = if (b1 - b0 + s1 - s0 > 0)
          100.0 * (s1 - s0) / (b1 - b0 + s1 - s0) else 0.0
        // the pass's last onJobEnd events may still be on the listener
        // bus: let them land before the log is printed or cleared
        if (jobLog.isDefined)
          try org.apache.spark.GraftBusDrain(spark.sparkContext, 30000)
          catch {
            case e: java.util.concurrent.TimeoutException =>
              System.err.println(s"[lab] listener bus not drained: $e")
          }
        System.err.println(f"[lab] $n pass: $dt%.2fs steal=$st%.1f%%")
        if (i == reps) jobLog.foreach { q =>
          import scala.jdk.CollectionConverters._
          System.err.println(s"[lab] $n job inventory (${q.size} jobs):")
          q.asScala.foreach(l => System.err.println(s"[lab]   $l"))
        }
        dt
      }
      System.err.println(f"[lab] $n: ${times.map(t => f"$t%.2f").mkString(" ")}")
      n -> times
    }
    println("{" + out.map { case (n, ts) =>
      "\"" + n + "\":[" + ts.map(t => f"$t%.3f").mkString(",") + "]"
    }.mkString(",") + "}")
    spark.stop()
  }
}
