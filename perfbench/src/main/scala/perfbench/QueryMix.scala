package perfbench

import scala.collection.mutable

import graft.{SparkEntry, Tables}

/** `query_mix`: nine oracle-checked queries run in order through the
  * `noop` sink, on tables generated from the seed. An untimed first pass
  * writes every answer to parquet for the DuckDB oracle check and warms
  * the JVM; at least two timed passes follow, more while the run's
  * seconds last, and each query counts its best pass. Codec
  * and CDC layers do little of the work here. */
object QueryMix {
  val Queries: Seq[String] = Seq(
    // fixed per-query overhead
    "q01_pricing_summary", "q07_left_join_spend", "q10_lag_delta",
    // parallel batch decode, the codec used the other way
    "q52_wal_backfill", "q338_logical_messages",
    // CDC maintenance over captured tables
    "q141_scd2_intervals", "q142_cdc_invert",
    // eager-localCheckpoint construction
    "q183_cohort_retention", "q263_k_anonymity")

  private val sums = Seq("construct_s", "construct_jobs", "exec_s", "jobs", "stages",
    "tasks", "task_s", "shuffle_mb", "spill_mb", "gc_s")

  val zero: Map[String, Double] =
    (sums.map(s => s"queries.$s") ++
      Queries.flatMap(q => Seq(s"queries.construct_s.$q", s"queries.exec_s.$q")))
      .map(_ -> 0.0).toMap

  def run(ctx: Ctx): Result = {
    val data = ctx.args("data")
    val spark = ctx.spark
    val sc = spark.sparkContext
    val tSetup = System.nanoTime()
    // set-up: open every input table and resolve its schema, three times
    val setups = (1 to 3).map { _ =>
      val t0 = System.nanoTime()
      Tables.all.foreach(t => Tables.load(spark, data, t).schema)
      (System.nanoTime() - t0) / 1e9
    }

    // check pass, untimed: each answer to parquet for the oracle compare;
    // it also warms the JVM and every query's generated code
    val tCheck = System.nanoTime()
    val outDir = ctx.dir("answers")
    val errors = mutable.LinkedHashMap.empty[String, String]
    val oracle = Queries.map(q => q -> SparkEntry.oracleSql.get(q).orNull).toMap
    Queries.zipWithIndex.foreach { case (q, i) =>
      try {
        val df = SparkEntry.queries(q)(spark, data)
        val answer = if (ctx.corrupt && i == 0) df.union(df.limit(1)) else df
        answer.write.mode("overwrite").parquet(s"$outDir/$q")
      } catch { case e: Throwable => errors(q) = e.toString }
    }

    // timed passes through the noop sink: at least two, more while the
    // run's seconds last
    Host.HeapAfterGc.reset()
    val passes = mutable.Buffer.empty[Map[String, (Double, Double)]]
    val t0 = System.nanoTime()
    while (passes.length < 2 || (System.nanoTime() - t0) / 1e9 < ctx.seconds) {
      val pass = passes.length
      passes += Queries.filterNot(errors.contains).map { q =>
        System.gc() // one query's garbage must not land inside the next
        def phase[T](p: String)(f: => T): (T, Double) = {
          sc.setLocalProperty(JobLog.PhaseKey, s"$pass/$q/$p")
          val s0 = System.nanoTime()
          try {
            val r = ctx.trace.span(s"queries.$p", Map("pass" -> pass.toDouble))(f)
            (r, (System.nanoTime() - s0) / 1e9)
          } finally sc.setLocalProperty(JobLog.PhaseKey, null)
        }
        val (df, construct) = phase("construct")(SparkEntry.queries(q)(spark, data))
        val (_, exec) = phase("exec")(df.write.mode("overwrite").format("noop").save())
        q -> ((construct, exec))
      }.toMap
    }
    val heapMb = Host.HeapAfterGc.peakMb()
    val phaseS = Map("setup" -> (tCheck - tSetup) / 1e9, "check" -> (t0 - tCheck) / 1e9,
      "passes" -> (System.nanoTime() - t0) / 1e9)

    // each query's time is its best pass, as graft.Bench takes the min of two
    val best = passes.head.keys.toSeq.map(q => passes.map(p => p(q)._1 + p(q)._2).min)
    val runs = (best.length * passes.length).toLong
    val report = Map(
      "query_total_s" -> ((best.sum, "s", runs)),
      "query_s_p50" -> ((Stats.median(best), "s", runs)),
      "query_s_p99" -> ((Stats.pct(best, 99), "s", runs)),
      "setup_s" -> ((Stats.median(setups), "s", 3L)),
      "heap_peak_mb" -> ((heapMb, "MB", 1L)))
    val e2e = Map(
      "throughput_per_s" -> best.length / best.sum,
      "latency_ms_p50" -> 1000 * Stats.median(best),
      "latency_ms_p99" -> 1000 * Stats.pct(best, 99),
      "setup_s" -> Stats.median(setups))

    val layers = if (!ctx.trace.on) Map.empty[String, Double] else {
      ctx.drainJobs()
      // the last pass, whole: construction (with its eager jobs) and execution
      val last = passes.length - 1
      def tot(q: String, p: String) = ctx.jobs.of(s"$last/$q/$p")
      val qs = passes.last.keys.toSeq
      def sum(f: (String, String) => Double, phases: String*) =
        qs.flatMap(q => phases.map(p => f(q, p))).sum
      CdcLayers.zero ++ Map(
        "queries.construct_s" -> qs.map(passes.last(_)._1).sum,
        "queries.construct_jobs" -> sum((q, p) => tot(q, p).jobs.toDouble, "construct"),
        "queries.exec_s" -> qs.map(passes.last(_)._2).sum,
        "queries.jobs" -> sum((q, p) => tot(q, p).jobs.toDouble, "exec"),
        "queries.stages" -> sum((q, p) => tot(q, p).stages.toDouble, "construct", "exec"),
        "queries.tasks" -> sum((q, p) => tot(q, p).tasks.toDouble, "construct", "exec"),
        "queries.task_s" -> sum((q, p) => tot(q, p).taskMs / 1e3, "construct", "exec"),
        "queries.shuffle_mb" ->
          sum((q, p) => tot(q, p).shuffleBytes / 1048576.0, "construct", "exec"),
        "queries.spill_mb" ->
          sum((q, p) => tot(q, p).spillBytes / 1048576.0, "construct", "exec"),
        "queries.gc_s" -> sum((q, p) => tot(q, p).gcMs / 1e3, "construct", "exec")) ++
        qs.flatMap(q => Seq(
          s"queries.construct_s.$q" -> passes.last(q)._1,
          s"queries.exec_s.$q" -> passes.last(q)._2))
    }
    // the oracle compare runs afterwards, outside this JVM
    Result(Queries.length.toLong, errors.size.toLong,
      errors.map { case (q, e) => s"$q failed: $e" }.toSeq, e2e, report, layers,
      Map("answers" -> outDir, "oracle_sql" -> oracle, "errors" -> errors.keys.toSeq,
        "passes" -> passes.length, "phase_s" -> phaseS,
        "pass_s" -> passes.map(_.map { case (q, (c, e)) => q -> (c + e) }),
        "per_query_s" -> passes.last.map { case (q, (c, e)) => q -> (c + e) }))
  }
}
