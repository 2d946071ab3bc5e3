package perfbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}

/** Collects every `StreamingQueryProgress` Spark posts: per-trigger
  * durations (`durationMs`), input rows and source offsets. Spark's own
  * progress reporting, so it runs in the untraced run too. */
final class ProgressLog extends StreamingQueryListener {
  private val log = new ConcurrentLinkedQueue[StreamingQueryProgress]()
  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
    log.add(e.progress); ()
  }
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()

  def of(id: java.util.UUID): Seq[StreamingQueryProgress] =
    log.asScala.filter(_.id == id).toSeq.sortBy(_.batchId)

  /** Progress of the triggers that processed data. */
  def batches(id: java.util.UUID): Seq[StreamingQueryProgress] =
    of(id).filter(_.numInputRows > 0)
}

object ProgressLog {
  def ms(p: StreamingQueryProgress, key: String): Double =
    Option(p.durationMs.get(key)).map(_.doubleValue).getOrElse(0.0)
}

/** Job, stage and task totals by phase, read from Spark's listener
  * bus. A phase is the `perfbench.phase` local property of the thread
  * that submitted the job. [[drain]] waits until every job that started
  * has also reported its end, so no late `onJobEnd` (and none of the
  * task ends before it) is lost when the totals are read. */
final class JobLog extends SparkListener {
  final class Totals {
    @volatile var jobs = 0L
    @volatile var jobMs = 0.0
    @volatile var stages = 0L
    @volatile var tasks = 0L
    @volatile var taskMs = 0.0
    @volatile var shuffleBytes = 0L
    @volatile var spillBytes = 0L
    @volatile var gcMs = 0.0
  }

  private val started = ConcurrentHashMap.newKeySet[Int]()
  private val ended = ConcurrentHashMap.newKeySet[Int]()
  private val jobPhase = new ConcurrentHashMap[Int, (String, Long)]()
  private val stagePhase = new ConcurrentHashMap[Int, String]()
  private val totals = new ConcurrentHashMap[String, Totals]()
  /** (phase, start ms, end ms) of every finished job. */
  val jobSpans = new ConcurrentLinkedQueue[(String, Long, Long)]()

  def of(phase: String): Totals = totals.computeIfAbsent(phase, _ => new Totals)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val phase = Option(e.properties)
      .flatMap(p => Option(p.getProperty(JobLog.PhaseKey))).getOrElse("")
    jobPhase.put(e.jobId, (phase, e.time))
    e.stageIds.foreach(s => stagePhase.put(s, phase))
    started.add(e.jobId); ()
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = {
    Option(jobPhase.get(e.jobId)).foreach { case (phase, t0) =>
      val t = of(phase)
      t.synchronized { t.jobs += 1; t.jobMs += (e.time - t0) }
      jobSpans.add((phase, t0, e.time))
    }
    ended.add(e.jobId); ()
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val t = of(stagePhase.getOrDefault(e.stageInfo.stageId, ""))
    t.synchronized { t.stages += 1 }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val t = of(stagePhase.getOrDefault(e.stageId, ""))
    val m = e.taskMetrics
    t.synchronized {
      t.tasks += 1
      if (m != null) {
        t.taskMs += m.executorRunTime
        t.shuffleBytes += m.shuffleReadMetrics.totalBytesRead +
          m.shuffleWriteMetrics.bytesWritten
        t.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
        t.gcMs += m.jvmGCTime
      }
    }
  }

  /** Deliver every event posted so far, then block until every started
    * job has ended (or `timeoutMs` passes); returns false on timeout. */
  def drain(sc: org.apache.spark.SparkContext, timeoutMs: Long = 30000): Boolean = {
    org.apache.spark.ListenerBusDrain(sc, timeoutMs)
    val deadline = System.currentTimeMillis() + timeoutMs
    while (!started.asScala.forall(ended.contains) &&
        System.currentTimeMillis() < deadline) Thread.sleep(5)
    started.asScala.forall(ended.contains)
  }
}

object JobLog {
  final val PhaseKey = "perfbench.phase"
}
