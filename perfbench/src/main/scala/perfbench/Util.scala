package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

/** Minimal JSON writer for the result file and the span dump. */
object Json {
  def render(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => render(x)
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double =>
      if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
    case f: Float => render(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ":" + render(x) }
        .mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(render).mkString("[", ",", "]")
    case xs: Array[_] => render(xs.toSeq)
    case other => quote(other.toString)
  }

  private def quote(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case '\n' => b ++= "\\n"
      case '\t' => b ++= "\\t"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    b += '"'
    b.result()
  }
}

object Stats {
  /** Linear-interpolated percentile (numpy's default), p in [0, 100]. */
  def pct(xs: Seq[Double], p: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted.toIndexedSeq
      val pos = (s.length - 1) * p / 100.0
      val lo = math.floor(pos).toInt
      val hi = math.ceil(pos).toInt
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }
  def median(xs: Seq[Double]): Double = pct(xs, 50)
  def mean(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else xs.sum / xs.length
}

/** Host stamps: hypervisor steal and run-queue load (the same sources
  * `graft.Bench` reads), process read bytes, and driver heap after GC. */
object Host {
  private def read(p: String): Option[String] =
    try Some(new String(Files.readAllBytes(Paths.get(p)), "UTF-8"))
    catch { case _: Exception => None }

  /** (busy, steal) jiffies summed over all CPUs. */
  def cpuTicks(): Option[(Long, Long)] = read("/proc/stat").flatMap { s =>
    s.linesIterator.find(_.startsWith("cpu ")).map { l =>
      val f = l.trim.split("\\s+").drop(1).map(_.toLong)
      (f(0) + f(2), if (f.length > 7) f(7) else 0L)
    }
  }

  def stealPct(t0: Option[(Long, Long)], t1: Option[(Long, Long)]): Double =
    (for ((b0, s0) <- t0; (b1, s1) <- t1) yield {
      val (busy, steal) = (b1 - b0, s1 - s0)
      if (busy + steal > 0) 100.0 * steal / (busy + steal) else 0.0
    }).getOrElse(-1.0)

  def loadAvg(): Double =
    read("/proc/loadavg").map(_.trim.split("\\s+")(0).toDouble).getOrElse(-1.0)

  /** Bytes this process asked the kernel to read (`rchar`). */
  def rchar(): Long = read("/proc/self/io").flatMap(_.linesIterator
    .find(_.startsWith("rchar:")).map(_.split(":")(1).trim.toLong)).getOrElse(0L)

  /** Peak heap in use right after any collection, since `reset()`. */
  object HeapAfterGc {
    @volatile private var peak = 0L
    private var installed = false

    def install(): Unit = synchronized {
      if (!installed) {
        installed = true
        ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
          case e: javax.management.NotificationEmitter =>
            e.addNotificationListener((n: javax.management.Notification, _: Any) =>
              if (n.getType == com.sun.management.GarbageCollectionNotificationInfo
                  .GARBAGE_COLLECTION_NOTIFICATION) {
                val info = com.sun.management.GarbageCollectionNotificationInfo
                  .from(n.getUserData.asInstanceOf[javax.management.openmbean.CompositeData])
                val used = info.getGcInfo.getMemoryUsageAfterGc.asScala
                  .collect { case (pool, u) if !pool.contains("Metaspace") &&
                    !pool.contains("Code") && !pool.contains("Compressed") => u.getUsed }
                  .sum
                if (used > peak) peak = used
              }, null, null)
          case _ => ()
        }
      }
    }
    def reset(): Unit = peak = 0L
    /** Forces one collection first, so a run with no GC still reports. */
    def peakMb(): Double = {
      System.gc()
      Thread.sleep(50)
      peak / (1024.0 * 1024.0)
    }
  }

  def deleteTree(p: Path): Unit = if (Files.exists(p)) {
    val s = Files.walk(p)
    try s.iterator().asScala.toSeq.reverse.foreach(Files.deleteIfExists)
    finally s.close()
  }

  def treeBytes(p: Path): Long = if (!Files.exists(p)) 0L else {
    val s = Files.walk(p)
    try s.iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum
    finally s.close()
  }
}
