package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

import scala.jdk.CollectionConverters._

/** In-memory span recorder for the traced run.
  *
  * A span is (id, parent, name, start, end) in `System.nanoTime` units
  * plus a few numeric attributes (rows, jobs, bytes). Spans are kept in
  * memory and written out once, when the run ends; nothing is recorded
  * when tracing is off, so the untraced run pays one branch per call.
  *
  * Spans are recorded from the benchmark's own code only: around the
  * calls it makes into the library, and from Spark's listener and
  * progress events. The library itself is not instrumented.
  */
final class Trace(val on: Boolean) {
  import Trace.Span

  private val spans = new ConcurrentLinkedQueue[Span]()
  private val ids = new AtomicInteger(0)
  private val stack = ThreadLocal.withInitial[List[Int]](() => Nil)
  // time spent inside the recorder itself: the tracing overhead
  private val selfNs = new AtomicLong(0L)

  def current: Int = stack.get.headOption.getOrElse(0)

  /** Run `f` inside a span named `name`, child of the innermost open
    * span on this thread. */
  def span[T](name: String, attrs: => Map[String, Double] = Map.empty)(f: => T): T =
    if (!on) f
    else {
      val r0 = System.nanoTime()
      val id = ids.incrementAndGet()
      val parent = current
      stack.set(id :: stack.get)
      val t0 = System.nanoTime()
      selfNs.addAndGet(t0 - r0)
      try f
      finally {
        val t1 = System.nanoTime()
        stack.set(stack.get.tail)
        spans.add(Span(id, parent, name, t0, t1, attrs))
        selfNs.addAndGet(System.nanoTime() - t1)
      }
    }

  /** Record a span measured elsewhere (a listener or progress event). */
  def record(name: String, startNs: Long, endNs: Long, parent: Int = 0,
      attrs: Map[String, Double] = Map.empty): Unit =
    if (on) {
      val r0 = System.nanoTime()
      spans.add(Span(ids.incrementAndGet(), parent, name, startNs, endNs, attrs))
      selfNs.addAndGet(System.nanoTime() - r0)
    }

  def all: Seq[Span] = spans.asScala.toSeq
  def named(name: String): Seq[Span] = all.filter(_.name == name)
  def overheadNs: Long = selfNs.get

  /** Self time of every span called `name`: its duration minus the part
    * its direct children cover. */
  def selfTimeNs(name: String): Long = {
    val byParent = all.groupBy(_.parent)
    named(name).map { s =>
      val covered = byParent.getOrElse(s.id, Nil).map(_.durNs).sum
      math.max(0L, s.durNs - covered)
    }.sum
  }

  /** One JSON object per line: id, parent, name, start/end (ns from the
    * earliest span), attributes. */
  def write(path: java.nio.file.Path): Unit = {
    val ss = all.sortBy(_.startNs)
    val base = ss.headOption.map(_.startNs).getOrElse(0L)
    val lines = ss.map { s =>
      Json.render(Map("id" -> s.id, "parent" -> s.parent, "name" -> s.name,
        "start_ns" -> (s.startNs - base), "end_ns" -> (s.endNs - base),
        "attrs" -> s.attrs))
    }
    java.nio.file.Files.createDirectories(path.getParent)
    java.nio.file.Files.write(path, lines.asJava)
    ()
  }
}

object Trace {
  final case class Span(id: Int, parent: Int, name: String, startNs: Long,
      endNs: Long, attrs: Map[String, Double]) {
    def durNs: Long = endNs - startNs
    def ms: Double = durNs / 1e6
  }
}
