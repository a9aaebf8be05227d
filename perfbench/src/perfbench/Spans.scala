package perfbench

import java.io.PrintWriter
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicInteger
import scala.jdk.CollectionConverters._

/** One timed interval at a layer boundary. `trace` is the operation id that
  * every span of one operation shares (its root span's id); `parent` is 0
  * for a root span. */
final case class Span(id: Int, name: String, parent: Int, trace: Int,
                      startNs: Long, endNs: Long) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** In-memory span recorder for the traced run. Spans are kept until
  * [[write]] at the end of the run; nothing is written while measuring.
  * The innermost open span of a thread is the default parent, and work
  * handed to another thread passes its parent explicitly. */
final class Spans {
  private val done = new ConcurrentLinkedQueue[Span]
  private val ids = new AtomicInteger
  private val open = new ThreadLocal[(Int, Int)] // (span id, trace id)

  def current: (Int, Int) = Option(open.get).getOrElse((0, 0))

  /** A root span: starts a new trace (operation). */
  def root[T](name: String)(body: => T): T = under((0, 0), name)(body)

  def apply[T](name: String)(body: => T): T = under(current, name)(body)

  /** Records `body` as a child of `parent` = (span id, trace id). */
  def under[T](parent: (Int, Int), name: String)(body: => T): T = {
    val id = ids.incrementAndGet()
    val trace = if (parent._2 == 0) id else parent._2
    val saved = open.get
    open.set((id, trace))
    val t0 = System.nanoTime()
    try body
    finally {
      done.add(Span(id, name, parent._1, trace, t0, System.nanoTime()))
      open.set(saved)
    }
  }

  def all: Seq[Span] = done.asScala.toSeq.sortBy(_.startNs)

  /** Span duration minus the part of it covered by the union of its
    * children's intervals (children may overlap under a fan-out). */
  def selfSeconds(spans: Seq[Span]): Map[Int, Double] = {
    val kids = spans.groupBy(_.parent)
    spans.map { s =>
      var covered = 0L
      var reach = s.startNs
      kids.getOrElse(s.id, Nil).map(k => (k.startNs max s.startNs, k.endNs min s.endNs))
        .filter { case (a, b) => b > a }.sortBy(_._1).foreach { case (a, b) =>
          if (b > reach) { covered += b - (a max reach); reach = b }
        }
      s.id -> (s.endNs - s.startNs - covered) / 1e9
    }.toMap
  }

  /** Total seconds of the spans with this name. */
  def total(name: String): Double = all.filter(_.name == name).map(_.seconds).sum

  def count(name: String): Int = all.count(_.name == name)

  /** Writes every span as one JSON line, then a per-name summary line
    * with its count, total and self seconds. */
  def write(path: java.nio.file.Path): Unit = {
    val spans = all
    val self = selfSeconds(spans)
    val base = spans.headOption.map(_.startNs).getOrElse(0L)
    val out = new PrintWriter(path.toFile, "UTF-8")
    try {
      spans.foreach { s =>
        out.println(
          s"""{"id":${s.id},"name":"${s.name}","parent":${s.parent},"trace":${s.trace},""" +
            f""""start_s":${(s.startNs - base) / 1e9}%.6f,"end_s":${(s.endNs - base) / 1e9}%.6f,""" +
            f""""self_s":${self(s.id)}%.6f}""")
      }
      spans.groupBy(_.name).toSeq.sortBy(_._1).foreach { case (n, ss) =>
        out.println(f"""{"summary":"$n","count":${ss.size},"total_s":${ss.map(_.seconds).sum}%.6f,""" +
          f""""self_s":${ss.map(s => self(s.id)).sum}%.6f}""")
      }
    } finally out.close()
  }
}
