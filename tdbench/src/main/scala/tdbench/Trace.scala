package tdbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

/** One recorded span. `parent` is 0 for an operation's root span; `op` is
  * the operation the span worked for. The layer is the name's first
  * segment (`store.commit` → `store`). */
final case class Span(id: Long, name: String, startNs: Long, endNs: Long,
    parent: Long, op: Long) {
  def layer: String = name.takeWhile(_ != '.')
  def durNs: Long = endNs - startNs
}

/** A count recorded at a layer boundary by a traced operation. */
final case class Count(op: Long, name: String, value: Double)

/** In-memory span recorder for the traced run.
  *
  * Spans are recorded from the benchmark's own code around each call into
  * a layer. Recording happens only while the calling thread works for a
  * traced operation: [[op]] opens the root span on the client thread, and
  * [[adoptHere]] lends the current span to code that the program runs on
  * its own threads (flow function bodies run on the HTTP server's pool), so
  * their spans attach under it. Adoption is process-wide, which is only
  * sound with one client — the workloads that use it have one. */
object Trace {
  private final class Frame(val op: Long, val span: Long)

  private val ids = new AtomicLong(0)
  private val spans = new ConcurrentLinkedQueue[Span]()
  private val counts = new ConcurrentLinkedQueue[Count]()
  private val current = new ThreadLocal[Frame]
  @volatile private var adopted: Frame = null

  private def frame: Frame = Option(current.get).getOrElse(adopted)

  /** Run `body` as operation `opId`; records its root span when `traced`. */
  def op[A](opId: Long, traced: Boolean)(body: => A): A =
    if (!traced) body
    else {
      val root = new Frame(opId, 0L)
      val prev = current.get
      current.set(root)
      try span("bench.op")(body) finally current.set(prev)
    }

  def span[A](name: String)(body: => A): A = {
    val f = frame
    if (f == null) body
    else {
      val id = ids.incrementAndGet()
      val prev = current.get
      current.set(new Frame(f.op, id))
      val t0 = System.nanoTime()
      try body
      finally {
        val t1 = System.nanoTime()
        current.set(prev)
        spans.add(Span(id, name, t0, t1, f.span, f.op))
      }
    }
  }

  /** Spans opened on other threads while `body` runs attach to the
    * current span. */
  def adoptHere[A](body: => A): A = {
    val f = current.get
    if (f == null) body
    else {
      adopted = f
      try body finally adopted = null
    }
  }

  /** Record a count for the traced operation in flight, if any. */
  def count(name: String, value: Double): Unit = {
    val f = frame
    if (f != null) counts.add(Count(f.op, name, value))
  }

  def allSpans: Seq[Span] = spans.asScala.toSeq
  def allCounts: Seq[Count] = counts.asScala.toSeq

  def reset(): Unit = { spans.clear(); counts.clear() }

  /** Self time of each span: its duration minus the part of its interval
    * that its children cover (children may overlap one another). */
  def selfTimes(all: Seq[Span]): Map[Long, Long] = {
    val children = all.groupBy(_.parent)
    all.map { s =>
      val covered = Stats.unionLength(children.getOrElse(s.id, Nil).map { c =>
        (math.max(c.startNs, s.startNs), math.min(c.endNs, s.endNs))
      })
      s.id -> (s.durNs - covered)
    }.toMap
  }

  /** Σ self time per layer, in ns. */
  def layerSelf(all: Seq[Span]): Map[String, Long] = {
    val self = selfTimes(all)
    all.groupBy(_.layer).map { case (l, ss) => l -> ss.map(s => self(s.id)).sum }
  }

  /** Write every recorded span and count as JSON lines. */
  def dump(path: Path): Unit = {
    Files.createDirectories(path.getParent)
    val w = Files.newBufferedWriter(path, StandardCharsets.UTF_8)
    try {
      allSpans.sortBy(_.startNs).foreach { s =>
        w.write(s"""{"span":${s.id},"name":"${s.name}","start_ns":${s.startNs},""" +
          s""""end_ns":${s.endNs},"parent":${s.parent},"op":${s.op}}""")
        w.newLine()
      }
      allCounts.foreach { c =>
        w.write(s"""{"count":"${c.name}","value":${c.value},"op":${c.op}}""")
        w.newLine()
      }
    } finally w.close()
  }
}
