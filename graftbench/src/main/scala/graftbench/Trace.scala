package graftbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}
import scala.collection.mutable.ArrayBuffer

/** One timed call into a layer. `parent` is the enclosing span's id
  * (-1 at the top); `op` numbers the closed-loop operation the span
  * belongs to, so every span of one operation shares it. */
final case class Span(id: Int, parent: Int, op: Long, name: String,
    startNs: Long, endNs: Long) {
  def durNs: Long = endNs - startNs
}

/** Spans recorded from the benchmark's side of each layer boundary.
  * Disabled, [[span]] only runs its body: untraced runs pay nothing.
  * Enabled, spans are kept in memory and written once, at the end. The
  * benchmark has one client thread, so nesting is a plain stack. */
final class Tracer(val enabled: Boolean) {
  private val spans = ArrayBuffer.empty[Span]
  private var stack = List.empty[Int]
  private var op = 0L

  /** Start a new operation: spans until the next call share its id. */
  def nextOp(): Unit = op += 1

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = spans.size
      val parent = stack.headOption.getOrElse(-1)
      spans += Span(id, parent, op, name, System.nanoTime(), -1L)
      stack = id :: stack
      try body
      finally {
        stack = stack.tail
        spans(id) = spans(id).copy(endNs = System.nanoTime())
      }
    }

  def recorded: Seq[Span] = spans.toSeq

  /** Inclusive durations (ms) of every span named `name`. */
  def durationsMs(name: String): Seq[Double] =
    spans.iterator.filter(_.name == name).map(_.durNs / 1e6).toSeq

  def write(path: Path): Unit = {
    val lines = spans.iterator.map(s =>
      s"""{"id":${s.id},"parent":${s.parent},"op":${s.op},"name":"${s.name}",""" +
        s""""start_ns":${s.startNs},"end_ns":${s.endNs}}""")
    Files.createDirectories(path.getParent)
    Files.write(path, lines.mkString("", "\n", "\n").getBytes(StandardCharsets.UTF_8))
  }
}

object Tracer {
  /** Self time of every span: its duration minus the part of its
    * interval that its direct children cover. Children may overlap one
    * another (calls issued from several threads), so their intervals
    * are merged before subtracting, and each is clipped to the parent. */
  def selfTimesNs(spans: Seq[Span]): Map[Int, Long] = {
    val children = spans.filter(_.parent >= 0).groupBy(_.parent)
    spans.map { s =>
      val covered = children.getOrElse(s.id, Nil)
        .map(c => (math.max(c.startNs, s.startNs), math.min(c.endNs, s.endNs)))
        .filter { case (a, b) => b > a }
        .sortBy(_._1)
        .foldLeft((0L, Long.MinValue)) { case ((sum, reach), (a, b)) =>
          if (b <= reach) (sum, reach)
          else (sum + b - math.max(a, reach), b)
        }._1
      s.id -> (s.durNs - covered)
    }.toMap
  }

  /** Total self time (ms) per span name. */
  def selfMsByName(spans: Seq[Span]): Map[String, Double] = {
    val self = selfTimesNs(spans)
    spans.groupBy(_.name).map { case (n, ss) => n -> ss.map(s => self(s.id)).sum / 1e6 }
  }
}
