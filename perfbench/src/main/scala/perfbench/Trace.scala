package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}
import scala.collection.mutable.ArrayBuffer

/** In-memory spans around the benchmark's calls into each layer, written
  * out when the run ends. A disabled trace runs the bodies and records
  * nothing, so untraced runs pay no tracing cost. */
final class Trace(val runId: String, val enabled: Boolean) {
  import Trace.Span

  private val spans = new ArrayBuffer[Span]
  private var open: List[Int] = Nil
  // task spans come from Spark with epoch-millisecond clocks
  private val epochNs0 = System.currentTimeMillis() * 1000000L
  private val nano0 = System.nanoTime()

  def current: Int = open.headOption.getOrElse(-1)

  /** The id the next span will get. */
  def nextId: Int = spans.length

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = spans.length
      spans += Span(id, current, name, System.nanoTime(), -1L)
      open = id :: open
      try body
      finally {
        open = open.tail
        spans(id) = spans(id).copy(endNs = System.nanoTime())
      }
    }

  /** Adds a finished span measured on the epoch-millisecond clock. */
  def addEpochMs(name: String, parent: Int, startMs: Long, endMs: Long): Unit =
    if (enabled) {
      def toNano(ms: Long) = nano0 + (ms * 1000000L - epochNs0)
      spans += Span(spans.length, parent, name, toNano(startMs), toNano(endMs))
    }

  /** Self time: a span's duration minus the part of it its children cover. */
  def selfNs(s: Span): Long = {
    val kids = spans.iterator.filter(_.parent == s.id)
      .map(c => (math.max(c.startNs, s.startNs), math.min(c.endNs, s.endNs)))
      .filter { case (a, b) => b > a }.toSeq.sortBy(_._1)
    var covered = 0L
    var reach = s.startNs
    kids.foreach { case (a, b) =>
      val from = math.max(a, reach)
      if (b > from) { covered += b - from; reach = b }
    }
    (s.endNs - s.startNs) - covered
  }

  /** Writes `spans.jsonl` and the per-layer table `layers.tsv` (one row per
    * span name: count, total and self milliseconds); returns the table. */
  def write(dir: Path): String = {
    Files.createDirectories(dir)
    val lines = spans.map { s =>
      Json(Seq("run" -> runId, "id" -> s.id, "parent" -> s.parent, "name" -> s.name,
        "start_ns" -> (s.startNs - nano0), "end_ns" -> (s.endNs - nano0)))
    }
    Files.write(dir.resolve("spans.jsonl"), lines.mkString("", "\n", "\n").getBytes(UTF_8))
    val rows = spans.groupBy(_.name).toSeq.map { case (name, ss) =>
      (name, ss.length, ss.map(s => s.endNs - s.startNs).sum / 1e6, ss.map(selfNs).sum / 1e6)
    }.sortBy(-_._3)
    val table = ("layer\tspans\ttotal_ms\tself_ms" +: rows.map { case (n, c, t, s) =>
      f"$n\t$c\t$t%.3f\t$s%.3f"
    }).mkString("\n")
    Files.write(dir.resolve("layers.tsv"), (table + "\n").getBytes(UTF_8))
    table
  }
}

object Trace {
  final case class Span(id: Int, parent: Int, name: String, startNs: Long, endNs: Long)
}
