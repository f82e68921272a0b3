package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong
import scala.jdk.CollectionConverters._

/** One traced interval. Times are `System.nanoTime` values; `layer`
  * names the program layer the span's self time is charged to. */
case class Span(id: Long, parent: Long, layer: String, name: String,
    start: Long, end: Long) {
  def durNs: Long = end - start
}

/** In-memory span recorder. Disabled (the untraced run), every call is
  * a no-op apart from the enabled check; enabled, spans accumulate in
  * memory and are written out once, at the end of the run. */
class Spans(val enabled: Boolean) {
  private val ids = new AtomicLong(0)
  private val all = new ConcurrentLinkedQueue[Span]()

  def nextId(): Long = ids.incrementAndGet()

  def add(parent: Long, layer: String, name: String, start: Long,
      end: Long, id: Long = -1L): Long =
    if (!enabled) -1L
    else {
      val sid = if (id > 0) id else nextId()
      all.add(Span(sid, parent, layer, name, start, end))
      sid
    }

  /** Time `body` as a span; returns the body's result. */
  def around[T](parent: Long, layer: String, name: String)(body: Long => T): T = {
    val id = if (enabled) nextId() else -1L
    val t0 = System.nanoTime()
    try body(id)
    finally add(parent, layer, name, t0, System.nanoTime(), id)
  }

  def spans: Seq[Span] = all.asScala.toSeq

  /** Replaces the recorded spans, for spans re-parented after the run. */
  def replace(ss: Seq[Span]): Unit = if (enabled) { all.clear(); ss.foreach(all.add) }

  def writeJson(path: java.nio.file.Path): Unit = {
    val sb = new StringBuilder("[\n")
    spans.sortBy(_.start).zipWithIndex.foreach { case (s, i) =>
      if (i > 0) sb.append(",\n")
      sb.append(s"""{"id":${s.id},"parent":${s.parent},"layer":${Json.str(s.layer)},""" +
        s""""name":${Json.str(s.name)},"start_ns":${s.start},"end_ns":${s.end}}""")
    }
    sb.append("\n]\n")
    java.nio.file.Files.write(path, sb.toString.getBytes("UTF-8"))
  }
}

object Spans {
  /** Self time of each span: its duration minus the union of the parts
    * of its interval covered by its direct children (overlapping
    * children, as with concurrent tasks, are counted once). */
  def selfTimes(spans: Seq[Span]): Map[Long, Long] = {
    val kids = spans.filter(_.parent > 0).groupBy(_.parent)
    spans.map { s =>
      val covered = kids.getOrElse(s.id, Nil)
        .map(k => (math.max(k.start, s.start), math.min(k.end, s.end)))
        .filter { case (a, b) => b > a }
        .sortBy(_._1)
        .foldLeft((0L, Long.MinValue)) { case ((sum, reach), (a, b)) =>
          if (b <= reach) (sum, reach)
          else (sum + (b - math.max(a, reach)), b)
        }._1
      s.id -> (s.durNs - covered)
    }.toMap
  }

  /** Self time summed per layer, in milliseconds. */
  def selfMsByLayer(spans: Seq[Span]): Map[String, Double] = {
    val self = selfTimes(spans)
    spans.groupBy(_.layer).map { case (layer, ss) =>
      layer -> ss.map(s => self(s.id)).sum / 1e6
    }
  }
}

object Clock {
  /** `System.nanoTime` minus epoch nanoseconds, to place Spark's
    * epoch-millisecond event times on the spans' clock. */
  val nanoMinusMillis: Long = System.nanoTime() - System.currentTimeMillis() * 1000000L
}

object Json {
  def str(s: String): String = {
    val sb = new StringBuilder("\"")
    s.foreach {
      case '"' => sb.append("\\\"")
      case '\\' => sb.append("\\\\")
      case '\n' => sb.append("\\n")
      case c if c < ' ' => sb.append(f"\\u${c.toInt}%04x")
      case c => sb.append(c)
    }
    sb.append('"').toString
  }

  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null"
    else if (v == math.rint(v) && math.abs(v) < 1e15) v.toLong.toString
    else v.toString

  def value(v: Any): String = v match {
    case null => "null"
    case s: String => str(s)
    case b: Boolean => b.toString
    case d: Double => num(d)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: collection.Map[_, _] => obj(m.toSeq.map { case (k, x) => k.toString -> x })
    case xs: Seq[_] => xs.map(value).mkString("[", ",", "]")
    case other => str(other.toString)
  }

  def obj(kvs: Seq[(String, Any)]): String =
    kvs.map { case (k, v) => s"${str(k)}:${value(v)}" }.mkString("{", ",", "}")
}
