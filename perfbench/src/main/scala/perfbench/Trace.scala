package perfbench

import java.util.concurrent.atomic.AtomicInteger
import scala.collection.mutable

/** One span: a named interval at a layer boundary, with the span that
  * caused it. Times are epoch nanoseconds on the benchmark's clock. */
final case class Span(id: Int, parent: Int, kind: String, name: String,
    startNs: Long, endNs: Long, attrs: Map[String, Any])

/** In-memory span recorder. Spans stay in memory until [[write]]; a
  * disabled tracer records nothing and costs one branch per call. Every
  * span descends from one root span (id 1) named after the workload,
  * open from the tracer's creation to [[write]]. */
final class Tracer(val enabled: Boolean, workload: String = "") {
  private val spans = mutable.ArrayBuffer[Span]()
  private val ids = new AtomicInteger(1)
  private val stack = new ThreadLocal[List[Int]] {
    override def initialValue(): List[Int] = Nil
  }

  /** Epoch nanoseconds: wall-clock anchored, monotonic within the run. */
  private val anchorNs = System.currentTimeMillis() * 1000000L - System.nanoTime()
  def nowNs: Long = anchorNs + System.nanoTime()
  private val createdNs = nowNs

  /** Run `f` inside a span named `name`, child of the calling thread's
    * innermost open span. */
  def span[T](kind: String, name: String)(f: => T): T =
    if (!enabled) f
    else {
      val id = ids.incrementAndGet()
      val parent = stack.get.headOption.getOrElse(1)
      stack.set(id :: stack.get)
      val t0 = nowNs
      try f
      finally {
        stack.set(stack.get.tail)
        record(Span(id, parent, kind, name, t0, nowNs, Map.empty))
      }
    }

  /** Record a span measured elsewhere (a listener callback); parent 0
    * means the root. */
  def add(parent: Int, kind: String, name: String, startNs: Long, endNs: Long,
      attrs: Map[String, Any] = Map.empty): Int =
    if (!enabled) 0
    else {
      val id = ids.incrementAndGet()
      record(Span(id, if (parent == 0) 1 else parent, kind, name, startNs, endNs, attrs))
      id
    }

  private def record(s: Span): Unit = synchronized { spans += s }

  def all: Seq[Span] = synchronized(spans.toList)

  /** Write the spans as JSON lines, ordered by start time. */
  def write(path: java.nio.file.Path): Unit = {
    val root = Span(1, 0, "workload", workload, createdNs, nowNs, Map.empty)
    val lines = (root +: all).sortBy(_.startNs).map { s =>
      Json.obj(Seq("id" -> s.id, "parent" -> s.parent, "kind" -> s.kind,
        "name" -> s.name, "start_ns" -> s.startNs, "end_ns" -> s.endNs,
        "dur_ms" -> (s.endNs - s.startNs) / 1e6) ++ s.attrs.toSeq.sortBy(_._1))
    }
    java.nio.file.Files.createDirectories(path.getParent)
    java.nio.file.Files.writeString(path, lines.mkString("", "\n", "\n"))
  }
}

/** Minimal JSON writer for flat records (numbers, strings, booleans,
  * sequences and nested maps). */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def value(v: Any): String = v match {
    case null => "null"
    case s: String => str(s)
    case b: Boolean => b.toString
    case d: Double =>
      if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
    case f: Float => value(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: scala.collection.Map[_, _] =>
      obj(m.toSeq.map { case (k, x) => k.toString -> x })
    case o: Option[_] => o.map(value).getOrElse("null")
    case s: Iterable[_] => s.map(value).mkString("[", ",", "]")
    case other => str(other.toString)
  }

  def obj(fields: Seq[(String, Any)]): String =
    fields.map { case (k, v) => str(k) + ":" + value(v) }.mkString("{", ",", "}")
}
