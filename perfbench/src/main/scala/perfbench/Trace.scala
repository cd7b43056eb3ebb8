package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.{AtomicLong, LongAdder}

import scala.collection.concurrent.TrieMap
import scala.jdk.CollectionConverters._

import org.apache.spark.TaskContext

/** In-memory spans and counters for the traced run.
  *
  * A span is (name, start, end, parent, trace id). Spans opened with
  * [[span]] nest under the span already open on the same thread; spans
  * measured elsewhere (e.g. the micro-batch phases reported by
  * `StreamingQueryProgress`, after the traced drains) are added with
  * [[record]], which only the traced run calls. Nothing is written until
  * [[write]] runs at exit. With `on` false every other call is a single
  * volatile read, so the untraced run pays nothing measurable.
  */
object Trace {
  @volatile var on: Boolean = false
  /** Prefix of every trace id: the drain, pass or phase now running. */
  @volatile var label: String = "-"

  final case class Span(id: Long, name: String, start: Long, end: Long,
      parent: Long, traceId: String)

  private val spans = new ConcurrentLinkedQueue[Span]()
  private val ids = new AtomicLong(0)
  private val open = ThreadLocal.withInitial[List[Long]](() => Nil)
  private val counters = TrieMap.empty[String, LongAdder]

  def reset(): Unit = { spans.clear(); counters.clear() }

  def count(name: String, n: Long = 1L): Unit =
    if (on) counters.getOrElseUpdate(name, new LongAdder).add(n)

  def counter(name: String): Long = counters.get(name).map(_.sum()).getOrElse(0L)

  /** Trace id of the caller: the running label plus the streaming batch
    * id when called from inside a micro-batch (stream or task thread).
    */
  def currentTraceId(): String = {
    val batch = Option(TaskContext.get()).flatMap(t => Option(t.getLocalProperty(BatchIdKey)))
      .orElse(Spark.localProperty(BatchIdKey))
    batch.fold(label)(b => s"$label/batch-$b")
  }
  val BatchIdKey = "streaming.sql.batchId"

  /** Times `body` as span `name`, counting calls and nanoseconds. */
  def span[T](name: String, traceId: => String = currentTraceId())(body: => T): T =
    if (!on) body
    else {
      val id = ids.incrementAndGet()
      val stack = open.get
      open.set(id :: stack)
      val t0 = System.nanoTime()
      try body
      finally {
        val t1 = System.nanoTime()
        open.set(stack)
        spans.add(Span(id, name, t0, t1, stack.headOption.getOrElse(0L), traceId))
        count(s"$name.calls")
        count(s"$name.ns", t1 - t0)
      }
    }

  /** Adds a span measured elsewhere; returns its id for children. */
  def record(name: String, start: Long, end: Long, parent: Long, traceId: String): Long = {
    val id = ids.incrementAndGet()
    spans.add(Span(id, name, start, end, parent, traceId))
    id
  }

  def allSpans: Seq[Span] = spans.asScala.toSeq

  /** Self time of each span: its duration minus the part of it that its
    * children cover (overlapping children are merged first).
    */
  def selfTimes(all: Seq[Span]): Map[Long, Long] = {
    val kids = all.groupBy(_.parent)
    all.map { s =>
      val ivs = kids.getOrElse(s.id, Nil)
        .map(c => (math.max(c.start, s.start), math.min(c.end, s.end)))
        .filter { case (a, b) => b > a }.sortBy(_._1)
      var covered = 0L
      var curA = Long.MinValue
      var curB = Long.MinValue
      ivs.foreach { case (a, b) =>
        if (a > curB) { covered += curB - curA; curA = a; curB = b }
        else curB = math.max(curB, b)
      }
      covered += curB - curA
      s.id -> (s.end - s.start - covered)
    }.toMap
  }

  /** Writes every span (one JSON object a line) and a per-name summary
    * of count, total and self seconds.
    */
  def write(dir: java.nio.file.Path): Unit = {
    val all = allSpans.sortBy(_.start)
    val self = selfTimes(all)
    val lines = all.map { s =>
      Json.obj("id" -> s.id, "name" -> s.name, "start_ns" -> s.start, "end_ns" -> s.end,
        "parent" -> s.parent, "trace" -> s.traceId, "self_ns" -> self(s.id))
    }
    java.nio.file.Files.write(dir.resolve("spans.jsonl"),
      lines.mkString("", "\n", "\n").getBytes("UTF-8"))
    val summary = all.groupBy(_.name).toSeq.sortBy(_._1).map { case (n, ss) =>
      n -> Json.obj("count" -> ss.size,
        "total_s" -> ss.map(s => s.end - s.start).sum / 1e9,
        "self_s" -> ss.map(s => self(s.id)).sum / 1e9)
    }
    java.nio.file.Files.write(dir.resolve("self_times.json"),
      Json.obj(summary: _*).json.getBytes("UTF-8"))
  }
}

/** Minimal JSON writer for the result files (numbers, strings, nested). */
object Json {
  final case class Raw(json: String) { override def toString: String = json }

  def obj(kv: (String, Any)*): Raw =
    Raw(kv.map { case (k, v) => s"${str(k)}: ${value(v)}" }.mkString("{", ", ", "}"))

  def value(v: Any): String = v match {
    case null => "null"
    case Raw(j) => j
    case s: String => str(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => value(f.toDouble)
    case n: Number => n.toString
    case xs: Iterable[_] => xs.map(value).mkString("[", ", ", "]")
    case other => str(other.toString)
  }

  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}
