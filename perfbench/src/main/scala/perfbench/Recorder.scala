package perfbench

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer
import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

/** One timed call into a layer. Times are wall-clock milliseconds on
  * the same clock as Spark's listener event times. */
final case class Span(id: Long, parent: Long, trace: Long, name: String,
    startMs: Double, var endMs: Double = Double.NaN,
    var ok: Boolean = true)

/** Everything a run measures, kept in memory and written out once at
  * the end as one JSON document (`run.py` turns it into metrics).
  *
  * Untraced runs record op latencies and counters only; traced runs
  * also keep every span, and [[Tracing]] adds the Spark job and
  * query-planning records.
  */
final class Recorder(val spark: SparkSession, val trace: Boolean) {
  private val anchorMs = System.currentTimeMillis().toDouble
  private val anchorNs = System.nanoTime()

  /** Wall-clock ms with nanosecond resolution. */
  def nowMs: Double = anchorMs + (System.nanoTime() - anchorNs) / 1e6

  val samples = mutable.LinkedHashMap[String, ArrayBuffer[Double]]()
  val values = mutable.LinkedHashMap[String, Any]()
  val spans = ArrayBuffer[Span]()
  var attempted = 0L
  var failed = 0L

  private var nextId = 1L
  private val open = new ThreadLocal[List[Span]] {
    override def initialValue(): List[Span] = Nil
  }

  def sample(metric: String, v: Double): Unit = synchronized {
    samples.getOrElseUpdate(metric, ArrayBuffer()) += v
  }

  def set(key: String, v: Any): Unit = synchronized { values(key) = v }

  /** Time one set-up phase into the value `setup.<name>_s`. */
  def phase[T](name: String)(body: => T): T = {
    val t0 = System.nanoTime()
    try body finally set(s"setup.${name}_s", (System.nanoTime() - t0) / 1e9)
  }

  /** Run `body` inside a span named `name`, child of the innermost span
    * open on this thread. The span id rides on the thread's Spark local
    * properties, so jobs submitted from this thread carry it. */
  def span[T](name: String)(body: => T): T = {
    val parent = open.get().headOption
    val sp = synchronized {
      val id = nextId; nextId += 1
      Span(id, parent.map(_.id).getOrElse(0L),
        parent.map(_.trace).getOrElse(id), name, nowMs)
    }
    val sc = spark.sparkContext
    val prevProp = sc.getLocalProperty(Recorder.SpanProp)
    open.set(sp :: open.get())
    sc.setLocalProperty(Recorder.SpanProp, sp.id.toString)
    try body
    catch { case e: Throwable => sp.ok = false; throw e }
    finally {
      sp.endMs = nowMs
      open.set(open.get().tail)
      sc.setLocalProperty(Recorder.SpanProp, prevProp)
      if (trace) synchronized { spans += sp }
    }
  }

  /** One client operation: counted as attempted, timed into the
    * `metric` samples (ms) and, when `failed`, counted as failed —
    * a failed op's time is not a latency sample. */
  def op[T](metric: String, name: String)(body: => T): Option[T] = {
    synchronized { attempted += 1 }
    val t0 = System.nanoTime()
    try {
      val r = span(name)(body)
      sample(metric, (System.nanoTime() - t0) / 1e6)
      Some(r)
    } catch {
      case NonFatal(e) =>
        synchronized { failed += 1 }
        System.err.println(s"[perfbench] op $name failed: $e")
        e.printStackTrace()
        None
    }
  }

  def toJson(extra: Map[String, Any]): String = synchronized {
    val spanRows = spans.map(s => Map("id" -> s.id, "parent" -> s.parent,
      "trace" -> s.trace, "name" -> s.name, "start" -> s.startMs,
      "end" -> s.endMs, "ok" -> s.ok)).toList
    Json.write(Map(
      "samples" -> samples.map { case (k, v) => k -> v.toList },
      "values" -> values,
      "spans" -> spanRows,
      "attempted" -> attempted,
      "failed" -> failed) ++ extra)
  }
}

object Recorder {
  val SpanProp = "perfbench.span"
}

/** Minimal JSON writer for maps, sequences, strings, numbers, booleans. */
object Json {
  def write(v: Any): String = {
    val sb = new StringBuilder
    def str(s: String): Unit = {
      sb += '"'
      s.foreach {
        case '"' => sb ++= "\\\""
        case '\\' => sb ++= "\\\\"
        case '\n' => sb ++= "\\n"
        case '\r' => sb ++= "\\r"
        case '\t' => sb ++= "\\t"
        case c if c < ' ' => sb ++= f"\\u${c.toInt}%04x"
        case c => sb += c
      }
      sb += '"'
    }
    def go(x: Any): Unit = x match {
      case null | None => sb ++= "null"
      case Some(y) => go(y)
      case s: String => str(s)
      case b: Boolean => sb ++= b.toString
      case d: Double =>
        sb ++= (if (d.isNaN || d.isInfinite) "null" else d.toString)
      case f: Float => go(f.toDouble)
      case n: Int => sb ++= n.toString
      case n: Long => sb ++= n.toString
      case m: scala.collection.Map[_, _] =>
        sb += '{'
        m.iterator.zipWithIndex.foreach { case ((k, y), i) =>
          if (i > 0) sb += ','
          str(k.toString); sb += ':'; go(y)
        }
        sb += '}'
      case s: Iterable[_] =>
        sb += '['
        s.iterator.zipWithIndex.foreach { case (y, i) =>
          if (i > 0) sb += ','
          go(y)
        }
        sb += ']'
      case a: Array[_] => go(a.toSeq)
      case other => str(other.toString)
    }
    go(v)
    sb.toString
  }
}
