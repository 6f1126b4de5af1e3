package graft.perfbench

import scala.collection.mutable.ArrayBuffer

/** In-memory spans around the benchmark's own calls into graft. A span
  * holds its parent, the op it belongs to and the scheduler job count
  * at both ends; self time is derived offline (report.py). When tracing
  * is off `span` only runs the body. */
final class Trace(enabled: Boolean, jobs: () => Long) {
  private val spans = ArrayBuffer.empty[Map[String, Any]]
  private var stack = List.empty[Int]
  private var nextId = 0

  def on: Boolean = enabled

  def span[T](name: String, op: Int)(body: => T): T =
    if (!enabled) body
    else {
      val id = nextId
      nextId += 1
      val parent = stack.headOption.getOrElse(-1)
      val j0 = jobs()
      val t0 = System.nanoTime()
      stack = id :: stack
      try body
      finally {
        val t1 = System.nanoTime()
        stack = stack.tail
        spans += Map("id" -> id, "parent" -> parent, "name" -> name, "op" -> op,
          "start_ns" -> t0, "end_ns" -> t1, "jobs_start" -> j0, "jobs_end" -> jobs())
      }
    }

  def write(path: String): Unit =
    Json.writeLines(path, spans.toSeq)
}

/** Minimal JSON writer for the harness's maps and sequences. */
object Json {
  def apply(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => apply(x)
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => apply(f.toDouble)
    case n: Number => n.toString
    case m: Map[_, _] =>
      m.toSeq.sortBy(_._1.toString).map { case (k, x) => quote(k.toString) + ":" + apply(x) }
        .mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(apply).mkString("[", ",", "]")
    case xs: Array[_] => xs.map(apply).mkString("[", ",", "]")
    case other => quote(other.toString)
  }

  private def quote(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case '\n' => b ++= "\\n"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    (b += '"').toString
  }

  def write(path: String, v: Any): Unit =
    java.nio.file.Files.write(java.nio.file.Paths.get(path), apply(v).getBytes("UTF-8"))

  def writeLines(path: String, vs: Seq[Any]): Unit =
    java.nio.file.Files.write(java.nio.file.Paths.get(path),
      vs.map(v => apply(v) + "\n").mkString.getBytes("UTF-8"))
}
