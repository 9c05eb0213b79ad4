package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}
import scala.collection.mutable.ArrayBuffer

/** In-memory span store for one workload run. Every span carries the run
  * id; `parent` is the id of the span that caused it (-1 for roots).
  * Times are epoch milliseconds with sub-millisecond digits.
  */
final class Spans(val runId: String) {
  import Spans.S
  private val buf = ArrayBuffer.empty[S]

  def add(name: String, parent: Int, startMs: Double, endMs: Double,
          attrs: (String, Any)*): Int = synchronized {
    val id = buf.length
    buf += S(id, parent, name, startMs, endMs, attrs.toVector)
    id
  }

  /** Close a span opened with a provisional end. */
  def finish(id: Int, endMs: Double): Unit = synchronized {
    buf(id) = buf(id).copy(end = endMs)
  }

  def size: Int = synchronized(buf.length)

  /** One JSON object per line. */
  def writeTo(path: Path): Unit = synchronized {
    val sb = new StringBuilder
    buf.foreach { s =>
      sb.append(Json.render(Json.obj("run" -> runId, "id" -> s.id, "parent" -> s.parent,
        "name" -> s.name, "start_ms" -> s.start, "end_ms" -> s.end,
        "attrs" -> Json.obj(s.attrs: _*)))).append('\n')
    }
    Files.write(path, sb.toString.getBytes(StandardCharsets.UTF_8))
  }
}

object Spans {
  private final case class S(id: Int, parent: Int, name: String, start: Double, end: Double,
                             attrs: Vector[(String, Any)])
}
