package perfbench

import java.io.{BufferedWriter, FileOutputStream, OutputStreamWriter}
import java.nio.charset.StandardCharsets

/** Append-only JSON-lines log the harness leaves for `run.py`. One object
  * per line; values are strings, numbers, booleans, sequences or maps. */
final class Events(path: String) {
  private val w = new BufferedWriter(new OutputStreamWriter(
    new FileOutputStream(path, true), StandardCharsets.UTF_8))

  def emit(fields: (String, Any)*): Unit = synchronized {
    w.write(Events.json(fields.toMap))
    w.newLine()
    w.flush()
  }

  def close(): Unit = w.close()
}

object Events {
  def json(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => json(x)
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case n: BigDecimal => n.toString
    case (a, b) => json(Seq(a, b))
    case m: Map[_, _] => m.map { case (k, x) => quote(k.toString) + ":" + json(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(json).mkString("[", ",", "]")
    case other => quote(other.toString)
  }

  private def quote(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}
