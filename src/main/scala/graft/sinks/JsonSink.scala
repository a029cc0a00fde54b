package graft.sinks

import java.io.OutputStream
import java.nio.charset.StandardCharsets.UTF_8

import org.apache.spark.sql.DataFrame

import graft.Canonical

/** Streaming-JSON-array sink, byte-compatible with the reference
  * (`/root/reference/src/renderers/jsonRenderer.ts:17-48`):
  * `[\n  {row},\n  {row}\n]\n`, keys in canonical order, compact
  * objects, empty input → exactly `[]`.
  *
  * Spark's own JSON writer emits JSON-Lines with no array framing, so
  * the rows are rendered to UTF-8 on the executors
  * ([[SinkRegistry.renderParts]]) and the driver only frames the parts:
  * head, parts joined by the row separator, tail. Nothing is written
  * until every part has arrived, so a failed job leaves `out` empty.
  * A column absent from the frame is omitted from every object.
  */
object JsonSink {

  private val Sep = ",\n  "

  def write(df: DataFrame, out: OutputStream): Unit = {
    val parts = SinkRegistry.renderParts(df, Sep)(renderRow)
    if (parts.isEmpty) out.write("[]".getBytes(UTF_8))
    else {
      val sep = Sep.getBytes(UTF_8)
      out.write("[\n  ".getBytes(UTF_8))
      out.write(parts.head)
      parts.iterator.drop(1).foreach { p => out.write(sep); out.write(p) }
      out.write("\n]\n".getBytes(UTF_8))
    }
  }

  def render(df: DataFrame): String = SinkRegistry.asString(write)(df)

  private def renderRow(values: Seq[Option[String]]): String =
    Canonical.headers.zip(values)
      .collect { case (h, Some(v)) => s"${jsonString(h)}:${jsonString(v)}" }
      .mkString("{", ",", "}")

  /** JSON string literal, matching `JSON.stringify`: short escapes for
    * the common control chars, `\ u` form for the rest, non-ASCII
    * passes through (output is UTF-8). */
  private[sinks] def jsonString(s: String): String = {
    val sb = new StringBuilder(s.length + 2)
    sb.append('"')
    s.foreach {
      case '"'  => sb.append("\\\"")
      case '\\' => sb.append("\\\\")
      case '\b' => sb.append("\\b")
      case '\f' => sb.append("\\f")
      case '\n' => sb.append("\\n")
      case '\r' => sb.append("\\r")
      case '\t' => sb.append("\\t")
      case c if c < ' ' => sb.append(f"\\u${c.toInt}%04x")
      case c => sb.append(c)
    }
    sb.append('"')
    sb.toString
  }
}
