package graft.sinks

import java.io.OutputStream
import java.nio.charset.StandardCharsets.UTF_8

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.unsafe.types.UTF8String

import graft.Canonical

/** Streaming-JSON-array sink, byte-compatible with the reference
  * (`/root/reference/src/renderers/jsonRenderer.ts:17-48`):
  * `[\n  {row},\n  {row}\n]\n`, keys in canonical order, compact
  * objects, empty input → exactly `[]`.
  *
  * Spark's own JSON writer emits JSON-Lines with no array framing, so
  * each row is rendered to UTF-8 on the executors by one [[RenderRow]]
  * (the keys, escaped once on the driver, are its fixed fragments) and
  * the driver only frames the parts ([[SinkRegistry.renderParts]]):
  * head, parts joined by the row separator, tail. Nothing is written
  * until every part has arrived, so a failed job leaves `out` empty.
  * A column absent from the frame is omitted from every object.
  */
object JsonSink {

  private val Sep = ",\n  "

  def write(df: DataFrame, out: OutputStream): Unit = {
    val parts = SinkRegistry.renderParts(df, Sep)(row)
    if (!parts.hasNext) out.write("[]".getBytes(UTF_8))
    else {
      val sep = Sep.getBytes(UTF_8)
      out.write("[\n  ".getBytes(UTF_8))
      out.write(parts.next())
      parts.foreach { p => out.write(sep); out.write(p) }
      out.write("\n]\n".getBytes(UTF_8))
    }
  }

  def render(df: DataFrame): String = SinkRegistry.asString(write)(df)

  /** `{"key":"cell",...}` over the present columns. */
  private def row(cells: Seq[Option[Expression]]): RenderRow = {
    val present = Canonical.headers.zip(cells).collect { case (h, Some(c)) => (h, c) }
    val key = SinkRegistry.escaped(escape) _
    val frags =
      if (present.isEmpty) Seq("{}")
      else present.zipWithIndex.map { case ((h, _), i) =>
        (if (i == 0) "{\"" else "\",\"") + key(h) + "\":\""
      } :+ "\"}"
    RenderRow(escape, frags, present.map(_._2))
  }

  private val Hex = "0123456789abcdef".getBytes(UTF_8)

  /** The body of a JSON string literal, matching `JSON.stringify`:
    * short escapes for `"`, `\\` and the common control chars, `\\u00xx`
    * for the other C0 controls; every other byte passes through
    * (output is UTF-8). */
  def escape(s: UTF8String, out: ByteSink): Unit = {
    val n = s.numBytes
    var from = 0
    var i = 0
    while (i < n) {
      val c = s.getByte(i) & 0xFF
      if (c >= 0x20 && c != '"' && c != '\\') i += 1
      else {
        out.write(s, from, i)
        out.write('\\')
        c match {
          case 0x22 | 0x5C => out.write(c)
          case 0x08 => out.write('b')
          case 0x0C => out.write('f')
          case 0x0A => out.write('n')
          case 0x0D => out.write('r')
          case 0x09 => out.write('t')
          case _ =>
            out.write('u'); out.write('0'); out.write('0')
            out.write(Hex(c >> 4)); out.write(Hex(c & 0xF))
        }
        i += 1
        from = i
      }
    }
    out.write(s, from, n)
  }
}
