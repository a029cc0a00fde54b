package graft.sinks

import java.io.OutputStream
import java.nio.charset.StandardCharsets.UTF_8

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.{Expression, Literal}
import org.apache.spark.unsafe.types.UTF8String

import graft.Canonical

/** HTML-table sink, byte-compatible with the reference's fixed
  * skeleton (`/root/reference/src/renderers/htmlRenderer.ts:23-135`):
  * the same prologue/`<style>`/`<thead>` block, one `<tr>` per row
  * with HTML-escaped cells at the same indentation, a
  * `No data available` row (colspan=6) for empty input, and the same
  * epilogue. Each row renders to UTF-8 on the executors as one
  * [[RenderRow]] and the driver writes head, parts and tail only once
  * every part has arrived, as in [[JsonSink]]. Cells and header names
  * go through the one byte escaper, [[escape]]. A column absent from
  * the frame renders as an empty cell.
  */
object HtmlSink {

  private val Entities: Array[Array[Byte]] = {
    val e = new Array[Array[Byte]](128)
    Seq('&' -> "&amp;", '<' -> "&lt;", '>' -> "&gt;", '"' -> "&quot;", '\'' -> "&#039;")
      .foreach { case (c, entity) => e(c) = entity.getBytes(UTF_8) }
    e
  }

  /** `& < > " '` → entities, as the reference's `escapeHtml`
    * (`src/utils/string.ts:1-11` of the reference) replaces them;
    * every other byte passes through. */
  def escape(s: UTF8String, out: ByteSink): Unit = {
    val n = s.numBytes
    var from = 0
    var i = 0
    while (i < n) {
      val b = s.getByte(i)
      if (b < 0 || Entities(b) == null) i += 1
      else {
        out.write(s, from, i)
        out.write(Entities(b))
        i += 1
        from = i
      }
    }
    out.write(s, from, n)
  }

  def escapeHtml(s: String): String = SinkRegistry.escaped(escape)(s)

  private val prologue: String =
    """<!DOCTYPE html>
      |<html lang="en">
      |<head>
      |  <meta charset="UTF-8">
      |  <meta name="viewport" content="width=device-width, initial-scale=1.0">
      |  <title>Data Output</title>
      |  <style>
      |    body { font-family: sans-serif; margin: 20px; }
      |    table { border-collapse: collapse; width: 100%; margin-top: 20px; }
      |    th, td { border: 1px solid #ddd; padding: 8px; text-align: left; }
      |    th { background-color: #f2f2f2; }
      |    tr:nth-child(even) { background-color: #f9f9f9; }
      |  </style>
      |</head>
      |<body>
      |  <h1>Processed Data</h1>
      |  <table>
      |    <thead>
      |      <tr>
      |""".stripMargin

  private val epilogue: String =
    """    </tbody>
      |  </table>
      |</body>
      |</html>
      |""".stripMargin

  def write(df: DataFrame, out: OutputStream): Unit = {
    val parts = SinkRegistry.renderParts(df, "")(row)
    val head = new StringBuilder(prologue)
    Canonical.headers.foreach(h => head.append(s"        <th>${escapeHtml(h)}</th>\n"))
    head.append("      </tr>\n")
    head.append("    </thead>\n")
    head.append("    <tbody>\n")
    if (!parts.hasNext)
      head.append(s"""      <tr><td colspan="${Canonical.headers.length}" style="text-align:center;">No data available</td></tr>\n""")
    out.write(head.toString.getBytes(UTF_8))
    parts.foreach(out.write)
    out.write(epilogue.getBytes(UTF_8))
  }

  def render(df: DataFrame): String = SinkRegistry.asString(write)(df)

  /** `<tr>` with one `<td>` per canonical column, empty for an absent one. */
  private def row(cells: Seq[Option[Expression]]): RenderRow = {
    val td = "</td>\n        <td>"
    RenderRow(escape,
      ("      <tr>\n        <td>" +: Seq.fill(cells.length - 1)(td)) :+ "</td>\n      </tr>\n",
      cells.map(_.getOrElse(Literal(""))))
  }
}
