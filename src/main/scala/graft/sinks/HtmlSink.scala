package graft.sinks

import java.io.OutputStream
import java.nio.charset.StandardCharsets.UTF_8

import org.apache.spark.sql.DataFrame

import graft.Canonical

/** HTML-table sink, byte-compatible with the reference's fixed
  * skeleton (`/root/reference/src/renderers/htmlRenderer.ts:23-135`):
  * the same prologue/`<style>`/`<thead>` block, one `<tr>` per row
  * with HTML-escaped cells at the same indentation, a
  * `No data available` row (colspan=6) for empty input, and the same
  * epilogue. Rows render to UTF-8 on the executors and the driver
  * writes head, parts and tail only once every part has arrived, as
  * in [[JsonSink]]. A column absent from the frame renders as an
  * empty cell.
  */
object HtmlSink {

  /** `& < > " '` → entities, in the reference's replacement order
    * (`/root/reference/src/utils/string.ts:1-11`). `&` first, so
    * later-introduced entities are not double-escaped. */
  def escapeHtml(s: String): String =
    s.replace("&", "&amp;")
      .replace("<", "&lt;")
      .replace(">", "&gt;")
      .replace("\"", "&quot;")
      .replace("'", "&#039;")

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
    val parts = SinkRegistry.renderParts(df, "")(renderRow)
    val head = new StringBuilder(prologue)
    Canonical.headers.foreach(h => head.append(s"        <th>${escapeHtml(h)}</th>\n"))
    head.append("      </tr>\n")
    head.append("    </thead>\n")
    head.append("    <tbody>\n")
    if (parts.isEmpty)
      head.append(s"""      <tr><td colspan="${Canonical.headers.length}" style="text-align:center;">No data available</td></tr>\n""")
    out.write(head.toString.getBytes(UTF_8))
    parts.foreach(out.write)
    out.write(epilogue.getBytes(UTF_8))
  }

  def render(df: DataFrame): String = SinkRegistry.asString(write)(df)

  private def renderRow(values: Seq[Option[String]]): String =
    values.map(v => s"        <td>${escapeHtml(v.getOrElse(""))}</td>\n")
      .mkString("      <tr>\n", "", "      </tr>\n")
}
