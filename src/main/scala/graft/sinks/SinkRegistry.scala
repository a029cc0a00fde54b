package graft.sinks

import java.io.{ByteArrayOutputStream, OutputStream}
import java.nio.charset.StandardCharsets.UTF_8
import java.util.Locale

import scala.collection.concurrent.TrieMap

import org.apache.spark.sql.{DataFrame, Encoders}
import org.apache.spark.sql.functions.col

import graft.Canonical

/** Map-backed renderer registry — the reference's renderer plugin
  * surface (`/root/reference/src/renderers/index.ts:12-58`):
  * case-insensitive lookup, `register` for extension, unknown type →
  * error naming the registered set. A writer renders the canonical
  * frame as one document onto an `OutputStream`; [[apply]] adapts it
  * to a function returning the document as a string. */
object SinkRegistry {

  type Writer = (DataFrame, OutputStream) => Unit
  type Renderer = DataFrame => String

  private val writers = TrieMap[String, Writer](
    "json" -> JsonSink.write,
    "html" -> HtmlSink.write)

  def register(name: String, writer: Writer): Unit =
    writers.put(name.toLowerCase(Locale.ROOT), writer)

  def supported: Seq[String] = writers.keys.toSeq.sorted

  def writer(name: String): Writer =
    writers.getOrElse(name.toLowerCase(Locale.ROOT),
      throw new IllegalArgumentException(
        s"Unsupported output type: $name. Supported types are: ${supported.mkString(", ")}"))

  /** The document as a string, through the same writer. */
  def apply(name: String): Renderer = asString(writer(name))

  private[sinks] def asString(w: Writer): Renderer = df => {
    val bytes = new ByteArrayOutputStream
    w(df, bytes)
    bytes.toString(UTF_8)
  }

  /** Rows per rendered part: a task holds one part at a time. */
  private val PartRows = 10000

  /** Renders the rows of `df` on the executors and returns the parts in
    * partition order, which is input order (see [[Canonical.idxCol]]),
    * so nothing is sorted. Each partition yields UTF-8 parts of up to
    * [[PartRows]] rows, joined by `sep`; an empty partition yields none,
    * so every part is non-empty. One Dataset action: one job, no
    * shuffle. `row` gets the cells in canonical order: `None` for a
    * column the frame lacks, `""` for a null value. */
  private[sinks] def renderParts(df: DataFrame, sep: String)(
      row: Seq[Option[String]] => String): Array[Array[Byte]] = {
    val present = Canonical.headers.filter(df.columns.contains)
    val slots = Canonical.headers.map(present.indexOf)
    df.select(present.map(c => col(s"`$c`").cast("string")): _*)
      .mapPartitions(_.grouped(PartRows).map { rows =>
        rows.map { r =>
          row(slots.map(i => if (i < 0) None else Some(Option(r.getString(i)).getOrElse(""))))
        }.mkString(sep).getBytes(UTF_8)
      })(Encoders.BINARY)
      .collect()
  }
}
