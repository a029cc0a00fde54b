package graft.sinks

import java.io.{ByteArrayOutputStream, OutputStream}
import java.nio.charset.StandardCharsets.UTF_8
import java.util.Locale

import scala.collection.immutable.ListMap

import net.jpountz.lz4.LZ4Factory
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.unsafe.types.UTF8String

import graft.Canonical

/** The renderer registry — the reference's renderer surface
  * (`/root/reference/src/renderers/index.ts:12-58`): one ordered map
  * from format name to writer, looked up case-insensitively; an unknown
  * name is an error naming the formats in order. A writer renders the
  * canonical frame as one document onto an `OutputStream`; [[apply]]
  * adapts it to a function returning the document as a string.
  *
  * The writers render each row to UTF-8 bytes inside the scan's
  * whole-stage-codegen'd stage with one [[RenderRow]] expression,
  * whose cells go through the sink's byte escaper; [[renderParts]]
  * only groups that binary column into parts. */
object SinkRegistry {

  type Writer = (DataFrame, OutputStream) => Unit
  type Renderer = DataFrame => String

  private val writers = ListMap[String, Writer]("json" -> JsonSink.write, "html" -> HtmlSink.write)

  def writer(name: String): Writer =
    writers.getOrElse(name.toLowerCase(Locale.ROOT),
      throw new IllegalArgumentException(s"Output type must be one of: ${writers.keys.mkString(", ")}."))

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
    * partition order. This is the sinks' one ordering rule: the
    * sources' partitions follow the input, so partition order is input
    * order, and nothing is sorted. `row` builds the one binary column that holds
    * each row's bytes (a [[RenderRow]]) from the cells in canonical
    * order: `None` for a column the frame lacks, else the column cast
    * to string. Each partition yields parts of up to [[PartRows]] rows,
    * joined by `sep`; an empty partition yields none, so every part is
    * non-empty. One job, no shuffle, no encoder: the tasks read the
    * rendered bytes straight off the plan's rows. The job has finished
    * when this returns; a part travels and waits LZ4-compressed, so
    * `spark.driver.maxResultSize` and the driver's heap bound the
    * compressed document, and it is decompressed as the iterator
    * reaches it. */
  private[sinks] def renderParts(df: DataFrame, sep: String)(
      row: Seq[Option[Expression]] => RenderRow): Iterator[Array[Byte]] = {
    val cells = Canonical.headers.map { h =>
      if (df.columns.contains(h)) Some(Bridge.expression(col(s"`$h`").cast("string"))) else None
    }
    val sepBytes = sep.getBytes(UTF_8)
    val packed = Bridge.runJob(df.select(Bridge.column(row(cells))), "render") { rows =>
      val lz4 = LZ4Factory.fastestJavaInstance().fastCompressor()
      rows.map(_.getBinary(0)).grouped(PartRows).map { rendered =>
        val part = new ByteSink(1 << 16)
        rendered.iterator.zipWithIndex.foreach { case (r, i) =>
          if (i > 0) part.write(sepBytes)
          part.write(r)
        }
        val bytes = part.toByteArray
        (bytes.length, lz4.compress(bytes))
      }.toArray
    }.flatten
    val lz4 = LZ4Factory.fastestJavaInstance().fastDecompressor()
    packed.iterator.map { case (length, bytes) => lz4.decompress(bytes, length) }
  }

  /** `s` through a sink's byte escaper, as a string: the head and keys. */
  private[sinks] def escaped(escape: (UTF8String, ByteSink) => Unit)(s: String): String = {
    val out = new ByteSink
    escape(UTF8String.fromString(s), out)
    new String(out.toByteArray, UTF_8)
  }
}
