package graft.sources

import java.util.Locale

import scala.collection.concurrent.TrieMap

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Map-backed source registry — the reference's parser plugin surface
  * (`/root/reference/src/parsers/index.ts:8-31`): case-insensitive
  * lookup, `register` for extension, unknown type → error naming the
  * registered set.
  *
  * A reader is `(spark, path, options) => DataFrame` producing the
  * canonical frame; formats are registered at class-load and callers
  * (the CLI) resolve by name, so new formats plug in without touching
  * call sites.
  */
object SourceRegistry {

  /** (delimiter, encoding) — the reference's ConversionOptions. */
  final case class SourceOptions(csvDelimiter: String = ",", encoding: String = "ISO-8859-1")

  type Reader = (SparkSession, String, SourceOptions) => DataFrame

  private val readers = TrieMap[String, Reader](
    "csv" -> ((s, p, o) => CsvSource.read(s, p, o.csvDelimiter, o.encoding)),
    "prn" -> ((s, p, o) => PrnSource.read(s, p, o.encoding)))

  def register(name: String, reader: Reader): Unit =
    readers.put(name.toLowerCase(Locale.ROOT), reader)

  def supported: Seq[String] = readers.keys.toSeq.sorted

  def apply(name: String): Reader =
    readers.getOrElse(name.toLowerCase(Locale.ROOT),
      throw new IllegalArgumentException(
        s"Unsupported input type: $name. Supported types are: ${supported.mkString(", ")}"))
}
