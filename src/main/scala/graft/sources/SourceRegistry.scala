package graft.sources

import java.util.Locale

import scala.collection.immutable.ListMap

import org.apache.spark.sql.{DataFrame, SparkSession}

/** The source registry — the reference's parser surface
  * (`/root/reference/src/parsers/index.ts:8-31`): one ordered map from
  * format name to reader, looked up case-insensitively; an unknown name
  * is an error naming the formats in order. A reader is
  * `(spark, path, options) => DataFrame` producing the canonical frame.
  */
object SourceRegistry {

  /** (delimiter, encoding) — the reference's ConversionOptions. */
  final case class SourceOptions(csvDelimiter: String = ",", encoding: String = "ISO-8859-1")

  type Reader = (SparkSession, String, SourceOptions) => DataFrame

  private val readers = ListMap[String, Reader](
    "csv" -> ((s, p, o) => CsvSource.read(s, p, o.csvDelimiter, o.encoding)),
    "prn" -> ((s, p, o) => PrnSource.read(s, p, o.encoding)))

  def apply(name: String): Reader =
    readers.getOrElse(name.toLowerCase(Locale.ROOT),
      throw new IllegalArgumentException(s"Input type must be one of: ${readers.keys.mkString(", ")}."))
}
