package graft.sources

import java.io.{BufferedInputStream, InputStreamReader}
import java.nio.charset.Charset
import java.nio.file.{Files, Paths}

import com.univocity.parsers.csv.CsvParser
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.csv.CSVOptions
import org.apache.spark.sql.execution.datasources.csv.CSVUtils
import org.apache.spark.sql.types.{StringType, StructField, StructType}

import graft.Canonical
import graft.functions.Normalize

/** Delimited-text source producing the canonical 6-column frame.
  *
  * Reproduces the reference CSV scan semantics
  * (`/root/reference/src/parsers/csvParser.ts:16-49`): header row
  * defines input columns (trimmed), empty lines skipped, RFC-style
  * quoting, configurable single-char delimiter, latin1 decoding, and
  * the schema-alignment + per-field normalization pass on every row.
  *
  * Spark-first shape: one `spark.read.csv` (the scan) + one `select`
  * of normalization expressions (the transform) — Catalyst fuses the
  * whole thing into a single whole-stage-codegen'd pass over the
  * file, whose partitions follow the file.
  */
object CsvSource {

  /** The file as the canonical frame. One driver-side pass over the
    * file runs first ([[firstLine]]): an RFC-4180 quote scan that
    * rejects unterminated quoted fields with the reference's error
    * shape (`csvParser.ts:55-57` — univocity would swallow small
    * malformed files silently), and the header line, from which the
    * schema is derived ([[headerSchema]]) without a Spark job; blank
    * input yields the canonical empty frame. */
  def read(spark: SparkSession, path: String, delimiter: String = ",", encoding: String = "ISO-8859-1"): DataFrame = {
    val options = readerOptions(delimiter, encoding)
    firstLine(path, encoding).fold(empty(spark)) { header =>
      Normalize.align(spark.read.options(options).schema(headerSchema(spark, header, options)).csv(path))
    }
  }

  /** The CSV reader's options: a header row, RFC-4180 quoting with
    * doubled-quote escaping, and a failure on a malformed record. */
  private[graft] def readerOptions(delimiter: String, encoding: String): Map[String, String] = Map(
    "header" -> "true",
    "delimiter" -> delimiter,
    "encoding" -> encoding,
    "quote" -> "\"",
    "escape" -> "\"",
    "mode" -> "FAILFAST")

  /** The schema Spark's CSV reader infers from `header` under `options`
    * with schema inference off, as `TextInputCSVDataSource.inferFromDataset`
    * derives it: the line split by univocity with the reader's
    * settings, then `makeSafeHeader` (empty names become `_c<i>`,
    * duplicates, case-insensitively unless the session is
    * case-sensitive, get their index appended), every field a string.
    * Computed on the driver without planning a query. */
  private[graft] def headerSchema(spark: SparkSession, header: String, options: Map[String, String]): StructType = {
    val parsed = new CSVOptions(options, false, "UTC") // column pruning and time zone: unused by the header
    val names = new CsvParser(parsed.asParserSettings).parseLine(header)
    val caseSensitive = spark.conf.get("spark.sql.caseSensitive").toBoolean
    StructType(CSVUtils.makeSafeHeader(names, caseSensitive, parsed).map(StructField(_, StringType)))
  }

  /** Canonical empty frame (0 rows, 6 columns). */
  def empty(spark: SparkSession): DataFrame =
    spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], Canonical.schema)

  /** One buffered pass over the raw file: a minimal RFC-4180 state
    * machine that flags an unterminated quoted field at EOF, and the
    * line Spark's CSV reader takes as the header — the first whose
    * `String.trim` is non-empty, lines ending at `\n`, `\r\n` or a lone
    * `\r`, after a UTF-8 byte-order mark, which Hadoop's line reader
    * skips at the start of a file whatever the encoding.
    * @return the header line, None when the file is blank */
  private def firstLine(path: String, encoding: String): Option[String] = {
    val bytes = new BufferedInputStream(Files.newInputStream(Paths.get(path)))
    bytes.mark(3)
    if (!java.util.Arrays.equals(bytes.readNBytes(3), Array(0xEF, 0xBB, 0xBF).map(_.toByte)))
      bytes.reset()
    val in = new InputStreamReader(bytes, Charset.forName(encoding))
    try {
      val buf = new Array[Char](1 << 16)
      val line = new StringBuilder
      var header: Option[String] = None
      var inQuotes = false
      var prevQuote = false
      var n = in.read(buf)
      while (n != -1) {
        var i = 0
        while (i < n) {
          val c = buf(i)
          if (header.isEmpty) {
            if (c != '\n' && c != '\r') line += c
            else if (line.toString.trim.isEmpty) line.clear()
            else header = Some(line.toString)
          }
          if (inQuotes) {
            if (prevQuote) {
              // previous char was a quote inside a quoted field:
              // "" is an escaped quote, anything else ends the field
              if (c == '"') { prevQuote = false }
              else { inQuotes = false; prevQuote = false }
            } else if (c == '"') prevQuote = true
          } else if (c == '"') {
            inQuotes = true
          }
          i += 1
        }
        n = in.read(buf)
      }
      if (inQuotes && !prevQuote)
        throw new IllegalArgumentException(
          "CSV parsing error: Quote Not Closed: the parsing of the file ended with an unclosed quoted field")
      header.orElse(Some(line.toString).filter(_.trim.nonEmpty))
    } finally in.close()
  }
}
