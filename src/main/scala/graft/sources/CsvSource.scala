package graft.sources

import java.io.InputStreamReader
import java.nio.charset.Charset
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{Canonical, functions}

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
  * file. An order index is attached so sinks can render rows in file
  * order even if the scan was split (SURVEY.md §7.4 R2).
  */
object CsvSource {

  /** @param fidelityChecks when true (the CLI path: one local file),
    *   one driver-side pass over the file runs first: an RFC-4180
    *   quote scan that rejects unterminated quoted fields with the
    *   reference's error shape (`csvParser.ts:55-57` — univocity
    *   would swallow small malformed files silently), and a blank-file
    *   check so empty input yields the canonical empty frame instead
    *   of a schema inference error. It reads the file on the driver
    *   — set false for bulk/distributed paths (directories, globs,
    *   remote filesystems), where no driver-side I/O happens at all. */
  def read(
      spark: SparkSession,
      path: String,
      delimiter: String = ",",
      encoding: String = "ISO-8859-1",
      fidelityChecks: Boolean = true): DataFrame = {

    if (fidelityChecks && checkQuotesAndBlank(path, encoding)) return empty(spark)

    val raw = spark.read
      .option("header", "true")
      .option("delimiter", delimiter)
      .option("encoding", encoding)
      .option("quote", "\"")
      .option("escape", "\"") // RFC-4180 doubled-quote escaping
      .option("mode", "FAILFAST")
      .csv(path)

    // monotonically_increasing_id rises within a partition and across
    // partition ids, which follow the file: the Canonical.idxCol contract.
    functions.Normalize.align(
      raw.withColumn(Canonical.idxCol, monotonically_increasing_id()))
  }

  /** Canonical empty frame (0 rows, 6 columns + idx). */
  def empty(spark: SparkSession): DataFrame = {
    val df = spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], Canonical.schema)
    functions.Normalize.align(df.withColumn(Canonical.idxCol, monotonically_increasing_id()))
  }

  /** One buffered pass over the raw file: a minimal RFC-4180 state
    * machine that flags an unterminated quoted field at EOF, and the
    * blank test — every char ≤ U+0020, as `String.trim` counts them.
    * @return whether the file is blank */
  private def checkQuotesAndBlank(path: String, encoding: String): Boolean = {
    val in = new InputStreamReader(Files.newInputStream(Paths.get(path)), Charset.forName(encoding))
    try {
      val buf = new Array[Char](1 << 16)
      var blank = true
      var inQuotes = false
      var prevQuote = false
      var n = in.read(buf)
      while (n != -1) {
        var i = 0
        while (i < n) {
          val c = buf(i)
          if (c > ' ') blank = false
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
      blank
    } finally in.close()
  }
}
