package graft.sources

import java.io.InputStreamReader
import java.nio.charset.{Charset, StandardCharsets}
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.Bridge

import graft.Canonical
import graft.functions.{EtlKernels, Normalize, PrnSlices}

/** Fixed-width ("PRN") source producing the canonical 6-column frame.
  *
  * Column boundaries are inferred from the physical positions of the
  * canonical header names in the first non-blank line, exactly as the
  * reference does (`/root/reference/src/parsers/prnParser.ts:36-110`):
  * sequential `indexOf` with an advancing search offset, a warning per
  * missing header, an error when none match, specs sorted by start
  * position, each column ending where the next begins and the last
  * ending at the header line's (trimmed) length — so data lines longer
  * than the header line are truncated, like the reference's
  * `substring(start, min(end, len))` (`:116-139`).
  *
  * The data path is one `spark.read.text` scan numbered by
  * `monotonically_increasing_id()`, a filter that drops the header by
  * its id and the blank lines by the `nonBlank` byte kernel, and one
  * [[PrnSlices]] per line: a single walk over the line's characters
  * that returns every column's slice already JavaScript-trimmed, in
  * place of one `substring` per column. Credit Limit's cents are the
  * `cents` kernel. All of it runs inside whole-stage codegen, and the
  * partitions follow the file. The header is found by a driver-side peek at the first
  * line; only when blank lines precede it does a first-match job look
  * it up, to learn its id.
  *
  * Spark's text source decodes UTF-8 only, so non-UTF-8 input (the
  * reference's latin1) is transcoded driver-side to a temp file first,
  * streamed through a fixed buffer (SURVEY.md §7.4 R1) — character
  * offsets are unaffected because the reference indexes decoded
  * characters too.
  */
object PrnSource {

  final case class ColumnSpec(name: String, start: Int, end: Int)

  /** Mirrors `processHeaderLine` (`prnParser.ts:36-110`).
    * @return specs sorted by start position (possibly fewer than 6)
    * @throws IllegalArgumentException when no header matches */
  def inferSpecs(headerLine: String, warn: String => Unit = System.err.println): Seq[ColumnSpec] = {
    val trimmed = headerLine.replaceAll("\\s+$", "") // trimEnd: keep leading spaces for indexOf
    var found = Vector.empty[(String, Int)]
    var offset = 0
    for (h <- Canonical.headers) {
      val i = trimmed.indexOf(h, offset)
      if (i >= 0) {
        found :+= (h, i)
        offset = i + 1
      } else {
        warn(s"""PRN Parser Warning: Expected header "$h" not found in header line: "$trimmed" (searched from index ${offset - 1}).""")
      }
    }
    val sorted = found.sortBy(_._2)
    val specs = sorted.zipWithIndex.map { case ((name, start), i) =>
      val end = if (i < sorted.length - 1) sorted(i + 1)._2 else trimmed.length
      ColumnSpec(name, start, end)
    }
    if (specs.isEmpty && trimmed.nonEmpty)
      throw new IllegalArgumentException(
        "PRN Error: Could not derive any column specifications from PRN header line. Ensure headers match EXPECTED_HEADERS.")
    if (specs.nonEmpty && specs.length < Canonical.headers.length) {
      val missing = Canonical.headers.filterNot(h => specs.exists(_.name == h))
      if (missing.nonEmpty)
        warn(s"Not all EXPECTED_HEADERS were found or mapped. Missing/unmapped: ${missing.mkString(", ")}")
    }
    specs
  }

  def read(
      spark: SparkSession,
      path: String,
      encoding: String = "ISO-8859-1",
      warn: String => Unit = System.err.println): DataFrame = {

    val utf8Path = ensureUtf8(path, encoding)
    // Line ids rise within a partition and from one partition to the
    // next, which follow the file: the header and everything before it
    // are the lines with an id up to the header's.
    val lines = spark.read.text(utf8Path).withColumn(LineId, monotonically_increasing_id())
    findHeader(utf8Path, lines) match {
      case None => CsvSource.empty(spark) // no header anywhere → 0 rows
      case Some((headerId, headerLine)) =>
        val specs = inferSpecs(headerLine, warn)
        val slices = Bridge.column(PrnSlices(specs.map(_.name), specs.map(_.start), specs.map(_.end),
          Bridge.expression(col("value"))))
        // the reference trims each slice and parses the cents of the
        // trimmed one; Normalize.align's trim of a trimmed cell is a no-op
        val cols: Seq[Column] = specs.map { spec =>
          val v = col("slices").getField(spec.name)
          (if (spec.name == Canonical.CreditLimit) EtlKernels(EtlKernels.Cents, v) else v).as(spec.name)
        }
        Normalize.align(lines.filter(col(LineId) > headerId && nonBlank)
          .select(slices.as("slices")).select(cols: _*))
    }
  }

  private val LineId = "line"

  /** A line that is not blank ([[EtlKernels.nonBlank]]): some char
    * above U+0020, `String.trim`'s rule, which the CSV reader's line
    * filter follows too; Spark's `trim` strips only U+0020. */
  private[graft] val nonBlank: Column = EtlKernels(EtlKernels.NonBlank, col("value"))

  /** Id and text of the first [[nonBlank]] line. When the file's first
    * line is that line its id is 0, the first row of partition 0, and
    * no job runs; otherwise one first-match job finds it in `lines`,
    * read off the plan's rows with no encoder. */
  private def findHeader(path: String, lines: DataFrame): Option[(Long, String)] = {
    val in = Files.newBufferedReader(Paths.get(path), StandardCharsets.UTF_8)
    val first = try in.readLine() finally in.close()
    if (first == null) None
    else if (first.trim.nonEmpty) Some((0L, first))
    else Bridge.collectRows(lines.filter(nonBlank).select(col(LineId), col("value")).limit(1), "head")
      .headOption.map(r => (r.getLong(0), r.getUTF8String(1).toString))
  }

  /** `path` as a UTF-8 file: itself when already UTF-8 or ASCII, else
    * a temp file it is transcoded into, a buffer at a time. */
  private def ensureUtf8(path: String, encoding: String): String = {
    val cs = Charset.forName(encoding)
    if (cs == StandardCharsets.UTF_8 || cs == StandardCharsets.US_ASCII) path
    else {
      val tmp = Files.createTempFile("graft_prn_", ".txt")
      tmp.toFile.deleteOnExit()
      val in = new InputStreamReader(Files.newInputStream(Paths.get(path)), cs)
      try {
        val out = Files.newBufferedWriter(tmp, StandardCharsets.UTF_8)
        try in.transferTo(out) finally out.close()
      } finally in.close()
      tmp.toString
    }
  }
}
