package graft

import java.io.{BufferedOutputStream, FileDescriptor, FileOutputStream, InputStreamReader, OutputStream}
import java.nio.charset.StandardCharsets
import java.nio.file.Files
import java.util.Locale

import org.apache.logging.log4j.Level
import org.apache.logging.log4j.core.config.Configurator
import org.apache.spark.internal.Logging
import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.sinks.SinkRegistry
import graft.sources.SourceRegistry

/** CLI entry: `<inputType> <outputType> [-d <delimiter>]`, stdin →
  * stdout, mirroring the reference's surface
  * (`/root/reference/src/index.ts:105-148`): case-insensitive
  * whitelist validation with the same error strings, latin1 stdin
  * decoding, progress lines on stderr only (stdout stays pure data so
  * the cross-format `diff` acceptance check holds), exit 1 on any
  * failure, and a DEBUG-gated stderr logger, which also times each
  * phase in ms: spool, session, source, sink (its job and the write)
  * and stop.
  *
  * Spark sources are path-based, so stdin is streamed into a temp
  * file (transcoded latin1 → UTF-8, see SURVEY.md §7.4 R1) before the
  * job runs. The sink writes to a buffered stream on fd 1 only after
  * its job has succeeded, so a failed conversion prints nothing on
  * stdout. One conversion's output still passes through a single
  * collect of LZ4-compressed parts, bounded by
  * `spark.driver.maxResultSize`.
  */
object Cli {

  private lazy val isDebug = sys.env.get("DEBUG").exists(v => v != "false" && v != "0" && v.nonEmpty)
  private def debugLog(msg: => String): Unit = if (isDebug) System.err.println(s"DEBUG: $msg")

  /** `v` in lower case when the registry holds it; else its error. */
  def validateInputType(v: String): String = { SourceRegistry(v); v.toLowerCase(Locale.ROOT) }

  def validateOutputType(v: String): String = { SinkRegistry.writer(v); v.toLowerCase(Locale.ROOT) }

  final case class Args(inputType: String, outputType: String, csvDelimiter: Option[String])

  /** Raised when an option short-circuits the run (help/version):
    * `text` goes to STDOUT (commander prints both there) and the
    * process exits with `code` (0). */
  final case class CliInfo(text: String, code: Int) extends RuntimeException(text)

  /** Commander-13 `--help` output for the reference's program
    * definition (`/root/reference/src/index.ts:105-121`: version
    * 1.0.0, description, two documented arguments, the -d option,
    * plus commander's implicit -V/-h rows), laid out with commander's
    * formatHelp geometry: 2-space item indent, terms padded to the
    * longest term (26 cols here) + 2 separator spaces, descriptions
    * wrapped at helpWidth 80 with a hanging indent to column 30. The
    * program name slot shows this binary's name (commander derives it
    * from the invoked script, so the reference's is install-dependent;
    * it has no `bin` entry to pin one). */
  val helpText: String =
    """Usage: graft [options] <inputType> <outputType>
      |
      |A command line utility to transform CSV or PRN data from stdin to JSON or HTML
      |on stdout.
      |
      |Arguments:
      |  inputType                   Input data format (csv or prn)
      |  outputType                  Output data format (json or html)
      |
      |Options:
      |  -V, --version               output the version number
      |  -d, --csv-delimiter <char>  Delimiter character for CSV input (e.g., ";",
      |                              "\t"). Default is ",".
      |  -h, --help                  display help for command
      |""".stripMargin

  val versionText: String = "1.0.0"

  /** Parses `<inputType> <outputType> [-d|--csv-delimiter <char>]`.
    *
    * Error phrasing and check ORDER mirror commander 13 (the
    * reference's parser, `/root/reference/src/index.ts:105-121` with
    * `commander ^13.1.0`): unknown options fail during the option
    * scan; then argument-count checks run (missing first, then
    * excess) BEFORE any value validator; an invalid value surfaces
    * wrapped as `command-argument value '<v>' is invalid for argument
    * '<name>'. <validator message>`. The `error: ` prefix is added by
    * [[main]], as commander does when printing. */
  def parseArgs(argv: Seq[String]): Args = {
    var positional = Vector.empty[String]
    var delimiter: Option[String] = None
    var i = 0
    while (i < argv.length) {
      argv(i) match {
        case "-d" | "--csv-delimiter" =>
          if (i + 1 >= argv.length)
            throw new IllegalArgumentException("option '-d, --csv-delimiter <char>' argument missing")
          delimiter = Some(argv(i + 1)); i += 2
        // help/version act WHERE ENCOUNTERED in the left-to-right
        // option scan, before any argument-count check — commander's
        // order: `--help` with no arguments shows help (exit 0), but
        // an unknown option EARLIER in argv still errors first
        case "-h" | "--help" => throw CliInfo(helpText, 0)
        case "-V" | "--version" => throw CliInfo(versionText + "\n", 0)
        case flag if flag.startsWith("-") && flag.length > 1 =>
          throw new IllegalArgumentException(s"unknown option '$flag'")
        case p => positional :+= p; i += 1
      }
    }
    Seq("inputType", "outputType").zipWithIndex.foreach { case (name, idx) =>
      if (positional.length <= idx)
        throw new IllegalArgumentException(s"missing required argument '$name'")
    }
    if (positional.length > 2)
      throw new IllegalArgumentException(
        s"too many arguments. Expected 2 arguments but got ${positional.length}.")
    def checked(name: String, value: String, f: String => String): String =
      try f(value)
      catch {
        case e: IllegalArgumentException =>
          throw new IllegalArgumentException(
            s"command-argument value '$value' is invalid for argument '$name'. ${e.getMessage}")
      }
    Args(
      checked("inputType", positional(0), validateInputType),
      checked("outputType", positional(1), validateOutputType),
      delimiter)
  }

  /** The data plane: one Spark job scans, normalizes and renders on
    * the executors; the driver writes the framed document to `out`
    * once the job has succeeded. Resolved through the registries
    * (mirrors the reference's createParser/createRenderer factories).
    * `inputPath` is UTF-8: [[main]]'s spool of stdin. */
  def convert(spark: SparkSession, args: Args, inputPath: String, out: OutputStream): Unit = {
    val opts = SourceRegistry.SourceOptions(args.csvDelimiter.getOrElse(","), "UTF-8")
    val df: DataFrame = phase("source")(SourceRegistry(args.inputType)(spark, inputPath, opts))
    phase("sink") { SinkRegistry.writer(args.outputType)(df, out); out.flush() }
  }

  /** `body`, with its wall time on stderr under DEBUG. */
  private def phase[T](name: String)(body: => T): T = {
    val t0 = System.nanoTime
    try body finally debugLog(s"$name ${(System.nanoTime - t0) / 1000000} ms")
  }

  def main(argv: Array[String]): Unit = {
    val args =
      try parseArgs(argv.toIndexedSeq)
      catch {
        case CliInfo(text, code) =>
          System.out.print(text)
          System.out.flush()
          sys.exit(code)
        case e: IllegalArgumentException =>
          System.err.println(s"error: ${e.getMessage}")
          sys.exit(1)
      }

    debugLog(s"Parsed args: $args")
    // Stream stdin (latin1 bytes, like the reference's
    // setEncoding('latin1')) into a UTF-8 temp file for the path-based
    // Spark sources.
    val tmp = Files.createTempFile("graft_stdin_", ".txt")
    tmp.toFile.deleteOnExit()
    val chars = phase("spool") {
      val spool = Files.newBufferedWriter(tmp, StandardCharsets.UTF_8)
      try new InputStreamReader(System.in, StandardCharsets.ISO_8859_1).transferTo(spool)
      finally spool.close()
    }
    debugLog(s"Spooled $chars bytes of stdin to $tmp")

    // The executors share this JVM: Spark's non-ASCII `upper` then
    // maps case like JavaScript's `toUpperCase`, whatever the user's
    // locale (under `tr`, `i` would map to `İ`; see GraftSession).
    Locale.setDefault(Locale.ROOT)
    // stderr carries only the progress lines and, on a failure, the
    // message: Spark's default log4j profile loads without the line
    // announcing it, and logging is off before the session logs its
    // first line (a failed task's ERROR lines included; DEBUG prints
    // the stack trace itself).
    new Logging { initializeLogIfNecessary(false, silent = true) }
    Configurator.setRootLevel(Level.OFF)
    val spark = phase("session") {
      GraftSession.builder(sys.env.getOrElse("SPARK_MASTER", "local[*]"), 32).appName("graft-cli").getOrCreate()
    }

    try {
      System.err.println(s"Processing ${args.inputType} to ${args.outputType}...")
      // Raw UTF-8 bytes straight to fd 1: System.out's PrintStream
      // would transcode through the platform console charset (ASCII in
      // a bare container locale) and mangle non-ASCII — output must be
      // valid UTF-8 regardless of locale (reference README.md:31-33).
      val stdout = new BufferedOutputStream(new FileOutputStream(FileDescriptor.out), 1 << 16)
      convert(spark, args, tmp.toString, stdout)
      System.err.println("Processing complete.")
    } catch {
      case e: Throwable =>
        System.err.println("\nAn error occurred during processing:")
        System.err.println(userMessage(args.inputType, e))
        if (isDebug) e.printStackTrace()
        phase("stop")(spark.stop())
        sys.exit(1)
    }
    phase("stop")(spark.stop())
  }

  /** Mirrors the reference's error channel (`csvParser.ts:55-57`):
    * parse failures surface as `CSV parsing error: <cause>`. Spark
    * wraps the malformed-record cause in FAILED_READ_FILE layers, so
    * walk the cause chain for the parse-level message. */
  private[graft] def userMessage(inputType: String, e: Throwable): String = {
    val chain = Iterator.iterate(e)(_.getCause).takeWhile(_ != null).take(10).toSeq
    val msg = e.getMessage
    if (msg != null && msg.startsWith("CSV parsing error")) msg
    else chain.reverse.find { c =>
      val m = c.getMessage
      m != null && (m.contains("MALFORMED_CSV_RECORD") || m.contains("MALFORMED_RECORD_IN_PARSING"))
    } match {
      case Some(cause) if inputType == "csv" => s"CSV parsing error: ${cause.getMessage}"
      case _ => msg
    }
  }
}
