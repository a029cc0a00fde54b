package graft

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Encoders}
import org.apache.spark.sql.graftbridge.Bridge

import graft.functions.Normalize
import graft.sinks.{HtmlSink, JsonSink}
import graft.sources.{CsvSource, PrnSource}

/** Fidelity tests for the ETL core, ported 1:1 from the reference's
  * suites (see FIXTURES.md §3 for the mapping). The Workbook2 sample
  * files are the bundled fixtures `fixtures/workbook2.{csv,prn}` on the
  * test classpath (FIXTURES.md §2). */
class EtlSpec extends SparkSpec {

  private val csvPath = resourcePath("/fixtures/workbook2.csv")
  private val prnPath = resourcePath("/fixtures/workbook2.prn")

  /** The rows as `collect` returns them, in partition order. */
  private def rows(df: DataFrame): Seq[Map[String, String]] = {
    import org.apache.spark.sql.functions.col
    df.select(Canonical.headers.map(h => col(s"`$h`")): _*)
      .collect().toSeq
      .map(r => Canonical.headers.zipWithIndex.map { case (h, i) => h -> r.getString(i) }.toMap)
  }

  private val expectedRow1 = Map(
    "Name" -> "Johnson, John", "Address" -> "Voorstraat 32", "Postcode" -> "3122GG",
    "Phone" -> "0203849381", "Credit Limit" -> "10000.00", "Birthday" -> "1987-01-01")
  private val expectedRow7 = Map(
    "Name" -> "Smith, John", "Address" -> "Børkestraße 32", "Postcode" -> "87823",
    "Phone" -> "+44728889838", "Credit Limit" -> "9898.30", "Birthday" -> "1999-09-20")

  // -- CSV source ---------------------------------------------------

  test("CSV: full sample parses to the 7 normalized golden rows") {
    val got = rows(CsvSource.read(spark, csvPath))
    assert(got.length == 7)
    assert(got.head == expectedRow1)
    assert(got(4)("Credit Limit") == "54.50")
    assert(got(4)("Birthday") == "1978-11-09")
    assert(got.last == expectedRow7)
  }

  test("CSV: custom ';' delimiter with quoted commas intact") {
    val p = tmpFile(
      "Name;Address;Postcode;Phone;Credit Limit;Birthday\n" +
        "\"Johnson, John\";Voorstraat 32;3122gg;020 3849381;10000;01/01/1987\n")
    val got = rows(CsvSource.read(spark, p, delimiter = ";"))
    assert(got == Seq(expectedRow1))
  }

  test("CSV: case-varied headers resolve to canonical casing") {
    val p = tmpFile(
      "name,ADDRESS,postcode,pHone,Credit limit,BIRTHDAY\n" +
        "\"Johnson, John\",Voorstraat 32,3122gg,020 3849381,10000,01/01/1987\n")
    val got = rows(CsvSource.read(spark, p))
    assert(got == Seq(expectedRow1))
  }

  test("CSV: missing columns are default-filled") {
    val p = tmpFile(
      "Name,Postcode,Credit Limit,Birthday\n" +
        "\"Johnson, John\",3122gg,10000,01/01/1987\n")
    val got = rows(CsvSource.read(spark, p))
    assert(got == Seq(expectedRow1 + ("Address" -> "") + ("Phone" -> "")))
  }

  test("CSV: extra columns are dropped, all 6 canonical present") {
    val p = tmpFile(
      "Name,Address,ExtraInfoCol,Hobby,Birthday\n" +
        "\"Johnson, John\",Voorstraat 32,ignoreme,golf,01/01/1987\n")
    val got = rows(CsvSource.read(spark, p))
    assert(got.head.keySet == Canonical.headers.toSet)
    assert(got.head("Name") == "Johnson, John")
    assert(got.head("Credit Limit") == "0.00")
    assert(!got.head.values.toSeq.contains("golf"))
  }

  test("CSV: empty input and header-only input yield 0 rows") {
    assert(rows(CsvSource.read(spark, tmpFile(""))).isEmpty)
    assert(rows(CsvSource.read(spark, tmpFile("Name,Address,Postcode,Phone,Credit Limit,Birthday\n"))).isEmpty)
  }

  test("CSV: malformed quote raises a CSV parsing error") {
    val p = tmpFile("Name,Address\n\"Unclosed, oops,Somewhere\n")
    val e = intercept[IllegalArgumentException](CsvSource.read(spark, p))
    assert(e.getMessage.startsWith("CSV parsing error:"))
  }

  test("CSV: the schema read from the header line is Spark's own inference, and runs no job") {
    val cases = Seq(
      ("a UTF-8 byte-order mark", "\uFEFFName,Address\nAl,Main 1\n", ",", "UTF-8"),
      ("byte-order mark bytes read as latin1", "\u00EF\u00BB\u00BFName,Address\nAl,Main 1\n", ",", "ISO-8859-1"),
      ("blank lines before the header", "\n  \r\n \nName,Address\nAl,Main 1\n", ",", "ISO-8859-1"),
      ("\\r\\n line ends", "Name,Address\r\nAl,Main 1\r\nBo,Side 2\r\n", ",", "ISO-8859-1"),
      ("lone \\r line ends", "Name,Address\rAl,Main 1\rBo,Side 2\r", ",", "ISO-8859-1"),
      ("a quoted header field", "\"Name\",\"Credit, Limit\",Address\nAl,1,Main 1\n", ",", "ISO-8859-1"),
      ("duplicate and empty header names", "Name,name,,Address,\nAl,Bo,x,Main 1,y\n", ",", "ISO-8859-1"),
      ("-d ';'", "Name;Address;Postcode\n\"Al;x\";Main 1;1a\n", ";", "ISO-8859-1"))
    val c = Bench.counters(spark)
    try cases.foreach { case (what, content, delimiter, encoding) =>
      val p = tmpFile(content, encoding)
      val inferred = spark.read.options(CsvSource.readerOptions(delimiter, encoding)).csv(p)
      assert(Bridge.drainListenerBus(spark))
      c.reset()
      val read = CsvSource.read(spark, p, delimiter, encoding)
      assert(Bridge.drainListenerBus(spark))
      assert(c.jobs.get == 0, s"$what: ${c.jobs.get} jobs before an action")
      val scanned = Bridge.logicalPlan(read).collectLeaves().head.schema
      assert(scanned == inferred.schema, what)
      assert(read.collect().toSeq == Normalize.align(inferred).collect().toSeq, what)
    } finally spark.sparkContext.removeSparkListener(c)
    // Spark's inference blanks only U+0020 and takes a tab line for the
    // header; its reader, like the header line, skips it
    val tabbed = rows(CsvSource.read(spark, tmpFile("\t\nName,Address\nAl,Main 1\n")))
    assert(tabbed.map(r => (r("Name"), r("Address"))) == Seq(("Al", "Main 1")))
  }

  test("CSV: the header schema is the reader's inference from the header as a one-line Dataset") {
    // (case, header line, delimiter); each also under a case-sensitive session
    val cases = Seq(
      ("duplicate names", "Name,Address,Name,name", ","),
      ("case-differing names", "a,A", ","),
      ("empty names", ",Name,,", ","),
      ("quoted names holding the delimiter or a doubled quote", "\"Credit, Limit\",\"Say \"\"hi\"\"\",\"\",Name", ","),
      ("a UTF-8 byte-order mark", "\uFEFFName,Address", ","),
      ("';'", "Name;Address;\"a;b\";name", ";"),
      ("'\\t'", "Name\tAddress\t\t\"a\tb\"", "\t"),
      ("whitespace-only cells", "Name, ,  ,\t,Address,\u00A0", ","))
    for (caseSensitive <- Seq("false", "true")) withConf("spark.sql.caseSensitive", caseSensitive) {
      cases.foreach { case (what, header, delimiter) =>
        val options = CsvSource.readerOptions(delimiter, "ISO-8859-1")
        val inferred = spark.read.options(options).csv(spark.createDataset(Seq(header))(Encoders.STRING)).schema
        assert(CsvSource.headerSchema(spark, header, options) == inferred, s"$what, caseSensitive=$caseSensitive")
      }
    }
  }

  test("CSV: JavaScript whitespace is trimmed and stripped, NBSP and tabs included") {
    val p = tmpFile("Name,Postcode,Birthday\n\tBob \u00A0,12\u00A0ab,\t1/2/2000 \n")
    val got = rows(CsvSource.read(spark, p)).head
    assert(got("Name") == "Bob")
    assert(got("Postcode") == "12AB")
    assert(got("Birthday") == "2000-02-01")
  }


  test("PRN: full sample parses to the same 7 golden rows") {
    val got = rows(PrnSource.read(spark, prnPath))
    assert(got.length == 7)
    assert(got.head == expectedRow1)
    assert(got.last == expectedRow7)
  }

  test("PRN: csv and prn sources produce identical normalized rows") {
    assert(rows(CsvSource.read(spark, csvPath)) == rows(PrnSource.read(spark, prnPath)))
  }

  test("PRN: missing headers warn and default-fill") {
    var warnings = Vector.empty[String]
    val p = tmpFile(
      "Name            Postcode Credit Limit Birthday\n" +
        "Johnson, John   3122gg   1000000      19870101\n")
    val got = rows(PrnSource.read(spark, p, warn = w => warnings :+= w))
    assert(got == Seq(expectedRow1 + ("Address" -> "") + ("Phone" -> "")))
    assert(warnings.exists(_.contains("\"Address\" not found")))
    assert(warnings.exists(_.contains("\"Phone\" not found")))
    assert(warnings.exists(_.contains("Missing/unmapped: Address, Phone")))
  }

  test("PRN: unparsable header raises the reference error") {
    val p = tmpFile("ColumnA ColumnB ColumnC\ndata1   data2   data3\n")
    val e = intercept[IllegalArgumentException](
      PrnSource.read(spark, p, warn = _ => ()))
    assert(e.getMessage.startsWith("PRN Error: Could not derive any column specifications"))
  }

  test("PRN: short data lines default the missing tail columns") {
    val p = tmpFile(
      "Name            Address               Postcode Phone         Credit Limit Birthday\n" +
        "Johnson, John   Voorstraat 32         3122gg\n")
    val got = rows(PrnSource.read(spark, p))
    assert(got == Seq(expectedRow1 + ("Phone" -> "") + ("Credit Limit" -> "0.00") + ("Birthday" -> "")))
  }

  test("PRN: non-numeric cents become 0.00") {
    val p = tmpFile(
      "Name            Address               Postcode Phone         Credit Limit Birthday\n" +
        "Johnson, John   Voorstraat 32         3122gg   020 3849381   NOTANUMBER   19870101\n")
    val got = rows(PrnSource.read(spark, p))
    assert(got.head("Credit Limit") == "0.00")
  }

  test("PRN: blank lines between rows are skipped; whitespace-only input is empty") {
    val p = tmpFile(
      "Name            Address               Postcode Phone         Credit Limit Birthday\n" +
        "Johnson, John   Voorstraat 32         3122gg   020 3849381        1000000 19870101\n" +
        "\n" +
        "Smith, John     Børkestraße 32        87823    +44 728 889838      989830 19990920\n")
    val got = rows(PrnSource.read(spark, p))
    assert(got.length == 2)
    assert(got.last == expectedRow7)
    assert(rows(PrnSource.read(spark, tmpFile("   \n \n   "))).isEmpty)
  }

  private val prnHeader =
    "Name            Address               Postcode Phone         Credit Limit Birthday\n"
  private val prnRow1 =
    "Johnson, John   Voorstraat 32         3122gg   020 3849381        1000000 19870101\n"
  private val prnRow7 =
    "Smith, John     Børkestraße 32        87823    +44 728 889838      989830 19990920\n"

  test("PRN: blank lines before the header are skipped") {
    val got = rows(PrnSource.read(spark, tmpFile("\n   \n\t\n" + prnHeader + prnRow1 + prnRow7)))
    assert(got == Seq(expectedRow1, expectedRow7))
  }

  test("PRN: a blank prefix longer than one split still finds the header") {
    withConf("spark.sql.files.maxPartitionBytes", "256") {
      val p = tmpFile("   \n" * 400 + prnHeader + prnRow1 + prnRow7)
      import org.apache.spark.sql.functions.{col, spark_partition_id}
      val headerPartition = spark.read.text(p).where(col("value").startsWith("Name"))
        .select(spark_partition_id()).head().getInt(0)
      assert(headerPartition > 0, "the header must not be in partition 0")
      assert(rows(PrnSource.read(spark, p)) == Seq(expectedRow1, expectedRow7))
    }
  }

  test("PRN: a data line identical to the header is kept") {
    val got = rows(PrnSource.read(spark, tmpFile(prnHeader + prnRow1 + prnHeader + prnRow7)))
    val headerAsRow = Map("Name" -> "Name", "Address" -> "Address", "Postcode" -> "POSTCODE",
      "Phone" -> "", "Credit Limit" -> "0.00", "Birthday" -> "Birthday")
    assert(got == Seq(expectedRow1, headerAsRow, expectedRow7))
  }

  test("PRN: empty and whitespace-only input yield 0 rows") {
    Seq("", " ", "\n\n", "\t \r\n  \n").foreach { content =>
      assert(rows(PrnSource.read(spark, tmpFile(content))).isEmpty, s"input ${content.map(_.toInt)}")
    }
  }

  test("PRN: tab-only and tab-space-CR lines between rows are skipped, as the CSV reader skips them") {
    val blanks = "\t\n\t \r\n"
    val plain = JsonSink.render(PrnSource.read(spark, tmpFile(prnHeader + prnRow1 + prnRow7)))
    val padded = PrnSource.read(spark, tmpFile(prnHeader + prnRow1 + blanks + prnRow7))
    assert(JsonSink.render(padded) == plain)
    val csv = CsvSource.read(spark, tmpFile("Name,Address,Postcode,Phone,Credit Limit,Birthday\n" +
      "\"Johnson, John\",Voorstraat 32,3122gg,020 3849381,10000,01/01/1987\n" + blanks +
      "\"Smith, John\",Børkestraße 32,87823,+44 728 889838,9898.3,20/09/1999\n"))
    assert(JsonSink.render(csv) == plain)
    // an NBSP-only line is not blank to either source: a default-filled row
    val nbsp = "\u00A0\n"
    assert(rows(PrnSource.read(spark, tmpFile(prnHeader + prnRow1 + nbsp + prnRow7))).length == 3)
    assert(rows(CsvSource.read(spark, tmpFile("Name\nAl\n" + nbsp + "Bo\n"))).length == 3)
  }

  test("every source returns exactly the canonical columns, in order") {
    Seq(
      "CSV" -> CsvSource.read(spark, csvPath),
      "PRN" -> PrnSource.read(spark, prnPath),
      "blank CSV" -> CsvSource.read(spark, tmpFile("")),
      "header-less PRN" -> PrnSource.read(spark, tmpFile(" \n\n"))).foreach { case (what, df) =>
      assert(df.columns.toSeq == Canonical.headers, what)
    }
  }

  // -- JSON sink ----------------------------------------------------

  test("JSON: exact framing, canonical key order, and empty case") {
    val json = JsonSink.render(CsvSource.read(spark, csvPath))
    assert(json.startsWith("[\n  {\"Name\":\"Johnson, John\",\"Address\":\"Voorstraat 32\",\"Postcode\":\"3122GG\",\"Phone\":\"0203849381\",\"Credit Limit\":\"10000.00\",\"Birthday\":\"1987-01-01\"},\n  "))
    assert(json.endsWith("\"Birthday\":\"1999-09-20\"}\n]\n"))
    assert(json.count(_ == '{') == 7)
    assert(JsonSink.render(CsvSource.read(spark, tmpFile(""))) == "[]")
  }

  // -- HTML sink ----------------------------------------------------

  test("HTML: skeleton, escaping, and no-data row") {
    val html = HtmlSink.render(CsvSource.read(spark, csvPath))
    assert(html.startsWith("<!DOCTYPE html>\n<html lang=\"en\">\n"))
    assert(html.contains("  <title>Data Output</title>\n"))
    assert(html.contains("        <th>Credit Limit</th>\n"))
    assert(html.contains("        <td>Johnson, John</td>\n"))
    assert(html.contains("Børkestraße 32"))
    assert(html.endsWith("    </tbody>\n  </table>\n</body>\n</html>\n"))

    val empty = HtmlSink.render(CsvSource.read(spark, tmpFile("")))
    assert(empty.contains("""      <tr><td colspan="6" style="text-align:center;">No data available</td></tr>"""))

    assert(HtmlSink.escapeHtml("Data <>&\"'") == "Data &lt;&gt;&amp;&quot;&#039;")
  }

  // -- Cross-format equivalence (the reference's acceptance check) --

  test("csv->json == prn->json and csv->html == prn->html, byte-identical") {
    val csvDf = CsvSource.read(spark, csvPath)
    val prnDf = PrnSource.read(spark, prnPath)
    assert(JsonSink.render(csvDf) == JsonSink.render(prnDf))
    assert(HtmlSink.render(csvDf) == HtmlSink.render(prnDf))
  }

  test("PRN: a latin1 file read as ISO-8859-1 equals its UTF-8 twin") {
    // longer than the transcoder's buffers, non-ASCII on every line
    val body = (0 until 400).map(i => f"Smith$i%-11d Børkestraße $i%-9d 87823    +44 728 889838      $i%6d 19990920\n").mkString
    val text = prnHeader + body
    val latin1 = rows(PrnSource.read(spark, tmpFile(text, "ISO-8859-1"), "ISO-8859-1"))
    assert(latin1.length == 400)
    assert(latin1(7)("Address") == "Børkestraße 7")
    assert(latin1 == rows(PrnSource.read(spark, tmpFile(text, "UTF-8"), "UTF-8")))
  }

  test("PRN: slices are trimmed of JavaScript whitespace") {
    val p = tmpFile("Name      Postcode\nBob\u00A0\u00A0\t\u00A0\u00A0  12 ab\u00A0\n")
    val got = rows(PrnSource.read(spark, p, warn = _ => ())).head
    assert(got("Name") == "Bob")
    assert(got("Postcode") == "12AB")
  }

  // -- CLI arg surface ----------------------------------------------

  test("CLI: validators accept case-insensitively and reject with reference messages") {
    assert(Cli.validateInputType("CSV") == "csv")
    assert(Cli.validateOutputType("Html") == "html")
    val e1 = intercept[IllegalArgumentException](Cli.validateInputType("xml"))
    assert(e1.getMessage == "Input type must be one of: csv, prn.")
    val e2 = intercept[IllegalArgumentException](Cli.validateOutputType(""))
    assert(e2.getMessage == "Output type must be one of: json, html.")
    val a = Cli.parseArgs(Seq("csv", "json", "-d", ";"))
    assert(a == Cli.Args("csv", "json", Some(";")))
  }

  test("CLI: argument errors use commander-13 phrasing and check order") {
    def msg(args: String*): String =
      intercept[IllegalArgumentException](Cli.parseArgs(args)).getMessage
    assert(msg() == "missing required argument 'inputType'")
    assert(msg("csv") == "missing required argument 'outputType'")
    // count checks run BEFORE validators: a bad value with a missing
    // second argument reports the missing argument, like commander
    assert(msg("xml") == "missing required argument 'outputType'")
    assert(msg("csv", "json", "extra") == "too many arguments. Expected 2 arguments but got 3.")
    assert(msg("xml", "json") ==
      "command-argument value 'xml' is invalid for argument 'inputType'. Input type must be one of: csv, prn.")
    assert(msg("csv", "yaml") ==
      "command-argument value 'yaml' is invalid for argument 'outputType'. Output type must be one of: json, html.")
    assert(msg("csv", "json", "--bogus") == "unknown option '--bogus'")
    assert(msg("csv", "json", "-d") == "option '-d, --csv-delimiter <char>' argument missing")
  }

  test("CLI: --help/--version short-circuit to stdout with commander-13 shapes") {
    val h = intercept[Cli.CliInfo](Cli.parseArgs(Seq("--help")))
    assert(h.code == 0)
    assert(h.text.startsWith("Usage: graft [options] <inputType> <outputType>\n"))
    assert(h.text.contains(
      "  -d, --csv-delimiter <char>  Delimiter character for CSV input (e.g., \";\",\n" +
        "                              \"\\t\"). Default is \",\".\n"))
    assert(h.text.contains("  -h, --help                  display help for command\n"))
    // help acts before argument checks: bad/missing args still get help
    assert(intercept[Cli.CliInfo](Cli.parseArgs(Seq("xml", "-h"))).code == 0)
    assert(intercept[Cli.CliInfo](Cli.parseArgs(Seq("-V"))).text == "1.0.0\n")
    // but an unknown option earlier in the scan errors first
    assert(intercept[IllegalArgumentException](
      Cli.parseArgs(Seq("--bogus", "--help"))).getMessage == "unknown option '--bogus'")
  }

  test("CLI: multi-char CSV delimiters parse like the reference's csv-parse") {
    // the reference accepts any delimiter string
    // (/root/reference/src/parsers/csvParser.ts:47); Spark 4's CSV
    // `sep` option also takes multi-char separators, so the surface
    // matches end-to-end
    val p = tmpFile("Name;;Postcode\nJohnson, John;;3732 GE\n")
    val df = CsvSource.read(spark, p, delimiter = ";;")
    val rows = JsonSink.render(df)
    assert(rows.contains(""""Name":"Johnson, John""""))
    assert(rows.contains(""""Postcode":"3732GE""""))
  }

  /** `graft.Cli args` in a forked JVM on the test classpath, the file
    * `in` on stdin: exit code, stdout bytes and stderr. */
  private def forkCli(in: String, jvmArgs: Seq[String], args: Seq[String],
      env: Map[String, String] = Map.empty): (Int, Array[Byte], String) = {
    val java = Paths.get(System.getProperty("java.home"), "bin", "java").toString
    val opens = ManagementFactory.getRuntimeMXBean.getInputArguments.asScala.filter(_.startsWith("--add-opens"))
    val err = Files.createTempFile("graft_cli_", ".err")
    err.toFile.deleteOnExit()
    val cmd = Seq(java, "-Xmx1g") ++ jvmArgs ++ opens ++
      Seq("-cp", System.getProperty("java.class.path"), "graft.Cli") ++ args
    val pb = new ProcessBuilder(cmd.asJava).redirectInput(new File(in)).redirectError(err.toFile)
    pb.environment().putAll(env.asJava)
    val proc = pb.start()
    val out = proc.getInputStream.readAllBytes()
    (proc.waitFor(), out, Files.readString(err))
  }

  test("CLI: a launch loads no Scala runtime reflection, on every source and sink path") {
    val header = "Name,Address,Postcode,Phone,Credit Limit,Birthday\n"
    val prn = Files.readAllBytes(Paths.get(prnPath))
    val blankFirst = Files.createTempFile("graft_test_", ".prn")
    blankFirst.toFile.deleteOnExit()
    Files.write(blankFirst, "\n  \n".getBytes(StandardCharsets.ISO_8859_1) ++ prn)
    val golden = (f: String) => Files.readAllBytes(Paths.get(resourcePath(s"/golden/workbook2.$f")))
    // (stdin, arguments, the document expected on stdout or None)
    val runs = Seq(
      (tmpFile(header + "A,B,1,2,9e99,1\n"), Seq("csv", "json"), Some(
        ("[\n  {\"Name\":\"A\",\"Address\":\"B\",\"Postcode\":\"1\",\"Phone\":\"2\"," +
          "\"Credit Limit\":\"9e+99\",\"Birthday\":\"1\"}\n]\n").getBytes(StandardCharsets.UTF_8))),
      (tmpFile(header.replace(',', ';') + "\"x;y\";B;1;2;3;1/2/2000\n"), Seq("csv", "html", "-d", ";"), None),
      (prnPath, Seq("prn", "json"), Some(golden("json"))),
      (blankFirst.toString, Seq("prn", "html"), Some(golden("html"))))
    runs.foreach { case (in, args, expected) =>
      val log = Files.createTempFile("graft_classes_", ".log")
      log.toFile.deleteOnExit()
      val (code, out, err) = forkCli(in, Seq(s"-Xlog:class+load=info:file=$log"), args, Map("DEBUG" -> "1"))
      val what = args.mkString(" ")
      assert(code == 0, s"$what: $err")
      expected.foreach(e => assert(out.sameElements(e), s"$what: " + new String(out, StandardCharsets.UTF_8)))
      if (expected.isEmpty) assert(new String(out, StandardCharsets.UTF_8).contains("<td>x;y</td>"), what)
      val loaded = Files.readAllLines(log).asScala
        .filter(_.matches(".*\\] (scala\\.reflect\\.runtime\\.JavaUniverse|org\\.apache\\.spark\\.sql\\.catalyst\\.ScalaReflection\\$) .*"))
      assert(loaded.isEmpty, s"$what loaded: ${loaded.mkString("\n")}")
      // DEBUG times every phase
      Seq("spool", "session", "source", "sink", "stop").foreach { p =>
        assert(err.linesIterator.exists(_.matches(s"DEBUG: $p \\d+ ms")), s"$what: no $p timing in\n$err")
      }
      // and past the DEBUG lines stderr holds the reference's progress lines, no Spark log line
      assert(err.linesIterator.filterNot(_.startsWith("DEBUG: ")).toSeq ==
        Seq(s"Processing ${args(0)} to ${args(1)}...", "Processing complete."), s"$what:\n$err")
    }
  }

  test("src/main imports no MLlib, which the CLI's classpath leaves out") {
    val hits = SourceScan.hits("import org\\.apache\\.spark\\.(ml|mllib)\\b")
    assert(hits.isEmpty, "MLlib imported (tools/graft and build.sbt leave its jar out):\n" + hits.mkString("\n"))
  }

  test("CLI: a forked run under the tr locale prints the reference's bytes") {
    // Lower-cased in tr, "CREDIT LIMIT" is "credıt lımıt"; upper-cased, "ié" is "İÉ"
    val in = tmpFile("NAME,ADDRESS,POSTCODE,PHONE,CREDIT LIMIT,BIRTHDAY\n" +
      "Ida,Børke 1,ié 12,020 1,12.5,1/2/2000\n")
    val (code, out, err) = forkCli(in, Seq("-Duser.language=tr", "-Duser.country=TR"), Seq("csv", "json"))
    assert(code == 0, err)
    val expected = "[\n  {\"Name\":\"Ida\",\"Address\":\"Børke 1\",\"Postcode\":\"IÉ12\"," +
      "\"Phone\":\"0201\",\"Credit Limit\":\"12.50\",\"Birthday\":\"2000-02-01\"}\n]\n"
    assert(out.sameElements(expected.getBytes(StandardCharsets.UTF_8)), new String(out, StandardCharsets.UTF_8))
  }

  test("CLI: a birthday followed by U+0085 passes through, as JavaScript's `$` does not match before it") {
    // latin1 byte 0x85 is U+0085, a Java line terminator and no JavaScript whitespace
    val in = tmpFile("Name,Address,Postcode,Phone,Credit Limit,Birthday\nA,B,1,2,3,19870312\u0085\n")
    val (code, out, err) = forkCli(in, Nil, Seq("csv", "json"))
    assert(code == 0, err)
    val expected = "[\n  {\"Name\":\"A\",\"Address\":\"B\",\"Postcode\":\"1\",\"Phone\":\"2\"," +
      "\"Credit Limit\":\"3.00\",\"Birthday\":\"19870312\u0085\"}\n]\n"
    assert(out.sameElements(expected.getBytes(StandardCharsets.UTF_8)), new String(out, StandardCharsets.UTF_8))
  }

  test("CLI: a negative Credit Limit that rounds to zero prints JavaScript's -0.00") {
    val in = tmpFile("Name,Address,Postcode,Phone,Credit Limit,Birthday\nA,B,1,2,-0.001,1\n")
    val (code, out, err) = forkCli(in, Nil, Seq("csv", "json"))
    assert(code == 0, err)
    val expected = "[\n  {\"Name\":\"A\",\"Address\":\"B\",\"Postcode\":\"1\",\"Phone\":\"2\"," +
      "\"Credit Limit\":\"-0.00\",\"Birthday\":\"1\"}\n]\n"
    assert(out.sameElements(expected.getBytes(StandardCharsets.UTF_8)), new String(out, StandardCharsets.UTF_8))
    assert(err == "Processing csv to json...\nProcessing complete.\n", err)
  }

  test("CLI: a failed Spark job prints only the error message, no Spark log line") {
    val in = tmpFile("Name,Address,Postcode,Phone,Credit Limit,Birthday\nA,B,1,2,3,1\nC,D,1,2,3,1,extra\n")
    val (code, _, err) = forkCli(in, Nil, Seq("csv", "json"))
    assert(code == 1, err)
    val lines = err.linesIterator.toSeq
    assert(lines.take(3) == Seq("Processing csv to json...", "", "An error occurred during processing:"), err)
    assert(lines.size == 4 && lines(3).startsWith("CSV parsing error: "), err)
  }
}
