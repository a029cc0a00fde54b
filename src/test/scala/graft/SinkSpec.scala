package graft

import java.io.ByteArrayOutputStream
import java.nio.charset.StandardCharsets.UTF_8

import org.apache.spark.SparkException
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

import graft.sinks.{HtmlSink, JsonSink}
import graft.sources.{CsvSource, PrnSource}

/** Exact sink bytes, compared with text the test builds itself: the
  * golden Workbook2 documents from bundled CSV and PRN fixtures, the
  * two empty documents, row order across many input splits, and an
  * empty output when the conversion's job fails. */
class SinkSpec extends SparkSpec {

  private def resourceText(name: String): String =
    new String(getClass.getResourceAsStream(name).readAllBytes(), UTF_8)

  private val goldenHtml = resourceText("/golden/workbook2.html")
  private val tbody = "    <tbody>\n"
  private val htmlHead = goldenHtml.substring(0, goldenHtml.indexOf(tbody) + tbody.length)
  private val htmlTail = "    </tbody>\n  </table>\n</body>\n</html>\n"

  test("JSON and HTML: the Workbook2 fixtures render the golden documents byte for byte") {
    val json = resourceText("/golden/workbook2.json")
    Seq(
      CsvSource.read(spark, resourcePath("/fixtures/workbook2.csv")),
      PrnSource.read(spark, resourcePath("/fixtures/workbook2.prn"))).foreach { df =>
      assert(JsonSink.render(df) == json)
      assert(HtmlSink.render(df) == goldenHtml)
    }
  }

  test("JSON and HTML: empty input renders [] and the No data available table") {
    val noData = htmlHead +
      "      <tr><td colspan=\"6\" style=\"text-align:center;\">No data available</td></tr>\n" + htmlTail
    Seq(
      CsvSource.read(spark, tmpFile("")),
      CsvSource.read(spark, tmpFile("Name,Address,Postcode,Phone,Credit Limit,Birthday\n")),
      PrnSource.read(spark, tmpFile("")),
      PrnSource.read(spark, tmpFile("Name    Address Postcode Phone Credit Limit Birthday\n"))).foreach { df =>
      assert(JsonSink.render(df) == "[]")
      assert(HtmlSink.render(df) == noData)
    }
  }

  // one generated row: raw CSV and PRN cells and the normalized values
  private case class GenRow(name: String, address: String, postcode: String,
      phone: String, cents: Long, y: Int, m: Int, d: Int) {
    def normalized: Seq[String] = Seq(name, address, postcode.replace(" ", "").toUpperCase,
      phone.filter(_.isDigit), f"${cents / 100}.${cents % 100}%02d", f"$y%04d-$m%02d-$d%02d")
  }

  private val genRow: Gen[GenRow] = for {
    first <- Gen.nonEmptyListOf(Gen.alphaChar).map(_.mkString.take(12))
    suffix <- Gen.oneOf("", " & Co", " O'Neil", " <b>", " \"Jr\"", " Zoë")
    addr <- Gen.nonEmptyListOf(Gen.alphaNumChar).map(_.mkString.take(14))
    pc <- Gen.listOfN(6, Gen.alphaNumChar).map(s => s.take(3).mkString + " " + s.drop(3).mkString)
    ph <- Gen.listOfN(9, Gen.numChar).map(s => s.take(3).mkString + "-" + s.drop(3).mkString)
    cents <- Gen.chooseNum(0L, 99999999L)
    y <- Gen.chooseNum(1950, 2020)
    m <- Gen.chooseNum(1, 12)
    d <- Gen.chooseNum(1, 28)
  } yield GenRow(first + suffix, addr, pc, ph, cents, y, m, d)

  test("rows keep input order across many input splits, and csv->x equals prn->x") {
    val rows = (0 until 3000).flatMap(i => genRow.apply(Gen.Parameters.default, Seed(i.toLong)))
    val csv = new StringBuilder("Name,Address,Postcode,Phone,Credit Limit,Birthday\n")
    rows.foreach { r =>
      csv.append(s""""${r.name.replace("\"", "\"\"")}",${r.address},${r.postcode},${r.phone},""" +
        s"${BigDecimal(r.cents) / 100},${r.d}/${r.m}/${r.y}\n")
    }
    def pad(s: String, w: Int) = s.padTo(w, ' ')
    val prn = new StringBuilder(pad("Name", 24) + pad("Address", 16) + pad("Postcode", 10) +
      pad("Phone", 12) + pad("Credit Limit", 14) + "Birthday\n")
    rows.foreach { r =>
      prn.append(pad(r.name, 24) + pad(r.address, 16) + pad(r.postcode, 10) + pad(r.phone, 12) +
        pad(r.cents.toString, 14) + f"${r.y}%04d${r.m}%02d${r.d}%02d" + "\n")
    }
    val headers = Seq("Name", "Address", "Postcode", "Phone", "Credit Limit", "Birthday")
    def jsonStr(s: String) = "\"" + s.replace("\"", "\\\"") + "\""
    val json = rows.map { r =>
      headers.zip(r.normalized).map { case (h, v) => jsonStr(h) + ":" + jsonStr(v) }.mkString("{", ",", "}")
    }.mkString("[\n  ", ",\n  ", "\n]\n")
    def esc(s: String) = s.flatMap {
      case '&' => "&amp;"; case '<' => "&lt;"; case '>' => "&gt;"
      case '"' => "&quot;"; case '\'' => "&#039;"; case c => c.toString
    }
    val html = htmlHead + rows.map { r =>
      r.normalized.map(v => s"        <td>${esc(v)}</td>\n").mkString("      <tr>\n", "", "      </tr>\n")
    }.mkString + htmlTail

    withConf("spark.sql.files.maxPartitionBytes", "16k") {
      val csvDf = CsvSource.read(spark, tmpFile(csv.toString))
      val prnDf = PrnSource.read(spark, tmpFile(prn.toString), warn = _ => ())
      assert(csvDf.rdd.getNumPartitions >= 4)
      assert(prnDf.rdd.getNumPartitions >= 4)
      val (csvJson, prnJson) = (JsonSink.render(csvDf), JsonSink.render(prnDf))
      val (csvHtml, prnHtml) = (HtmlSink.render(csvDf), HtmlSink.render(prnDf))
      assert(csvJson == json)
      assert(csvHtml == html)
      assert(prnJson == csvJson)
      assert(prnHtml == csvHtml)
    }
  }

  test("a conversion whose job fails writes nothing and still reports a CSV parsing error") {
    // well-quoted, so the driver-side quote scan passes; the extra field
    // fails the FAILFAST scan inside the job
    val p = tmpFile("Name,Address\nJohnson,Voorstraat 32\nWicket,Driehoog 3,extra\n")
    CsvSource.read(spark, p)
    Seq("json", "html").foreach { fmt =>
      val out = new ByteArrayOutputStream
      val e = intercept[SparkException](
        Cli.convert(spark, Cli.Args("csv", fmt, None), p, out))
      // raised by a task's file scan, not by the driver
      assert(e.getMessage.contains("FAILED_READ_FILE"), e.getMessage)
      assert(out.size == 0)
      val msg = Cli.userMessage("csv", e)
      assert(msg.startsWith("CSV parsing error: ") && msg.contains("Wicket,Driehoog 3,extra"), msg)
    }
  }
}
