package graft

import java.util.Locale

import org.apache.spark.sql.functions.col
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

import graft.functions.Normalize
import graft.sources.{CsvSource, PrnSource}

/** Property tests (SURVEY.md §7.3): normalizer idempotence and output
  * invariants over generated inputs, plus CSV⇄PRN equivalence under
  * generated well-formed rows — evaluated in single DataFrame passes
  * (one Spark job per property, not one per case). */
class NormalizePropSpec extends SparkSpec {

  private def samples[A](g: Gen[A], n: Int): Seq[A] =
    (0 until n).flatMap(i => g.apply(Gen.Parameters.default, Seed(i.toLong)))

  private val messy: Gen[String] = Gen.oneOf(
    Gen.asciiPrintableStr,
    Gen.listOf(Gen.oneOf(' ', '\t', 'a', 'Z', '0', '9', '+', '-', ',', '.', '/')).map(_.mkString),
    Gen.oneOf("", "  ", "+31 6 123", "1.005", "1,5", "31/12/1999", "19991231",
      "1999-1-2", "99/99/9999", "abc123", "Børke straße", "１２３",
      "Infinity", "-Infinity", "+Infinity"))

  private def runNorm(f: org.apache.spark.sql.Column => org.apache.spark.sql.Column,
      inputs: Seq[String]): Seq[(String, String, String)] = {
    import spark.implicits._
    inputs.toDF("raw")
      .select(col("raw"), f(col("raw")).as("once"))
      .select(col("raw"), col("once"), f(col("once")).as("twice"))
      .collect().toSeq
      .map(r => (r.getString(0), r.getString(1), r.getString(2)))
  }

  test("normalizers are idempotent on arbitrary input") {
    val inputs = samples(messy, 300)
    Seq[org.apache.spark.sql.Column => org.apache.spark.sql.Column](
      Normalize.postcode, Normalize.phone, Normalize.creditLimit,
      Normalize.birthday, Normalize.text)
      .foreach { f =>
        runNorm(f, inputs).foreach { case (raw, once, twice) =>
          assert(once == twice, s"not idempotent on ${raw.take(40)}: $once -> $twice")
        }
      }
  }

  test("normalizer output invariants hold on arbitrary input") {
    val inputs = samples(messy, 300)
    runNorm(Normalize.postcode, inputs).foreach { case (_, once, _) =>
      assert(!once.exists(_.isWhitespace) && once == once.toUpperCase)
    }
    runNorm(Normalize.phone, inputs).foreach { case (_, once, _) =>
      assert(once.matches("\\+?[0-9]*"), s"phone: '$once'")
    }
    runNorm(Normalize.creditLimit, inputs).foreach { case (_, once, _) =>
      assert(once.matches("-?\\d+\\.\\d{2}|-?Infinity"), s"money: '$once'")
    }
  }

  /** (c, F1, F5) per latin1 character c: the reference's postcode and
    * text normalizers applied to `c + "a" + c` by JavaScript, from
    * `fixtures/js_latin1.tsv` (its generating command is in FIXTURES.md). */
  private lazy val jsLatin1: Seq[(String, String, String)] = {
    def chars(hex: String) = hex.split(" ").map(h => Integer.parseInt(h, 16).toChar).mkString
    scala.io.Source.fromInputStream(getClass.getResourceAsStream("/fixtures/js_latin1.tsv"), "UTF-8")
      .getLines().map(_.split("\t")).map(f => (Integer.parseInt(f(0), 16).toChar.toString, chars(f(1)), chars(f(2))))
      .toSeq
  }

  test("postcode and text match JavaScript on every latin1 character, also under the tr locale") {
    assert(spark.conf.get("spark.sql.icu.caseMappings.enabled") == "false")
    def check(): Unit = {
      import spark.implicits._
      val got = jsLatin1.map { case (c, _, _) => c + "a" + c }.toDF("s")
        .select(Normalize.postcode(col("s")), Normalize.text(col("s"))).collect()
      jsLatin1.zip(got).foreach { case ((c, f1, f5), r) =>
        assert((r.getString(0), r.getString(1)) == (f1, f5), f"U+${c.head.toInt}%04X")
      }
    }
    check()
    val (display, format) = (Locale.getDefault(Locale.Category.DISPLAY), Locale.getDefault(Locale.Category.FORMAT))
    val default = Locale.getDefault
    Locale.setDefault(Locale.forLanguageTag("tr-TR"))
    try check()
    finally {
      Locale.setDefault(default)
      Locale.setDefault(Locale.Category.DISPLAY, display)
      Locale.setDefault(Locale.Category.FORMAT, format)
    }
  }

  private case class GenRow(name: String, address: String, postcode: String,
      phone: String, cents: Long, ymd: String)

  private val genRow: Gen[GenRow] = for {
    name <- Gen.nonEmptyListOf(Gen.alphaChar).map(_.mkString.take(12))
    addr <- Gen.nonEmptyListOf(Gen.alphaNumChar).map(_.mkString.take(14))
    pc <- Gen.listOfN(6, Gen.alphaNumChar).map(_.mkString)
    ph <- Gen.listOfN(9, Gen.numChar).map(_.mkString)
    cents <- Gen.chooseNum(0L, 99999999L)
    y <- Gen.chooseNum(1950, 2020)
    m <- Gen.chooseNum(1, 12)
    d <- Gen.chooseNum(1, 28)
  } yield GenRow(name, addr, pc, ph, cents, f"$y%04d$m%02d$d%02d")

  test("CSV and PRN encodings of generated rows normalize identically") {
    val rows = samples(genRow, 25)
    // CSV: base units with decimals; Birthday DD/MM/YYYY
    val csv = new StringBuilder("Name,Address,Postcode,Phone,Credit Limit,Birthday\n")
    rows.foreach { r =>
      val units = BigDecimal(r.cents) / 100
      val (y, m, d) = (r.ymd.take(4), r.ymd.slice(4, 6), r.ymd.drop(6))
      csv.append(s"${r.name},${r.address},${r.postcode},${r.phone},$units,$d/$m/$y\n")
    }
    // PRN: fixed-width at generous offsets; Credit Limit in cents, Birthday YYYYMMDD
    def pad(s: String, w: Int) = s.padTo(w, ' ')
    val prn = new StringBuilder(
      pad("Name", 16) + pad("Address", 16) + pad("Postcode", 10) +
        pad("Phone", 12) + pad("Credit Limit", 14) + "Birthday\n")
    rows.foreach { r =>
      prn.append(pad(r.name, 16) + pad(r.address, 16) + pad(r.postcode, 10) +
        pad(r.phone, 12) + pad(r.cents.toString, 14) + r.ymd + "\n")
    }
    val a = graft.sinks.JsonSink.render(CsvSource.read(spark, tmpFile(csv.toString)))
    val b = graft.sinks.JsonSink.render(PrnSource.read(spark, tmpFile(prn.toString), warn = _ => ()))
    assert(a == b)
  }
}
