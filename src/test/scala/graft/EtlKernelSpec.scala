package graft

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import scala.util.Random

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.execution.WholeStageCodegenExec
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.types.{StringType, StructField, StructType}

import graft.functions.{EtlKernels, Normalize, PrnSlices}
import graft.sinks.{HtmlSink, JsonSink}
import graft.sources.PrnSource

/** Every byte kernel of the ETL row path against the generic formulation
  * it replaced ([[RowPathOracle]]), on generated strings, through
  * generated code and through the interpreted `eval` path; and a source
  * scan that keeps per-cell regexes out of the row path. */
class EtlKernelSpec extends SparkSpec {
  import RowPathOracle.JsWhitespace

  private val alphabet: IndexedSeq[Char] =
    (JsWhitespace + "\u0085" + "0123456789/-,.+eE" + "aZnI\u00E9\u00DF\u00D8\u00FF" + "&<>\"'\\" +
      (0 until 0x20).map(_.toChar).mkString).distinct.toIndexedSeq

  private def randomString(r: Random, chars: IndexedSeq[Char], maxLen: Int): String =
    Seq.fill(r.nextInt(maxLen + 1))(chars(r.nextInt(chars.length))).mkString

  /** Cells aimed at the kernels' branches: dates, numbers, phones and
    * Infinity, padded with whitespace and sometimes followed by a
    * U+0085 or a stray char; plus free strings over [[alphabet]]. */
  private val cells: Seq[String] = {
    val r = new Random(7)
    def digits(lo: Int, hi: Int) = Seq.fill(lo + r.nextInt(hi - lo + 1))(('0' + r.nextInt(10)).toChar).mkString
    def pick[A](xs: A*): A = xs(r.nextInt(xs.length))
    def pad = randomString(r, JsWhitespace.toIndexedSeq, 2)
    val aimed = Seq.fill(3000) {
      val core = r.nextInt(6) match {
        case 0 => s"${digits(0, 3)}/${digits(0, 3)}/${digits(3, 5)}"
        case 1 => digits(7, 9)
        case 2 => s"${digits(3, 5)}-${digits(0, 3)}-${digits(0, 3)}"
        case 3 => pick("", "+", "-") + digits(0, 4) + pick("", ".", ",") + digits(0, 3) +
          pick("", "e", "E", "e+", "E-") + digits(0, 1) + pick("", "x", "1,5")
        case 4 => pick("+", "", " ") + digits(1, 3) + pick(" ", "-", "/") + digits(1, 6)
        case _ => pick("Infinity", "+Infinity", "-Infinity", "Infinit", "+-Infinity", "infinity") + pick("", "9", " x")
      }
      pad + core + pick("", "", "", "\u0085", "x", ",") + pad
    }
    val free = Seq.fill(3000)(randomString(new Random(r.nextLong()), alphabet, 12))
    // a two-digit exponent can pass decimal(38,2)'s range, where the
    // oracle's cast fails the conversion (node's table below checks the
    // kernels there)
    (Seq("19870312\u0085", " 1/2/2000\u0085 ", "1999-1-2\u0085") ++ aimed ++ free)
      .filterNot(_.matches("(?s).*[eE][+-]?\\d\\d.*"))
  }

  /** `body` through generated code, then through `eval` alone. */
  private def bothPaths(body: String => Unit): Unit = {
    body("codegen")
    withConf("spark.sql.codegen.wholeStage", "false") {
      withConf("spark.sql.codegen.factoryMode", "NO_CODEGEN")(body("interpreted"))
    }
  }

  private def wholeStage(df: DataFrame): Boolean =
    df.queryExecution.executedPlan.collectFirst { case w: WholeStageCodegenExec => w }.nonEmpty

  /** Each (kernel, oracle) pair over `inputs` in column `s`, one job. */
  private def pairs(path: String, inputs: Seq[String], name: String)(
      fs: (String, Column, Column)*): Seq[(String, String, Any, Any)] = {
    import spark.implicits._
    val df = spark.sparkContext.parallelize(inputs, 4).toDF(name)
      .select(col(name) +: fs.flatMap { case (_, k, o) => Seq(k, o) }: _*)
    assert(wholeStage(df) == (path == "codegen"), path)
    df.collect().toSeq.flatMap { r =>
      fs.indices.map(i => (fs(i)._1, r.getString(0), r.get(1 + 2 * i), r.get(2 + 2 * i)))
    }
  }

  test("F1-F5, the PRN cents and the blank-line test equal the regex and set-trim formulations") {
    val O = RowPathOracle
    val s = col("s")
    bothPaths { path =>
      val got = pairs(path, cells, "s")(
        ("trim", Normalize.text(s), O.jsTrim(s)),
        ("postcode", Normalize.postcode(s), O.postcode(s)),
        ("phone", Normalize.phone(s), O.phone(s)),
        ("credit limit", Normalize.creditLimit(s), O.creditLimit(s)),
        ("birthday", Normalize.birthday(s), O.birthday(s)),
        ("cents", EtlKernels(EtlKernels.Cents, Normalize.jsTrim(s)), O.centsToUnits(O.jsTrim(s))),
        ("blank", EtlKernels(EtlKernels.NonBlank, s), O.nonBlank(s)))
      val diffs = got.filter { case (_, _, k, o) => k != o }
      def trimmed(in: String) = in.replaceAll(s"^[$JsWhitespace]+|[$JsWhitespace]+$$", "")
      // the two changes: a date followed by U+0085 passes through, where
      // Java's `$` matched before that line terminator; and a credit
      // limit whose double is below zero but rounds to zero keeps
      // toFixed's sign, which the decimal cast dropped
      val (nel, rest) = diffs.partition { case (f, in, k, _) =>
        f == "birthday" && trimmed(in).endsWith("\u0085") && k == trimmed(in)
      }
      val (negZero, wrong) = rest.partition { case (f, in, k, o) =>
        f == "credit limit" && k == "-0.00" && o == "0.00" &&
          "^[+-]?(\\d+\\.?\\d*|\\.\\d+)([eE][+-]?\\d+)?".r
            .findPrefixOf(trimmed(in).replaceFirst(",", ".")).exists(_.toDouble < 0)
      }
      assert(wrong.isEmpty, s"$path: " + wrong.take(5).map { case (f, in, k, o) =>
        s"$f(${in.map(_.toInt)}) = $k, was $o" }.mkString("; "))
      assert(nel.nonEmpty, s"$path: no U+0085 case was generated")
      assert(negZero.nonEmpty, s"$path: no negative credit limit rounding to zero was generated")
      assert(got.count { case (f, _, k, _) => f == "birthday" && k.toString.matches("\\d{4}-\\d\\d-\\d\\d") } > 100)
      assert(got.count { case (f, _, k, _) => f == "credit limit" && k != "0.00" } > 500)
    }
  }

  test("F3 and the PRN cents from 1e21 up are JavaScript's toFixed(2), as node computes it") {
    // fixtures/js_tofixed.tsv: kind, input, node's result (FIXTURES.md §3.2)
    val table = scala.io.Source.fromInputStream(getClass.getResourceAsStream("/fixtures/js_tofixed.tsv"), "UTF-8")
    val lines = try table.getLines().map(_.split("\t")).toList finally table.close()
    val s = col("s")
    val normalizers = Map[String, Column](
      "f3" -> Normalize.creditLimit(s),
      "prn" -> EtlKernels(EtlKernels.Cents, Normalize.jsTrim(s)))
    assert(lines.map(_(0)).toSet == normalizers.keySet && lines.size > 30)
    bothPaths { path =>
      normalizers.foreach { case (kind, f) =>
        val expected = lines.collect { case Array(`kind`, in, out) => in -> out }.toMap
        val got = pairs(path, expected.keys.toSeq, "s")((kind, f, s)).map { case (_, in, k, _) => in -> k }.toMap
        val wrong = expected.filter { case (in, out) => got(in) != out }
        assert(wrong.isEmpty, s"$path $kind: " + wrong.map { case (in, out) => s"$in -> ${got(in)}, node: $out" }.mkString("; "))
      }
    }
  }

  test("the PRN slicer equals one trimmed substring per column") {
    val r = new Random(11)
    // one 4-byte character among them: positions count characters
    val tokens = alphabet.map(_.toString) ++ Seq("\uD83D\uDE00", "a", "b")
    val lines = Seq.fill(3000)(Seq.fill(r.nextInt(31))(tokens(r.nextInt(tokens.length))).mkString)
    val specs = Seq(Seq(0 -> 4, 4 -> 9, 9 -> 15, 15 -> 16, 16 -> 24, 24 -> 28), Seq(3 -> 40))
    bothPaths { path =>
      specs.foreach { spec =>
        val names = spec.indices.map(i => s"c$i")
        val slices = Bridge.column(PrnSlices(names, spec.map(_._1), spec.map(_._2), Bridge.expression(col("value"))))
        val got = pairs(path, lines, "value")(spec.zip(names).map { case ((a, b), n) =>
          (n, slices.getField(n), RowPathOracle.slice(col("value"), a, b))
        } :+ (("blank", PrnSource.nonBlank, RowPathOracle.nonBlank(col("value")))): _*)
        val wrong = got.filter { case (_, _, k, o) => k != o }
        assert(wrong.isEmpty, s"$path: " + wrong.take(5).map { case (f, in, k, o) =>
          s"$f(${in.map(_.toInt)}) = $k, was $o" }.mkString("; "))
      }
    }
  }

  test("JSON and HTML rows equal the Row-closure rendering, nulls and absent columns included") {
    val r = new Random(13)
    def cell: Option[String] = if (r.nextInt(10) == 0) None else Some(randomString(r, alphabet, 10))
    val rows = Seq.fill(3000)(Row.fromSeq(Seq.fill(6)(cell.orNull)))
    val schema = StructType(Canonical.headers.map(StructField(_, StringType)))
    val full = spark.createDataFrame(spark.sparkContext.parallelize(rows, 4), schema)
    val part = full.select(col(Canonical.Name), col(Canonical.Postcode), col(Canonical.Birthday))
    val none = full.select(col(Canonical.Name).as("other"))
    // bytes that are not UTF-8: truncated, stray, surrogate, overlong, past U+10FFFF
    val raw = Files.createTempFile("graft_test_", ".txt")
    raw.toFile.deleteOnExit()
    Files.write(raw, Array(0x6F, 0xFF, 0x26, 0xC3, 0x28, 0xE2, 0x80, 0x0A, 0xED, 0xA0, 0x80, 0x3C,
      0x0A, 0xF4, 0x90, 0x80, 0x80, 0x0A, 0xC0, 0xAF, 0x22, 0x0A, 0xC3, 0xA9, 0xE2, 0x82, 0xAC, 0x0A).map(_.toByte))
    val invalid = spark.read.text(raw.toString).select(col("value").as(Canonical.Address))
    val golden = new String(getClass.getResourceAsStream("/golden/workbook2.html").readAllBytes(), UTF_8)
    val htmlHead = golden.substring(0, golden.indexOf("    <tbody>\n") + "    <tbody>\n".length)
    val htmlTail = "    </tbody>\n  </table>\n</body>\n</html>\n"
    bothPaths { path =>
      Seq("all" -> full, "three" -> part, "none" -> none, "not UTF-8" -> invalid).foreach { case (what, df) =>
        assert(JsonSink.render(df) == "[\n  " + RowPathOracle.jsonRows(df) + "\n]\n", s"$path $what")
        assert(HtmlSink.render(df) == htmlHead + RowPathOracle.htmlRows(df) + htmlTail, s"$path $what")
      }
    }
    assert(HtmlSink.escapeHtml("&<>\"'\\x\u00E9") == RowPathOracle.escapeHtml("&<>\"'\\x\u00E9"))
  }

  test("the row path holds no regex, substring or set trim") {
    import scala.jdk.CollectionConverters._
    val root = Paths.get("src/main/scala/graft")
    val normalizers = Seq(root.resolve("functions/Normalize.scala"), root.resolve("sources/PrnSource.scala"))
    val files = normalizers ++ {
      val walked = Files.walk(root.resolve("sinks"))
      try walked.iterator().asScala.filter(_.toString.endsWith(".scala")).toList finally walked.close()
    }
    assert(files.size >= 5 && files.forall(Files.isRegularFile(_)), files)
    val banned = "regexp_replace|regexp_extract|rlike|\\bsubstring\\(|\\btrim\\([^()]*,".r
    // F3 and the PRN cents are kernels too: no decimal cast
    val cast = "decimal\\(|DecimalType".r
    val hits = files.flatMap { p =>
      Files.readAllLines(p).asScala.zipWithIndex.collect {
        case (line, i) if !line.trim.startsWith("*") && !line.trim.startsWith("//") &&
          (banned.findFirstIn(line).isDefined || normalizers.contains(p) && cast.findFirstIn(line).isDefined) =>
          s"$p:${i + 1}: ${line.trim}"
      }
    }
    assert(hits.isEmpty, "the row path runs on the byte kernels (graft.functions.EtlKernels):\n" + hits.mkString("\n"))
  }
}
