package graft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** The ETL row path as generic Catalyst operators and a driver-side
  * Row closure: regexes, `trim(c, set)`, `substring` and String
  * rendering. The byte kernels replaced these; [[EtlKernelSpec]] holds
  * every kernel to them. */
object RowPathOracle {

  /** JavaScript's `\s`: TAB..CR, SPACE, NBSP, the Unicode space
    * separators, LS, PS and U+FEFF. */
  val JsWhitespace: String =
    "\t\n\u000B\f\r \u00A0\u1680" + ('\u2000' to '\u200A').mkString +
      "\u2028\u2029\u202F\u205F\u3000\uFEFF"

  def jsTrim(c: Column): Column = trim(c, JsWhitespace)

  private val jsWhitespaceRun: String =
    JsWhitespace.map(ch => f"\\u${ch.toInt}%04X").mkString("[", "", "]+")

  def postcode(c: Column): Column = upper(regexp_replace(c, jsWhitespaceRun, ""))

  def phone(c: Column): Column = {
    val t = jsTrim(c)
    when(t.startsWith("+"),
      concat(lit("+"), regexp_replace(t.substr(lit(2), length(t)), "[^0-9]", "")))
      .otherwise(regexp_replace(t, "[^0-9]", ""))
  }

  def creditLimit(c: Column): Column = {
    val t = regexp_replace(jsTrim(c), ",", ".")
    val prefix = regexp_extract(t, "^[+-]?(\\d+\\.?\\d*|\\.\\d+)([eE][+-]?\\d+)?", 0)
    val num = when(prefix =!= "", prefix.cast(DecimalType(38, 2)))
    when(t.rlike("^\\+?Infinity"), lit("Infinity"))
      .when(t.rlike("^-Infinity"), lit("-Infinity"))
      .otherwise(coalesce(num.cast("string"), lit("0.00")))
  }

  def birthday(c: Column): Column = {
    val t = jsTrim(c)
    val dmy = "^(\\d{1,2})/(\\d{1,2})/(\\d{4})$"
    val ymd8 = "^(\\d{4})(\\d{2})(\\d{2})$"
    val iso = "^(\\d{4})-(\\d{1,2})-(\\d{1,2})$"
    when(t.rlike(dmy),
      concat(regexp_extract(t, dmy, 3), lit("-"),
        lpad(regexp_extract(t, dmy, 2), 2, "0"), lit("-"),
        lpad(regexp_extract(t, dmy, 1), 2, "0")))
      .when(t.rlike(ymd8),
        concat(regexp_extract(t, ymd8, 1), lit("-"),
          regexp_extract(t, ymd8, 2), lit("-"),
          regexp_extract(t, ymd8, 3)))
      .when(t.rlike(iso),
        concat(regexp_extract(t, iso, 1), lit("-"),
          lpad(regexp_extract(t, iso, 2), 2, "0"), lit("-"),
          lpad(regexp_extract(t, iso, 3), 2, "0")))
      .otherwise(t)
  }

  /** PRN cents of a trimmed cell, "" when not numeric. */
  def centsToUnits(v: Column): Column = {
    val intPrefix = regexp_extract(v, "^[+-]?\\d+", 0)
    when(intPrefix =!= "",
      (intPrefix.cast("decimal(38,0)") / 100).cast("decimal(38,2)").cast("string"))
      .otherwise(lit(""))
  }

  def nonBlank(c: Column): Column = c.rlike("[^\\x00-\\x20]")

  /** The PRN column [start, end) of a line, trimmed. */
  def slice(line: Column, start: Int, end: Int): Column =
    jsTrim(substring(line, start + 1, end - start))

  private def jsonString(s: String): String = {
    val sb = new StringBuilder(s.length + 2)
    sb.append('"')
    s.foreach {
      case '"'  => sb.append("\\\"")
      case '\\' => sb.append("\\\\")
      case '\b' => sb.append("\\b")
      case '\f' => sb.append("\\f")
      case '\n' => sb.append("\\n")
      case '\r' => sb.append("\\r")
      case '\t' => sb.append("\\t")
      case c if c < ' ' => sb.append(f"\\u${c.toInt}%04x")
      case c => sb.append(c)
    }
    sb.append('"')
    sb.toString
  }

  def escapeHtml(s: String): String =
    s.replace("&", "&amp;").replace("<", "&lt;").replace(">", "&gt;")
      .replace("\"", "&quot;").replace("'", "&#039;")

  /** The cells of `df`'s rows in canonical order: `None` for a column
    * the frame lacks, `""` for a null. */
  private def cells(df: DataFrame): Seq[Seq[Option[String]]] = {
    val present = Canonical.headers.filter(df.columns.contains)
    val slots = Canonical.headers.map(present.indexOf)
    df.select(present.map(c => col(s"`$c`").cast("string")): _*).collect().toSeq.map { r =>
      slots.map(i => if (i < 0) None else Some(Option(r.getString(i)).getOrElse("")))
    }
  }

  /** The JSON document's rows, joined as the sink joins them. */
  def jsonRows(df: DataFrame): String =
    cells(df).map { values =>
      Canonical.headers.zip(values)
        .collect { case (h, Some(v)) => s"${jsonString(h)}:${jsonString(v)}" }
        .mkString("{", ",", "}")
    }.mkString(",\n  ")

  /** The HTML document's `<tr>` rows. */
  def htmlRows(df: DataFrame): String =
    cells(df).map { values =>
      values.map(v => s"        <td>${escapeHtml(v.getOrElse(""))}</td>\n")
        .mkString("      <tr>\n", "", "      </tr>\n")
    }.mkString
}
