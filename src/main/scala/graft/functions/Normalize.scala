package graft.functions

import java.util.Locale

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.Canonical

/** The normalization "expression library" — the reference's five
  * per-field scalar transforms (F1–F5, SURVEY.md §2.2) re-expressed
  * as compositions of built-in Catalyst expressions, so the whole
  * normalization pass stays inside whole-stage codegen. No UDFs.
  *
  * Semantics mirror `/root/reference/src/utils/normalization.ts`:
  *  - postcode (`:46-49`): strip all whitespace, uppercase
  *  - phone (`:50-56`): digits only, a leading `+` survives
  *  - credit limit (`:57-63`): numeric prefix, `,` accepted as
  *    decimal separator, fixed 2 decimal places, unparsable → 0.00
  *  - birthday (`:64-93`): `D/M/YYYY` | `YYYYMMDD` | `YYYY-M-D` →
  *    `yyyy-MM-dd`; anything else passes through trimmed (the
  *    reference does NOT validate day/month ranges, so neither do we
  *    — `31/31/2024` becomes `2024-31-31`, not null)
  *  - text (`:94-99`): trim only
  *
  * "Whitespace" and "trim" mean JavaScript's: the set of [[JsWhitespace]].
  */
object Normalize {

  /** The characters JavaScript's `\s` and `String.prototype.trim`
    * match: its WhiteSpace and LineTerminator sets, TAB..CR, SPACE,
    * NBSP, the Unicode space separators, LS, PS and U+FEFF. Java's `\s`
    * lacks NBSP and Spark's `trim` strips only U+0020. */
  val JsWhitespace: String =
    "\t\n\u000B\f\r \u00A0\u1680" + ('\u2000' to '\u200A').mkString +
      "\u2028\u2029\u202F\u205F\u3000\uFEFF"

  /** JavaScript's `trim()`: [[JsWhitespace]] off both ends. */
  def jsTrim(c: Column): Column = trim(c, JsWhitespace)

  private val jsWhitespaceRun: String =
    JsWhitespace.map(ch => f"\\u${ch.toInt}%04X").mkString("[", "", "]+")

  /** F1 — postcode: `"4532 AA"` → `"4532AA"`, as
    * `s.replace(/\s+/g, '').toUpperCase()`. */
  def postcode(c: Column): Column =
    upper(regexp_replace(c, jsWhitespaceRun, ""))

  /** F2 — phone: `"+44 728 889838"` → `"+44728889838"`,
    * `"0313-398475"` → `"0313398475"`. */
  def phone(c: Column): Column = trimmedPhone(jsTrim(c))

  private def trimmedPhone(t: Column): Column =
    when(t.startsWith("+"),
      concat(lit("+"), regexp_replace(t.substr(lit(2), length(t)), "[^0-9]", "")))
      .otherwise(regexp_replace(t, "[^0-9]", ""))

  /** F3 — credit limit: `"54.5"` → `"54.50"`, `"1,5"` → `"1.50"`,
    * `"abc"` → `"0.00"`.
    *
    * JS `parseFloat` accepts a numeric *prefix* (`"12x"` → 12), so we
    * extract one with a regex before casting. The cast to
    * decimal(38,2) rounds HALF_UP like `toFixed(2)` does for these
    * inputs (documented divergence only at float-representation
    * boundaries — SURVEY.md §7.4 R3).
    */
  def creditLimit(c: Column): Column = trimmedCreditLimit(jsTrim(c))

  private def trimmedCreditLimit(trimmed: Column): Column = {
    val t = regexp_replace(trimmed, ",", ".")
    val prefix = regexp_extract(t, "^[+-]?(\\d+\\.?\\d*|\\.\\d+)([eE][+-]?\\d+)?", 0)
    val num = when(prefix =!= "", prefix.cast(DecimalType(38, 2)))
    // parseFloat also accepts a [+-]Infinity prefix; toFixed renders it
    // verbatim (minus an explicit '+', which Number drops).
    when(t.rlike("^\\+?Infinity"), lit("Infinity"))
      .when(t.rlike("^-Infinity"), lit("-Infinity"))
      .otherwise(coalesce(num.cast("string"), lit("0.00")))
  }

  /** F4 — birthday. Pure string rebuilds (no `to_date`) because the
    * reference's regexes don't validate calendar ranges and
    * unparsable values must pass through verbatim. */
  def birthday(c: Column): Column = trimmedBirthday(jsTrim(c))

  private def trimmedBirthday(t: Column): Column = {
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

  /** F5 — Name / Address / default: trim only. */
  def text(c: Column): Column = jsTrim(c)

  /** Normalizer for one canonical column, of a cell already trimmed. */
  private def ofTrimmed(header: String)(t: Column): Column = header match {
    case Canonical.Postcode    => postcode(t)
    case Canonical.Phone       => trimmedPhone(t)
    case Canonical.CreditLimit => trimmedCreditLimit(t)
    case Canonical.Birthday    => trimmedBirthday(t)
    case _                     => t
  }

  /** P1–P4 — schema alignment + normalization in two narrow
    * projections, fused into one codegen'd stage (mirrors
    * `csvParser.ts:30-43` + `normalizeRow`): case-insensitive header
    * resolution, extra columns dropped, missing columns default-filled,
    * every kept cell normalized.
    * Null cells (empty CSV fields) take the column default.
    *
    * Input may carry [[Canonical.idxCol]]; it is preserved.
    */
  def align(df: DataFrame): DataFrame = {
    val present = df.columns
    val found = Canonical.headers.flatMap { h =>
      present.find(_.trim.toLowerCase(Locale.ROOT) == h.toLowerCase(Locale.ROOT)).map(h -> _)
    }
    val carry =
      if (present.contains(Canonical.idxCol)) Seq(col(Canonical.idxCol)) else Nil
    // Each cell is trimmed once, in a projection of its own: Catalyst
    // does not inline a non-cheap expression that the next projection
    // reads more than once (the birthday reads its cell up to ten times).
    val trimmed = df.select(found.map { case (h, actual) =>
      jsTrim(col(s"`$actual`").cast("string")).as(h)
    } ++ carry: _*)
    val exprs = Canonical.headers.map { h =>
      val cell = col(s"`$h`")
      if (found.exists(_._1 == h))
        when(cell.isNull, lit(Canonical.default(h))).otherwise(ofTrimmed(h)(cell)).as(h)
      else lit(Canonical.default(h)).as(h)
    }
    trimmed.select(exprs ++ carry: _*)
  }
}
