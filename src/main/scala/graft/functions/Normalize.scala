package graft.functions

import java.util.Locale

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.Canonical

/** The normalization "expression library" — the reference's five
  * per-field scalar transforms (F1–F5, SURVEY.md §2.2) as Columns over
  * the byte kernels of [[EtlKernels]], each one pass over a cell's
  * UTF-8 bytes inside whole-stage codegen. No UDFs, no regex. What
  * stays in Catalyst: `upper`.
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
  * "Whitespace" and "trim" mean JavaScript's (see [[EtlKernels]]).
  * Session-free: the kernels join a Column tree through
  * `graftbridge.Bridge`, not the function registry.
  */
object Normalize {
  import EtlKernels.{Birthday, CreditLimit, JsTrim, PhoneDigits, StripWhitespace}

  /** JavaScript's `trim()`. */
  def jsTrim(c: Column): Column = EtlKernels(JsTrim, c)

  /** F1 — postcode: `"4532 AA"` → `"4532AA"`, as
    * `s.replace(/\s+/g, '').toUpperCase()`. */
  def postcode(c: Column): Column = upper(EtlKernels(StripWhitespace, c))

  /** F2 — phone: `"+44 728 889838"` → `"+44728889838"`,
    * `"0313-398475"` → `"0313398475"`. */
  def phone(c: Column): Column = EtlKernels(PhoneDigits, jsTrim(c))

  /** F3 — credit limit: `"54.5"` → `"54.50"`, `"1,5"` → `"1.50"`,
    * `"abc"` → `"0.00"`, `"9e99"` → `"9e+99"`, `"-0.001"` → `"-0.00"`:
    * `parseFloat(s).toFixed(2)`, one kernel ([[EtlKernels.creditLimit]]).
    * It rounds the decimal digits HALF_UP where `toFixed` rounds the
    * double (documented divergence only at float-representation
    * boundaries — SURVEY.md §7.4 R3).
    */
  def creditLimit(c: Column): Column = EtlKernels(CreditLimit, jsTrim(c))

  /** F4 — birthday. Pure string rebuilds (no `to_date`) because the
    * reference's regexes don't validate calendar ranges and
    * unparsable values must pass through verbatim. */
  def birthday(c: Column): Column = EtlKernels(Birthday, jsTrim(c))

  /** F5 — Name / Address / default: trim only. */
  def text(c: Column): Column = jsTrim(c)

  /** Normalizer for one canonical column, of a cell already trimmed. */
  private def ofTrimmed(header: String)(t: Column): Column = header match {
    case Canonical.Postcode    => postcode(t)
    case Canonical.Phone       => EtlKernels(PhoneDigits, t)
    case Canonical.CreditLimit => EtlKernels(CreditLimit, t)
    case Canonical.Birthday    => EtlKernels(Birthday, t)
    case _                     => t
  }

  /** P1–P4 — schema alignment + normalization in two narrow
    * projections, fused into one codegen'd stage (mirrors
    * `csvParser.ts:30-43` + `normalizeRow`): case-insensitive header
    * resolution, extra columns dropped, missing columns default-filled,
    * every kept cell normalized.
    * Null cells (empty CSV fields) take the column default.
    */
  def align(df: DataFrame): DataFrame = {
    val present = df.columns
    val found = Canonical.headers.flatMap { h =>
      present.find(_.trim.toLowerCase(Locale.ROOT) == h.toLowerCase(Locale.ROOT)).map(h -> _)
    }
    // Each cell is trimmed once, in a projection of its own: Catalyst
    // does not inline a non-cheap expression that the next projection
    // reads more than once (each cell is read by its null test and its
    // normalizer).
    val trimmed = df.select(found.map { case (h, actual) =>
      jsTrim(col(s"`$actual`").cast("string")).as(h)
    }: _*)
    val exprs = Canonical.headers.map { h =>
      val cell = col(s"`$h`")
      if (found.exists(_._1 == h))
        when(cell.isNull, lit(Canonical.default(h))).otherwise(ofTrimmed(h)(cell)).as(h)
      else lit(Canonical.default(h)).as(h)
    }
    trimmed.select(exprs: _*)
  }
}
