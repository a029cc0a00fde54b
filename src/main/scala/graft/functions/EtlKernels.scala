package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.types.{BooleanType, DataType, StringType, StructField, StructType}
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.types.UTF8String

/** The ETL row path's string kernels: one pass over a cell's UTF-8
  * bytes each (F3 and the PRN cents then round the numeric prefix they
  * found), callable from generated code (`EtlKernels.<op>(cell)`)
  * and from the interpreted `eval` path alike, so [[EtlKernel]] stays
  * inside whole-stage codegen like [[graft.plans.DotF64]].
  *
  * "Whitespace" is JavaScript's `\s` and `String.prototype.trim` set:
  * TAB..CR, SPACE, NBSP, U+1680, U+2000..U+200A, LS, PS, U+202F,
  * U+205F, U+3000 and U+FEFF. Matched as byte sequences: `09`–`0D`,
  * `20`, `C2 A0`, `E1 9A 80`, `E2 80 80`–`8A`/`A8`/`A9`/`AF`,
  * `E2 81 9F`, `E3 80 80`, `EF BB BF`. Every sequence starts with an
  * ASCII or a lead byte, so in valid UTF-8 a match never starts
  * inside a character, reading forwards or backwards. Java's `\s`
  * lacks NBSP and Spark's `trim` strips only U+0020.
  *
  * Digits are ASCII `0`–`9`, as Java's regex `\d` reads them.
  */
object EtlKernels {

  /** JavaScript's `trim()`. */
  def jsTrim(s: UTF8String): UTF8String = trimmed(s, 0, s.numBytes)

  /** F1's whitespace step: every whitespace character removed. */
  def stripWhitespace(s: UTF8String): UTF8String = {
    val n = s.numBytes
    val out = new Array[Byte](n)
    var k = 0
    var i = 0
    while (i < n) {
      val w = wsAt(s, i, n)
      if (w > 0) i += w
      else { out(k) = s.getByte(i); k += 1; i += 1 }
    }
    if (k == n) s else UTF8String.fromBytes(out, 0, k)
  }

  /** F2 of a trimmed cell: its digits, after a `+` when it starts with one. */
  def phoneDigits(t: UTF8String): UTF8String = {
    val n = t.numBytes
    val out = new Array[Byte](n)
    var k = 0
    if (n > 0 && t.getByte(0) == '+') { out(0) = '+'.toByte; k = 1 }
    var i = 0
    while (i < n) {
      val b = t.getByte(i)
      if (isDigit(b)) { out(k) = b; k += 1 }
      i += 1
    }
    UTF8String.fromBytes(out, 0, k)
  }

  /** F3 of a trimmed cell, JavaScript's `parseFloat(t).toFixed(2)` with
    * `,` read as `.`: a `[+-]?Infinity` prefix as `Infinity` or
    * `-Infinity`; else the numeric prefix `[+-]?(\d+\.?\d*|\.\d+)([eE][+-]?\d+)?`
    * ([[numPrefixEnd]]), from 1e21 up in `Number#toString`'s exponent
    * form ([[jsExponent]]), below it rounded HALF_UP at two decimals, as
    * the `decimal(38,2)` cast rounds, with `-` when the double is below
    * zero, as `toFixed` writes it (`-0.001` is `-0.00`, `-0` is `0.00`);
    * `0.00` when there is no prefix. */
  def creditLimit(t: UTF8String): UTF8String = {
    if (t.startsWith(Infinity) || t.startsWith(PlusInfinity)) return Infinity
    if (t.startsWith(MinusInfinity)) return MinusInfinity
    val end = numPrefixEnd(t)
    if (end == 0) return ZeroCents
    val p = copy(t, 0, end).toString.replace(',', '.')
    val large = if (end < 21 && p.indexOf('e') < 0 && p.indexOf('E') < 0) null // below 1e21
      else jsExponent(java.lang.Double.parseDouble(p))
    if (large != null) return large
    val d = new java.math.BigDecimal(p)
    // below 1e-3 it rounds to zero; setScale would first build 10^scale
    val fixed = if (d.precision - d.scale < -2) java.math.BigDecimal.ZERO.setScale(2)
      else d.setScale(2, java.math.RoundingMode.HALF_UP)
    val plain = fixed.toPlainString
    val negZero = fixed.signum == 0 && p.startsWith("-") && java.lang.Double.parseDouble(p) < 0
    UTF8String.fromString(if (negZero) "-" + plain else plain)
  }

  /** The end of `parseFloat`'s numeric prefix of `t`, with `,` as a
    * decimal point; 0 when there is none. */
  private def numPrefixEnd(t: UTF8String): Int = {
    val n = t.numBytes
    def at(i: Int): Int = if (i < n) t.getByte(i) else -1
    def isPoint(i: Int) = at(i) == '.' || at(i) == ','
    var i = if (at(0) == '+' || at(0) == '-') 1 else 0
    val intEnd = digitsEnd(t, i, n)
    if (intEnd > i) {
      i = if (isPoint(intEnd)) digitsEnd(t, intEnd + 1, n) else intEnd
    } else if (isPoint(i) && digitsEnd(t, i + 1, n) > i + 1) {
      i = digitsEnd(t, i + 1, n)
    } else return 0
    if (at(i) == 'e' || at(i) == 'E') {
      val sign = if (at(i + 1) == '+' || at(i + 1) == '-') i + 2 else i + 1
      val expEnd = digitsEnd(t, sign, n)
      if (expEnd > sign) i = expEnd
    }
    i
  }

  /** F4 of a trimmed cell: `D/M/YYYY`, `YYYYMMDD` or `YYYY-M-D` (one or
    * two digits for D and M) as `YYYY-MM-DD`, the whole cell or
    * nothing; any other cell passes through. The end of the cell is
    * its only end: a trailing U+0085 is no match. */
  def birthday(t: UTF8String): UTF8String = {
    val n = t.numBytes
    def at(i: Int): Int = if (i < n) t.getByte(i) else -1
    def oneOrTwo(len: Int) = len == 1 || len == 2
    val r1 = digitsEnd(t, 0, n)
    if (oneOrTwo(r1) && at(r1) == '/') {
      val r2 = digitsEnd(t, r1 + 1, n)
      if (oneOrTwo(r2 - r1 - 1) && at(r2) == '/' && digitsEnd(t, r2 + 1, n) == n && n - r2 - 1 == 4)
        return date(t, r2 + 1, r1 + 1, r2, 0, r1)
    } else if (r1 == 8 && n == 8) return date(t, 0, 4, 6, 6, 8)
    else if (r1 == 4 && at(4) == '-') {
      val r2 = digitsEnd(t, 5, n)
      if (oneOrTwo(r2 - 5) && at(r2) == '-' && digitsEnd(t, r2 + 1, n) == n && oneOrTwo(n - r2 - 1))
        return date(t, 0, 5, r2, r2 + 1, n)
    }
    t
  }

  /** `YYYY-MM-DD` from the four year digits at `y` and the one- or
    * two-digit month [m, mEnd) and day [d, dEnd). */
  private def date(t: UTF8String, y: Int, m: Int, mEnd: Int, d: Int, dEnd: Int): UTF8String = {
    val out = new Array[Byte](10)
    var k = 0
    while (k < 4) { out(k) = t.getByte(y + k); k += 1 }
    out(4) = '-'.toByte
    out(5) = if (mEnd - m == 2) t.getByte(m) else '0'.toByte
    out(6) = t.getByte(mEnd - 1)
    out(7) = '-'.toByte
    out(8) = if (dEnd - d == 2) t.getByte(d) else '0'.toByte
    out(9) = t.getByte(dEnd - 1)
    UTF8String.fromBytes(out)
  }

  /** The PRN cents of a trimmed cell, JavaScript's
    * `(parseInt(t, 10) / 100).toFixed(2)`: the integer prefix `[+-]?\d+`
    * as units, from 1e21 up in the exponent form ([[jsExponent]]), below
    * it exact at two decimals; `""` when there is no prefix. */
  def cents(t: UTF8String): UTF8String = {
    val n = t.numBytes
    val start = if (n > 0 && (t.getByte(0) == '+' || t.getByte(0) == '-')) 1 else 0
    val end = digitsEnd(t, start, n)
    if (end == start) return UTF8String.EMPTY_UTF8
    val i = copy(t, 0, end).toString
    val large = if (end < 23) null // below 1e21 * 100
      else jsExponent(java.lang.Double.parseDouble(i) / 100)
    if (large != null) large
    else UTF8String.fromString(new java.math.BigDecimal(new java.math.BigInteger(i), 2).toPlainString)
  }

  private val Infinity = UTF8String.fromString("Infinity")
  private val PlusInfinity = UTF8String.fromString("+Infinity")
  private val MinusInfinity = UTF8String.fromString("-Infinity")
  private val ZeroCents = UTF8String.fromString("0.00")

  /** JavaScript's `Number#toString` of `x` when |x| >= 1e21, else null:
    * the fewest significant digits that read back as `x` (of two
    * candidates, the closer), as `d[.ddd]e+n`. */
  private def jsExponent(x: Double): UTF8String = {
    val a = math.abs(x)
    if (!(a >= 1e21)) return null
    val sign = if (x < 0) "-" else ""
    if (a.isInfinite) return UTF8String.fromString(sign + "Infinity")
    val exact = new java.math.BigDecimal(a)
    val digits = Iterator.from(1).map { p =>
      Seq(java.math.RoundingMode.FLOOR, java.math.RoundingMode.CEILING)
        .map(m => exact.round(new java.math.MathContext(p, m)))
        .filter(_.doubleValue == a)
        .sortBy(_.subtract(exact).abs)
        .headOption
    }.collectFirst { case Some(d) => d.stripTrailingZeros }.get
    val s = digits.unscaledValue.toString
    val mantissa = if (s.length == 1) s else s"${s.head}.${s.tail}"
    UTF8String.fromString(s"$sign${mantissa}e+${s.length - 1 - digits.scale}")
  }

  /** A line that is not blank: some byte above `0x20`. Blank is
    * `String.trim`'s rule, which the CSV reader's line filter follows
    * too. */
  def nonBlank(s: UTF8String): Boolean = {
    val n = s.numBytes
    var i = 0
    while (i < n) {
      if ((s.getByte(i) & 0xFF) > 0x20) return true
      i += 1
    }
    false
  }

  /** `s`'s bytes [from, until) (`from <= until`), JavaScript-trimmed;
    * `s` itself when that is all of it. */
  private[functions] def trimmed(s: UTF8String, from: Int, until: Int): UTF8String = {
    var i = from
    var w = wsAt(s, i, until)
    while (w > 0) { i += w; w = wsAt(s, i, until) }
    var j = until
    w = wsBefore(s, i, j)
    while (w > 0) { j -= w; w = wsBefore(s, i, j) }
    if (i == 0 && j == s.numBytes) s else copy(s, i, j)
  }

  private def copy(s: UTF8String, from: Int, until: Int): UTF8String =
    if (until <= from) UTF8String.EMPTY_UTF8
    else {
      val out = new Array[Byte](until - from)
      Platform.copyMemory(s.getBaseObject, s.getBaseOffset + from, out, Platform.BYTE_ARRAY_OFFSET, out.length)
      UTF8String.fromBytes(out)
    }

  private def isDigit(b: Byte): Boolean = b >= '0' && b <= '9'

  private def digitsEnd(s: UTF8String, from: Int, n: Int): Int = {
    var i = from
    while (i < n && isDigit(s.getByte(i))) i += 1
    i
  }

  private def isAsciiWs(b: Int): Boolean = b == 0x20 || (b >= 0x09 && b <= 0x0D)

  private def isWs3(a: Int, b: Int, c: Int): Boolean = a match {
    case 0xE1 => b == 0x9A && c == 0x80
    case 0xE2 =>
      (b == 0x80 && ((c >= 0x80 && c <= 0x8A) || c == 0xA8 || c == 0xA9 || c == 0xAF)) ||
        (b == 0x81 && c == 0x9F)
    case 0xE3 => b == 0x80 && c == 0x80
    case 0xEF => b == 0xBB && c == 0xBF
    case _    => false
  }

  /** Length of the whitespace character starting at byte `i` (< `n`), or 0. */
  private def wsAt(s: UTF8String, i: Int, n: Int): Int =
    if (i >= n) 0
    else {
      val a = s.getByte(i) & 0xFF
      if (isAsciiWs(a)) 1
      else if (a == 0xC2) { if (i + 1 < n && (s.getByte(i + 1) & 0xFF) == 0xA0) 2 else 0 }
      else if (a >= 0xE1 && i + 2 < n && isWs3(a, s.getByte(i + 1) & 0xFF, s.getByte(i + 2) & 0xFF)) 3
      else 0
    }

  /** Length of the whitespace character ending before byte `j`, starting
    * at or after `lo`, or 0. */
  private def wsBefore(s: UTF8String, lo: Int, j: Int): Int =
    if (j <= lo) 0
    else {
      val c = s.getByte(j - 1) & 0xFF
      if (isAsciiWs(c)) 1
      else if (j - 2 >= lo && c == 0xA0 && (s.getByte(j - 2) & 0xFF) == 0xC2) 2
      else if (j - 3 >= lo && isWs3(s.getByte(j - 3) & 0xFF, s.getByte(j - 2) & 0xFF, c)) 3
      else 0
    }

  /** A kernel of this object, by the name generated code calls it. */
  sealed abstract class Op(val method: String, val dataType: DataType = StringType)
  case object JsTrim extends Op("jsTrim")
  case object StripWhitespace extends Op("stripWhitespace")
  case object PhoneDigits extends Op("phoneDigits")
  case object CreditLimit extends Op("creditLimit")
  case object Birthday extends Op("birthday")
  case object Cents extends Op("cents")
  case object NonBlank extends Op("nonBlank", BooleanType)

  /** `op` of `s`, as the interpreted path runs it. */
  private[functions] def eval(op: Op, s: UTF8String): Any = op match {
    case JsTrim          => jsTrim(s)
    case StripWhitespace => stripWhitespace(s)
    case PhoneDigits     => phoneDigits(s)
    case CreditLimit     => creditLimit(s)
    case Birthday        => birthday(s)
    case Cents           => cents(s)
    case NonBlank        => nonBlank(s)
  }

  /** `op` of a string column, as a Column. */
  def apply(op: Op, c: Column): Column = Bridge.column(EtlKernel(op, Bridge.expression(c)))
}

/** One [[EtlKernels]] kernel over a string child; null in, null out. */
case class EtlKernel(op: EtlKernels.Op, child: Expression) extends UnaryExpression {
  override def dataType: DataType = op.dataType
  override def prettyName: String = "graft_" + op.method

  override protected def nullSafeEval(in: Any): Any = EtlKernels.eval(op, in.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.EtlKernels.${op.method}($c)")

  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** The fixed-width slicer of a PRN line: one walk over its characters
  * finds every column boundary, and each slice [start, end) comes back
  * JavaScript-trimmed, as a struct field named after its column. A
  * boundary past the line's end is the line's end, like
  * `substring(start, min(end, len))`. Positions count characters, as
  * Spark's `substring` does. */
case class PrnSlices(names: Seq[String], starts: Seq[Int], ends: Seq[Int], child: Expression)
    extends UnaryExpression {
  override def dataType: DataType = StructType(names.map(StructField(_, StringType, nullable = false)))
  override def prettyName: String = "graft_prn_slices"

  // the distinct boundaries in order, and each slice's two of them
  private val marks: Array[Int] = (starts ++ ends).distinct.sorted.toArray
  private val startMark: Array[Int] = starts.map(marks.indexOf(_)).toArray
  private val endMark: Array[Int] = ends.map(marks.indexOf(_)).toArray

  def slice(line: UTF8String): InternalRow = {
    val n = line.numBytes
    val at = new Array[Int](marks.length)
    var i = 0
    var chars = 0
    var m = 0
    while (m < marks.length) {
      while (chars < marks(m) && i < n) {
        i += UTF8String.numBytesForFirstByte(line.getByte(i))
        chars += 1
      }
      at(m) = math.min(i, n)
      m += 1
    }
    val cells = new Array[Any](startMark.length)
    var k = 0
    while (k < cells.length) {
      cells(k) = EtlKernels.trimmed(line, at(startMark(k)), at(endMark(k)))
      k += 1
    }
    new GenericInternalRow(cells)
  }

  override protected def nullSafeEval(in: Any): Any = slice(in.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val self = ctx.addReferenceObj("prnSlices", this)
    defineCodeGen(ctx, ev, c => s"$self.slice($c)")
  }

  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}
