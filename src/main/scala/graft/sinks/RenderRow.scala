package graft.sinks

import java.nio.charset.StandardCharsets.UTF_8

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.types.{BinaryType, DataType}
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.types.UTF8String

/** A growable byte buffer: the one row, part or document being rendered. */
final class ByteSink(initial: Int = 256) {
  private var buf = new Array[Byte](initial)
  private var n = 0

  def reset(): Unit = n = 0

  private def room(k: Int): Unit =
    if (n + k > buf.length) buf = java.util.Arrays.copyOf(buf, math.max(2 * buf.length, n + k))

  def write(b: Int): Unit = { room(1); buf(n) = b.toByte; n += 1 }

  def write(a: Array[Byte]): Unit = { room(a.length); System.arraycopy(a, 0, buf, n, a.length); n += a.length }

  /** The bytes [from, until) of `s`. */
  def write(s: UTF8String, from: Int, until: Int): Unit = {
    val k = until - from
    room(k)
    Platform.copyMemory(s.getBaseObject, s.getBaseOffset + from, buf, Platform.BYTE_ARRAY_OFFSET + n, k)
    n += k
  }

  def toByteArray: Array[Byte] = java.util.Arrays.copyOf(buf, n)
}

/** One row of a sink's document as UTF-8 bytes: `frags(0)`, the first
  * cell escaped, `frags(1)`, ..., the last cell escaped, `frags(n)`.
  * A null cell renders as empty. `escape` is the sink's own escaper
  * ([[HtmlSink.escape]], [[JsonSink.escape]]), the one its head and
  * keys went through. A cell that is not valid UTF-8
  * (Spark's text source does not check) renders as Java decodes it,
  * with U+FFFD, so a document is always UTF-8. Generated code
  * evaluates the cells inline and renders into one buffer per task. */
case class RenderRow(escape: (UTF8String, ByteSink) => Unit, frags: Seq[String], children: Seq[Expression])
    extends Expression {
  require(frags.length == children.length + 1)

  override def dataType: DataType = BinaryType
  override def nullable: Boolean = false
  override def prettyName: String = "graft_render_row"

  private val fragBytes: Array[Array[Byte]] = frags.map(_.getBytes(UTF_8)).toArray

  def render(cells: Array[UTF8String], out: ByteSink): Array[Byte] = {
    out.reset()
    out.write(fragBytes(0))
    var i = 0
    while (i < cells.length) {
      if (cells(i) != null) {
        val c = if (cells(i).isValid) cells(i) else UTF8String.fromString(cells(i).toString)
        escape(c, out)
      }
      out.write(fragBytes(i + 1))
      i += 1
    }
    out.toByteArray
  }

  override def eval(input: InternalRow): Any =
    render(children.map(_.eval(input).asInstanceOf[UTF8String]).toArray, new ByteSink)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val self = ctx.addReferenceObj("renderRow", this)
    val sink = ctx.addMutableState(classOf[ByteSink].getName, "rowBytes",
      v => s"$v = new ${classOf[ByteSink].getName}(256);")
    val cells = ctx.freshName("cells")
    val evals = children.zipWithIndex.map { case (c, i) =>
      val e = c.genCode(ctx)
      s"""${e.code}
         |$cells[$i] = ${e.isNull} ? null : ${e.value};""".stripMargin
    }
    ev.copy(code =
      code"""
         |UTF8String[] $cells = new UTF8String[${children.length}];
         |${evals.mkString("\n")}
         |byte[] ${ev.value} = $self.render($cells, $sink);""".stripMargin,
      isNull = FalseLiteral)
  }

  override protected def withNewChildrenInternal(newChildren: IndexedSeq[Expression]): Expression =
    copy(children = newChildren)
}
