package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Word n-gram shingles of a document, in order and with repeats: window i
  * covers tokens i..i+n-1.
  *
  * Portability contract (the DuckDB oracle keeps the list form, see
  * OracleSql.shinglesCte): tokens are the maximal runs between single 0x20
  * bytes of the UTF-8 text, empty tokens kept (== `split(text, ' ')`; a
  * 0x20 byte never occurs inside a multi-byte character). A shingle is its
  * tokens joined by single spaces, which is exactly the byte slice from its
  * first token's start to its last token's end, so no token string is ever
  * built. A text of fewer than n tokens, or a null text, has no shingles.
  *
  * Why native: the SQL form (`transform` over a `sequence` of window
  * starts) is a higher-order function, which Catalyst evaluates element by
  * element without codegen. One byte scan per document finds the token
  * bounds and slices the windows out of one copy of the text.
  */
case class ShinglesExpr(child: Expression, n: Int) extends UnaryExpression {
  require(n >= 1, s"shingle width n=$n must be >= 1")
  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType.isInstanceOf[StringType]) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"shingles requires a string input, got ${child.dataType.catalogString}")
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def nullable: Boolean = false
  override def prettyName: String = "shingles"
  override protected def withNewChildInternal(newChild: Expression): ShinglesExpr =
    copy(child = newChild)

  override def eval(input: InternalRow): Any =
    ShinglesExpr.compute(child.eval(input).asInstanceOf[UTF8String], n)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val c = child.genCode(ctx)
    ev.copy(code = code"""${c.code}
      |ArrayData ${ev.value} = graft.functions.ShinglesExpr.compute(
      |  ${c.isNull} ? null : ${c.value}, $n);""".stripMargin,
      isNull = FalseLiteral)
  }
}

object ShinglesExpr {
  private val NoShingles: ArrayData = new GenericArrayData(Array.empty[Any])

  def compute(s: UTF8String, n: Int): ArrayData = {
    if (s == null) return NoShingles
    val bytes = s.getBytes // shingles are views of this one copy
    var nTok = 1
    var i = 0
    while (i < bytes.length) {
      if (bytes(i) == ' ') nTok += 1
      i += 1
    }
    if (nTok < n) return NoShingles
    // token t spans [starts(t), starts(t + 1) - 1), with a virtual start
    // one past the end of the text
    val starts = new Array[Int](nTok + 1)
    var t = 1
    i = 0
    while (i < bytes.length) {
      if (bytes(i) == ' ') { starts(t) = i + 1; t += 1 }
      i += 1
    }
    starts(nTok) = bytes.length + 1
    val out = new Array[Any](nTok - n + 1)
    var w = 0
    while (w < out.length) {
      val from = starts(w)
      out(w) = UTF8String.fromBytes(bytes, from, starts(w + n) - 1 - from)
      w += 1
    }
    new GenericArrayData(out)
  }
}
