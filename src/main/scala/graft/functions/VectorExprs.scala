package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/** Native kernels over embedding vectors (arrays of float or double): the
  * dot product behind every cosine of Similarity, and the random-hyperplane
  * LSH bucket of annPairs.
  *
  * Why native: Catalyst has no codegen for the higher-order functions
  * (`aggregate`, `zip_with`, `transform`) the SQL forms need, so they box
  * every element and evaluate it through `eval`; on the near_dup benchmark
  * they held a third of all executor samples. Each kernel is one loop over
  * the arrays, called by both the generated code and the interpreted path.
  *
  * Exact-parity contract (the DuckDB oracle keeps the list_reduce form, see
  * OracleSql.sqlDot): every sum is a left fold in index order from 0.0 over
  * the double products, the same IEEE operations in the same order, so the
  * results are bit-identical to the oracle's.
  */
object VectorExprs {
  /** The element type of a vector input: float or double, null otherwise. */
  private[functions] def elementType(t: DataType): Option[DataType] = t match {
    case ArrayType(e @ (FloatType | DoubleType), _) => Some(e)
    case _ => None
  }

  private[functions] def typeCheck(name: String, ts: DataType*): TypeCheckResult =
    ts.find(elementType(_).isEmpty).fold(TypeCheckResult.TypeCheckSuccess: TypeCheckResult)(t =>
      TypeCheckResult.TypeCheckFailure(
        s"$name requires array<float> or array<double> inputs, got ${t.catalogString}"))

  @inline private[functions] def at(a: ArrayData, dbl: Boolean, i: Int): Double =
    if (dbl) a.getDouble(i) else a.getFloat(i).toDouble

  private[functions] def hasNull(a: ArrayData): Boolean = {
    var i = 0
    while (i < a.numElements()) {
      if (a.isNullAt(i)) return true
      i += 1
    }
    false
  }
}

/** a · b, null when either array is null, their lengths differ or any
  * element is null (what `zip_with`'s null padding and DuckDB's `list_zip`
  * give).
  */
case class DotExpr(left: Expression, right: Expression) extends BinaryExpression {
  override def checkInputDataTypes(): TypeCheckResult =
    VectorExprs.typeCheck(prettyName, left.dataType, right.dataType)
  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true
  override def prettyName: String = "dot"
  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): DotExpr =
    copy(left = newLeft, right = newRight)

  private def dbl(e: Expression) = VectorExprs.elementType(e.dataType).contains(DoubleType)

  protected override def nullSafeEval(a: Any, b: Any): Any = {
    val (x, y) = (a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])
    if (DotExpr.defined(x, y)) DotExpr.compute(x, dbl(left), y, dbl(right)) else null
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) =>
      s"""${ev.isNull} = !graft.functions.DotExpr.defined($a, $b);
         |if (!${ev.isNull}) {
         |  ${ev.value} = graft.functions.DotExpr.compute($a, ${dbl(left)}, $b, ${dbl(right)});
         |}""".stripMargin)
}

object DotExpr {
  def defined(a: ArrayData, b: ArrayData): Boolean =
    a.numElements() == b.numElements() && !VectorExprs.hasNull(a) && !VectorExprs.hasNull(b)

  /** The left fold `acc = acc + a[i] * b[i]` from 0.0, over two arrays
    * [[defined]] holds for.
    */
  def compute(a: ArrayData, aDbl: Boolean, b: ArrayData, bDbl: Boolean): Double = {
    var acc = 0.0
    var i = 0
    while (i < a.numElements()) {
      acc = acc + VectorExprs.at(a, aDbl, i) * VectorExprs.at(b, bDbl, i)
      i += 1
    }
    acc
  }
}

/** Random-hyperplane LSH bucket of a vector: bit p is set iff the
  * projection onto hyperplane p is >= 0, in Spark's double order (NaN
  * sorts above every number, so a NaN projection sets its bit, as in the
  * oracle). Plane p's component at index j is `pmod(p*31 + j*17, 7) - 3`,
  * a small integer, and each projection is the same left fold as
  * [[DotExpr]]. All projections of a vector are folded in one pass. A null
  * vector, or one with a null element, has null projections and bucket 0;
  * an empty vector projects to 0.0 on every plane, so every bit is set.
  */
case class LshBucketExpr(child: Expression, nPlanes: Int) extends UnaryExpression {
  require(nPlanes >= 1 && nPlanes <= 32, s"nPlanes=$nPlanes must be in 1..32 (one bit per plane)")
  override def checkInputDataTypes(): TypeCheckResult =
    VectorExprs.typeCheck(prettyName, child.dataType)
  override def dataType: DataType = IntegerType
  override def nullable: Boolean = false
  override def prettyName: String = "lsh_bucket"
  override protected def withNewChildInternal(newChild: Expression): LshBucketExpr =
    copy(child = newChild)

  private def dbl = VectorExprs.elementType(child.dataType).contains(DoubleType)

  override def eval(input: InternalRow): Any =
    LshBucketExpr.compute(child.eval(input).asInstanceOf[ArrayData], dbl, nPlanes)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val c = child.genCode(ctx)
    ev.copy(code = code"""${c.code}
      |int ${ev.value} = graft.functions.LshBucketExpr.compute(
      |  ${c.isNull} ? null : ${c.value}, $dbl, $nPlanes);""".stripMargin,
      isNull = FalseLiteral)
  }
}

object LshBucketExpr {
  /** Plane p's component at index j, in {-3..3}. */
  @inline def component(p: Int, j: Int): Double = Math.floorMod(p * 31 + j * 17, 7) - 3

  def compute(vec: ArrayData, dbl: Boolean, nPlanes: Int): Int = {
    if (vec == null || VectorExprs.hasNull(vec)) return 0
    val proj = new Array[Double](nPlanes)
    var j = 0
    while (j < vec.numElements()) {
      val x = VectorExprs.at(vec, dbl, j)
      var p = 0
      while (p < nPlanes) {
        proj(p) = proj(p) + x * component(p, j)
        p += 1
      }
      j += 1
    }
    var bucket = 0
    var p = 0
    while (p < nPlanes) {
      if (proj(p) >= 0.0 || proj(p).isNaN) bucket |= 1 << p
      p += 1
    }
    bucket
  }
}
