package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, ImplicitCastInputTypes}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType}

/** Native Catalyst dot product over two `array<float>` or `array<double>`
  * columns.
  *
  * The higher-order-function formulation (`zip_with` + `aggregate`)
  * allocates an intermediate products array per row and evaluates every
  * lambda step interpreted with boxed elements; this expression is one
  * primitive loop over the two `ArrayData`s — no intermediate array, no
  * boxing. The loop is one compiled method, [[DotProduct.compute]]:
  * interpreted eval and generated code both call it, so it stays JIT-hot
  * however often the surrounding stage is recompiled. It is the scalar
  * kernel under every similarity operator (cosine top-k, IVF cell
  * assignment, hyperplane LSH bits, near-dup verification), which is
  * exactly where a custom Expression beats composition of built-ins.
  *
  * `array<float>` is read natively (a float widens to double exactly), so
  * no row pays Spark's boxing array cast; any other numeric array is cast
  * to `array<double>` by the analyzer. Elements are assumed non-null
  * (embedding vectors); a null ARRAY yields null via the standard
  * null-intolerant binary-expression contract. Summation order is
  * ascending-index, identical to the left-fold of the HOF formulation —
  * results are bit-for-bit unchanged.
  */
case class DotProduct(left: Expression, right: Expression)
    extends BinaryExpression with ImplicitCastInputTypes {

  override def inputTypes: Seq[DataType] =
    Seq(left, right).map(e => DotProduct.vectorType(e.dataType))

  // lazy: the children's types are known only once they are resolved
  @transient private lazy val leftFloat = DotProduct.isFloat(left.dataType)
  @transient private lazy val rightFloat = DotProduct.isFloat(right.dataType)

  override def dataType: DataType = DoubleType

  override def nullable: Boolean = true

  // mismatched dimensions yield null, matching the zip_with/aggregate
  // formulation (null-padded product -> null sum): a wrong-width vector
  // must never produce a plausible similarity score
  override def nullSafeEval(l: Any, r: Any): Any = {
    val a = l.asInstanceOf[ArrayData]
    val b = r.asInstanceOf[ArrayData]
    if (a.numElements() != b.numElements()) null
    else DotProduct.compute(a, leftFloat, b, rightFloat)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) =>
      s"""
         |if ($a.numElements() != $b.numElements()) {
         |  ${ev.isNull} = true;
         |} else {
         |  ${ev.value} = graft.functions.DotProduct.compute(
         |    $a, $leftFloat, $b, $rightFloat);
         |}
       """.stripMargin)

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)

  override def prettyName: String = "graft_dot"
}

object DotProduct {
  /** Column-level entry point: `array<float>` and `array<double>` are read
    * as they are, any other numeric array is cast to `array<double>`. */
  def dot(a: Column, b: Column): Column =
    Bridge.column(DotProduct(Bridge.expression(a), Bridge.expression(b)))

  private[functions] def isFloat(t: DataType): Boolean = t match {
    case ArrayType(FloatType, _) => true
    case _ => false
  }

  /** The input type a vector kernel expects for a child of type `t`: `t`
    * itself for `array<float>` and `array<double>`, else `array<double>`
    * (the analyzer inserts the cast). */
  private[functions] def vectorType(t: DataType): DataType = t match {
    case ArrayType(FloatType | DoubleType, _) => t
    case _ => ArrayType(DoubleType)
  }

  /** The elements of `v` as doubles (a float widens exactly), the element
    * reader picked once for the whole array. */
  private[functions] def doubles(v: ArrayData, isFloat: Boolean): Array[Double] =
    if (!isFloat) v.toDoubleArray()
    else {
      val f = v.toFloatArray()
      val out = new Array[Double](f.length)
      var i = 0
      while (i < f.length) { out(i) = f(i); i += 1 }
      out
    }

  /** Whether any of `v`'s first `n` elements is null. */
  private[functions] def anyNull(v: ArrayData, n: Int): Boolean = {
    var i = 0
    while (i < n) { if (v.isNullAt(i)) return true; i += 1 }
    false
  }

  /** Ascending-index sum of `a(i) * b(i)` over two vectors of equal
    * length, each read as floats or doubles by its flag. The reader is
    * chosen once per call; a mixed pair multiplies in the same order as
    * the double pair does (IEEE multiplication commutes exactly). */
  def compute(a: ArrayData, aFloat: Boolean, b: ArrayData,
      bFloat: Boolean): Double = {
    if (aFloat != bFloat) return mixed(if (aFloat) a else b, if (aFloat) b else a)
    val n = a.numElements()
    var s = 0.0
    var i = 0
    if (aFloat)
      while (i < n) { s += a.getFloat(i).toDouble * b.getFloat(i).toDouble; i += 1 }
    else
      while (i < n) { s += a.getDouble(i) * b.getDouble(i); i += 1 }
    s
  }

  private def mixed(f: ArrayData, d: ArrayData): Double = {
    val n = f.numElements()
    var s = 0.0
    var i = 0
    while (i < n) { s += f.getFloat(i).toDouble * d.getDouble(i); i += 1 }
    s
  }
}
