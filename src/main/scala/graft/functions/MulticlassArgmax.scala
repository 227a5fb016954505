package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow, ImplicitCastInputTypes, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** One-vs-rest linear-classifier scoring as ONE native Catalyst
  * expression: all K margins (`fold_j(w_cj * x_j) + b_c`, ascending-j
  * serial double fold — the exact arithmetic of
  * [[graft.operators.LangIdTrained.train]] and its SQL replay) plus the
  * argmax, in one compiled method ([[MulticlassArgmax.score]]) over a
  * referenced `double[K][dim]` weight matrix. Interpreted eval and
  * generated code both call it; `array<float>` features are read
  * natively, without a boxing cast.
  *
  * Why an Expression and not K staged dot-product Columns: the staged
  * form is K separate 64-double LITERAL trees. The moment a consumer
  * FILTERS on the prediction (the curation-gate shape), predicate
  * pushdown substitutes the whole staged chain into the filter
  * condition — re-inlining the feature kernel and all K dots per
  * reference — and at K=32 the re-expanded conditions exhaust multi-GB
  * heaps in janino before a single row moves. Here the weights live in
  * one `ctx.addReferenceObj` matrix and the generated code is one call,
  * CONSTANT size in K and dim: pushdown can copy it anywhere for free.
  * This is the same composition-fails threshold that produced
  * [[DotProduct]] and [[CharTrigramEmbed]].
  *
  * Output: `struct<lang_pred: string, margin_best: double>`.
  * Tie rule: strict `>` keeps the FIRST class index achieving the
  * maximum — the oracle's `ORDER BY m DESC, c ASC` top-1. A NULL or
  * wrong-width vector yields NULL; a NaN margin (impossible from finite
  * features, but corrupt inputs exist) yields NULL rather than a
  * silently-arbitrary label.
  */
case class MulticlassArgmax(child: Expression,
    weights: Seq[Seq[Double]], biases: Seq[Double],
    labels: Seq[String]) extends UnaryExpression with ImplicitCastInputTypes {

  require(weights.nonEmpty && weights.length == biases.length &&
    weights.length == labels.length,
    "weights/biases/labels must agree on the class count")
  require(weights.forall(_.length == weights.head.length),
    "every class needs the same weight width")

  // model params are Seqs so case-class equals/hashCode compare by
  // CONTENT — Catalyst canonicalization / common-subexpression
  // elimination unify two structurally identical argmax columns (JVM
  // arrays compare by reference and would silently evaluate twice)
  // converted once for the hot loops; referenced from both eval paths
  @transient private lazy val wArr: Array[Array[Double]] =
    weights.map(_.toArray).toArray
  @transient private lazy val bArr: Array[Double] = biases.toArray
  @transient private lazy val utf8Labels: Array[UTF8String] =
    labels.map(UTF8String.fromString).toArray

  override def inputTypes: Seq[DataType] =
    Seq(DotProduct.vectorType(child.dataType))

  // lazy: the child's type is known only once it is resolved
  @transient private lazy val childIsFloat = DotProduct.isFloat(child.dataType)

  override def dataType: DataType = StructType(Seq(
    StructField("lang_pred", StringType),
    StructField("margin_best", DoubleType)))

  override def nullable: Boolean = true

  protected override def nullSafeEval(v: Any): Any =
    MulticlassArgmax.score(v.asInstanceOf[ArrayData], childIsFloat, wArr,
      bArr, utf8Labels)

  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, x => {
      val wRef = ctx.addReferenceObj("amxWeights", wArr, "double[][]")
      val bRef = ctx.addReferenceObj("amxBiases", bArr, "double[]")
      val lRef = ctx.addReferenceObj("amxLabels", utf8Labels,
        "org.apache.spark.unsafe.types.UTF8String[]")
      s"""
         |${ev.value} = graft.functions.MulticlassArgmax.score(
         |  $x, $childIsFloat, $wRef, $bRef, $lRef);
         |${ev.isNull} = ${ev.value} == null;
       """.stripMargin
    })

  override protected def withNewChildInternal(
      newChild: Expression): Expression = copy(child = newChild)

  override def prettyName: String = "graft_multiclass_argmax"
}

object MulticlassArgmax {
  /** Column entry point: `array<float>` and `array<double>` vectors are
    * read as they are, any other numeric array is cast to `array<double>`. */
  def argmax(vec: Column, weights: Seq[Seq[Double]], biases: Seq[Double],
      labels: Seq[String]): Column =
    Bridge.column(MulticlassArgmax(Bridge.expression(vec),
      weights.map(_.toVector).toVector, biases.toVector, labels.toVector))

  /** The `struct<lang_pred, margin_best>` of one vector `x` (read as
    * floats or doubles by `isFloat`) against the `K x dim` model `w`, `b`:
    * each margin is the ascending-j double fold of `w(c)(j) * x(j)` plus
    * `b(c)`; strict `>` keeps the first class reaching the maximum. Null
    * when `x` is not `dim` wide or a margin is NaN. */
  def score(x: ArrayData, isFloat: Boolean, w: Array[Array[Double]],
      b: Array[Double], labels: Array[UTF8String]): InternalRow = {
    val dim = w(0).length
    if (x.numElements() != dim) return null
    val v = DotProduct.doubles(x, isFloat)
    var bi = -1
    var bm = 0.0
    var c = 0
    while (c < w.length) {
      val wc = w(c)
      var s = 0.0
      var j = 0
      while (j < dim) { s += wc(j) * v(j); j += 1 }
      val m = s + b(c)
      if (java.lang.Double.isNaN(m)) return null
      if (bi < 0 || m > bm) { bi = c; bm = m }
      c += 1
    }
    new GenericInternalRow(Array[Any](labels(bi), bm))
  }
}
