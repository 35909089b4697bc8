package graft.plans

import org.apache.spark.sql.{Column, GraftSqlBridge}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType}

/** Native dot product over two `array<double>` columns — the one hot
  * scalar kernel in the engine worth a custom Catalyst `Expression`.
  *
  * The composed form (`aggregate(zip_with(a, b, _*_), 0.0, _+_)`) is
  * correct but runs on the higher-order-function interpreter: per row it
  * allocates the zipped array and evaluates two lambda closures per
  * element, and it blocks whole-stage codegen for the surrounding
  * operators. For ANN queries the dot product runs |corpus|·|probes|
  * times — measurably the dominant cost. This expression runs a tight
  * primitive loop ([[ArrayDotProduct.dot]]) that the generated code
  * calls inside whole-stage codegen instead.
  *
  * Semantics are EXACTLY the composed form's (drop-in, oracle-stable):
  *  - result is null if either array is null, the lengths differ
  *    (zip_with pads with null, nulling the fold), or any element is
  *    null;
  *  - the fold is sequential in ascending index order — bit-identical
  *    IEEE sums, so oracle-checked cosines (q30/q42/q44) are unchanged.
  */
case class ArrayDotProduct(left: Expression, right: Expression)
  extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(DoubleType, _), ArrayType(DoubleType, _)) =>
        TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires two array<double> inputs, got ($l, $r)")
    }

  override def dataType: DataType = DoubleType

  override def nullable: Boolean = true

  override def prettyName: String = "array_dot_product"

  override protected def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val r = ArrayDotProduct.dot(x, y)
    if (java.lang.Double.isNaN(r) && !ArrayDotProduct.defined(x, y)) null else r
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (x, y) => {
      val kernel = "graft.plans.ArrayDotProduct$.MODULE$"
      s"""
         |${ev.value} = $kernel.dot($x, $y);
         |if (java.lang.Double.isNaN(${ev.value}) && !$kernel.defined($x, $y)) {
         |  ${ev.isNull} = true;
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): ArrayDotProduct =
    copy(left = newLeft, right = newRight)
}

object ArrayDotProduct {

  /** Whether the dot product of `x` and `y` is non-null: equal lengths
    * and no null element. Asked only when [[dot]] returns NaN, so that the
    * common row takes one pass and boxes nothing. */
  def defined(x: ArrayData, y: ArrayData): Boolean = {
    val n = x.numElements()
    if (n != y.numElements()) return false
    var i = 0
    while (i < n) {
      if (x.isNullAt(i) || y.isNullAt(i)) return false
      i += 1
    }
    true
  }

  /** The ascending-index fold, shared by `nullSafeEval` and the generated
    * code (called via MODULE$ from janino). NaN when the product is not
    * [[defined]]; a NaN from defined arrays is the fold's own value. */
  def dot(x: ArrayData, y: ArrayData): Double = {
    val n = x.numElements()
    if (n != y.numElements()) return Double.NaN
    var acc = 0.0
    var i = 0
    while (i < n) {
      if (x.isNullAt(i) || y.isNullAt(i)) return Double.NaN
      acc += x.getDouble(i) * y.getDouble(i)
      i += 1
    }
    acc
  }
}

object VectorExpressions {

  /** Column-API entry point for [[ArrayDotProduct]]. */
  def dotProduct(a: Column, b: Column): Column =
    GraftSqlBridge.column(ArrayDotProduct(
      GraftSqlBridge.expression(a), GraftSqlBridge.expression(b)))
}
