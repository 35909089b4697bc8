package graft.plans

import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftSqlBridge
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Codegen'd n-gram expression: `array<string>` tokens → space-joined
  * consecutive n-grams, length `max(0, len - n + 1)`.
  *
  * The composed form (`transform(sequence(1, size - n + 1),
  * i => concat_ws(" ", slice(tokens, i, n)))`) is semantically right but
  * runs on the higher-order-function interpreter: per gram it evaluates
  * a lambda, a slice (array copy), and an interpreted concat —
  * measured ~0.3 ms/row on 60-token documents, which multiplied across
  * every shingle consumer (bigram counts, Jaccard, MinHash-LSH,
  * quality rules) made n-gram construction a top-3 engine cost. This
  * expression builds each gram in one tight loop
  * ([[NGramArray.grams]]) that the generated code calls.
  *
  * Null semantics: null input array → null (standard unary null
  * propagation — NOTE this differs from the replaced composed form,
  * whose `otherwise(array())` guard mapped null to an EMPTY array; the
  * null result is the better contract since DuckDB's `list_transform`
  * is also null-propagating, and every engine consumer explodes or
  * sizes the result over non-null corpora). Null ELEMENTS are skipped
  * inside a gram (concat_ws behavior).
  */
case class NGramArray(child: Expression, n: Int) extends UnaryExpression {

  require(n >= 1, s"n must be >= 1, got $n")

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires array<string>, got $other")
  }

  override def dataType: DataType = ArrayType(StringType, containsNull = false)

  override def prettyName: String = "ngram_array"

  override protected def nullSafeEval(v: Any): Any =
    NGramArray.grams(v.asInstanceOf[ArrayData], n)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, a => s"graft.plans.NGramArray$$.MODULE$$.grams($a, $n)")

  override protected def withNewChildInternal(newChild: Expression): NGramArray =
    copy(child = newChild)
}

object NGramArray {
  def apply(tokens: Column, n: Int): Column =
    GraftSqlBridge.column(NGramArray(GraftSqlBridge.expression(tokens), n))

  private val sep = UTF8String.fromString(" ")

  /** The grams, shared by `nullSafeEval` and the generated code (called
    * via MODULE$ from janino). */
  def grams(arr: ArrayData, n: Int): ArrayData = {
    val m = math.max(0, arr.numElements() - n + 1)
    val grams = new Array[AnyRef](m)
    var i = 0
    while (i < m) {
      val parts = new Array[UTF8String](n)
      var j = 0
      while (j < n) {
        parts(j) = if (arr.isNullAt(i + j)) null else arr.getUTF8String(i + j)
        j += 1
      }
      grams(i) = UTF8String.concatWs(sep, parts: _*)
      i += 1
    }
    new GenericArrayData(grams)
  }
}
