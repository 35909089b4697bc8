package graft.plans

import org.apache.spark.sql.{Column, GraftSqlBridge}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, LongType}

/** Fused sign-LSH signature: all `bits` hyperplane projections of an
  * `array<double>` embedding in ONE loop ([[LshSignatureExpr.compute]])
  * that the generated code calls.
  *
  * Why an expression and not the composed column form
  * (Similarity.lshSignature round-5..14): the composed 32-plane
  * signature is 32 `ArrayDotProduct(checked, typedlit(plane))` terms,
  * each re-embedding the dim-check subtree — the generated projection
  * method reaches ~80 KB, silently exceeding janino's 64 KB limit, so
  * the WHOLE scan stage fell back to interpreted eval. Measured at the
  * 100× crossover corpus (200 k vectors): the signature projection
  * ALONE was 40.5 s of q42's 41.6 s — 95% of the query in an
  * interpreter the plan pretended was codegen (the same disease as the
  * round-13 PQ 64 KB overflow, one abstraction level up). This
  * expression generates one call: a null/dim check, then a
  * bits × dim primitive loop over a references-held plane matrix.
  *
  * Semantics are EXACTLY the composed form's (oracle-stable):
  *  - null input or `numElements != dim` raises the same
  *    "lshSignature: embedding dim != dim (got N)" error (null → -1),
  *    never a silent degradation;
  *  - any null ELEMENT nulls every projection, and `when(null > 0)`
  *    fell to `otherwise(0)` — so the signature is 0, not null;
  *  - per plane: ascending-index `acc += emb[i]·P[p][i]` — the
  *    identical IEEE fold ArrayDotProduct ran — with the bit set on
  *    `acc > 0` under Spark's NaN-is-greatest comparison semantics
  *    (`Double.compare`, matching GreaterThan on doubles).
  *
  * `planes` is the flattened bits×dim hyperplane matrix, passed in by
  * the caller (graft.operators.Similarity derives it from the public
  * md5 scheme; plans/ stays dependency-free of operators/).
  */
case class LshSignatureExpr(child: Expression, bits: Int, dim: Int,
                            planes: IndexedSeq[Double])
  extends UnaryExpression {

  require(bits >= 1 && bits <= 63, s"bits out of range: $bits")
  require(planes.length == bits * dim,
    s"planes must be bits*dim = ${bits * dim} values, got ${planes.length}")

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(DoubleType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires array<double> input, got $t")
  }

  override def dataType: DataType = LongType

  /** Never null: bad input raises, null elements yield signature 0. */
  override def nullable: Boolean = false

  override def prettyName: String = "lsh_signature"

  @transient private lazy val planeArr: Array[Double] = planes.toArray

  override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any =
    LshSignatureExpr.compute(child.eval(input).asInstanceOf[ArrayData], planeArr, bits, dim)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val c = child.genCode(ctx)
    val planesRef = ctx.addReferenceObj("lshPlanes", planeArr, "double[]")
    val call = s"graft.plans.LshSignatureExpr$$.MODULE$$.compute(" +
      s"${c.isNull} ? null : ${c.value}, $planesRef, $bits, $dim)"
    ev.copy(code = code"""
        |${c.code}
        |final long ${ev.value} = $call;
       """.stripMargin, isNull = FalseLiteral)
  }

  override protected def withNewChildInternal(newChild: Expression): LshSignatureExpr =
    copy(child = newChild)
}

object LshSignatureExpr {
  /** Column-API entry point. */
  def signature(emb: Column, bits: Int, dim: Int,
                planes: IndexedSeq[Double]): Column =
    GraftSqlBridge.column(LshSignatureExpr(
      GraftSqlBridge.expression(emb), bits, dim, planes))

  private def fail(dim: Int, n: Int): Nothing =
    throw new RuntimeException(
      s"lshSignature: embedding dim != $dim (got $n)")

  /** The signature, shared by `eval` and the generated code (called via
    * MODULE$ from janino). `arr` is null when the input is. Each
    * component is read once and reused by every plane. */
  def compute(arr: ArrayData, planes: Array[Double], bits: Int, dim: Int): Long = {
    if (arr == null) fail(dim, -1)
    val n = arr.numElements()
    if (n != dim) fail(dim, n)
    val xs = new Array[Double](n)
    var i = 0
    while (i < n) {
      if (arr.isNullAt(i)) return 0L
      xs(i) = arr.getDouble(i)
      i += 1
    }
    var sig = 0L
    var p = 0
    while (p < bits) {
      var acc = 0.0
      var d = 0
      val off = p * dim
      while (d < dim) {
        acc += xs(d) * planes(off + d)
        d += 1
      }
      if (java.lang.Double.compare(acc, 0.0) > 0) sig |= (1L << p)
      p += 1
    }
    sig
  }
}
