package graft.plans

import org.apache.spark.sql.{Column, GraftSqlBridge}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, LongType, StructField, StructType}

/** One-pass product-quantization encoder: `array<double>` embedding →
  * `struct<codes: array<long>, recon_err: double>`, evaluated by one
  * Scala kernel ([[PqEncode.encode]] over [[PqDistTable.table]]) that
  * the interpreted path and the generated code both call.
  *
  * The composed form (normalize via `transform`, 8 `slice` copies,
  * 24 dot products, 8 `array_min`/`array_position` scans) is
  * semantically identical but allocation-bound on the higher-order-
  * function interpreter — measured ~135 µs/row, which made PQ encoding
  * the dominant linear pass of the ADC pipeline (27 s of a 33 s scan at
  * 200k rows). This kernel is the same arithmetic with two
  * intermediate arrays: the normalized embedding and its distance table.
  *
  * IEEE parity with the composed form (hash-stable for q62/q63):
  *  - nrm = sqrt(Σ x_i², ascending-index fold) — `ArrayDotProduct`'s order;
  *  - normalized component x_i/nrm, divided once per row (the staged
  *    `transform` materialized the same quotient);
  *  - per-codeword distance is (xn2 − 2·(x·c)) + ‖c‖², both dots
  *    ascending, ‖c‖² the driver-side literal;
  *  - argmin keeps the FIRST strict minimum (== `array_position(d,
  *    array_min(d))` lowest-code tie-break);
  *  - recon_err folds the 8 subspace minima in ascending subspace
  *    order from 0.0.
  *
  * Null: null input array → null (standard unary propagation; corpora
  * with null embeddings are rejected upstream). A wrong-length or
  * null-element embedding throws — the loud-failure contract of
  * `lshSignature`, preferred over emitting garbage codes.
  *
  * @param codebook flattened [subspace][code][dim] codeword components,
  *   length subspaces·codes·subDim
  * @param norms2   flattened [subspace][code] squared codeword norms
  */
case class PqEncode(child: Expression, codebook: Array[Double],
                    norms2: Array[Double], subspaces: Int, codes: Int,
                    subDim: Int)
  extends UnaryExpression {

  require(codebook.length == subspaces * codes * subDim &&
    norms2.length == subspaces * codes,
    s"pq_encode: codebook ${codebook.length}/${norms2.length} does not " +
      s"match $subspaces subspaces x $codes codes x $subDim dims")

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(DoubleType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires array<double>, got $other")
  }

  override def dataType: DataType = StructType(Seq(
    StructField("codes", ArrayType(LongType, containsNull = false), nullable = false),
    StructField("recon_err", DoubleType, nullable = false)))

  override def prettyName: String = "pq_encode"

  override protected def nullSafeEval(v: Any): Any =
    PqEncode.encode(v.asInstanceOf[ArrayData], codebook, norms2, subspaces, codes, subDim)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val cbRef = ctx.addReferenceObj("pqCodebook", codebook, "double[]")
    val n2Ref = ctx.addReferenceObj("pqNorms2", norms2, "double[]")
    defineCodeGen(ctx, ev, arr => s"graft.plans.PqEncode$$.MODULE$$.encode(" +
      s"$arr, $cbRef, $n2Ref, $subspaces, $codes, $subDim)")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object PqEncode {
  def apply(emb: Column, codebook: Array[Double], norms2: Array[Double],
            subspaces: Int, codes: Int, subDim: Int): Column =
    GraftSqlBridge.column(PqEncode(GraftSqlBridge.expression(emb),
      codebook, norms2, subspaces, codes, subDim))

  /** The encoder, shared by `nullSafeEval` and the generated code
    * (called via MODULE$ from janino): per subspace, the first strict
    * minimum of [[PqDistTable.table]]'s row is the code, and the
    * minima fold into `recon_err` in ascending subspace order from 0.0.
    * A subspace whose distances are all NaN keeps code -1 and adds +∞. */
  def encode(arr: ArrayData, codebook: Array[Double], norms2: Array[Double],
             subspaces: Int, codes: Int, subDim: Int): InternalRow = {
    val table = PqDistTable.table(arr, codebook, norms2, subspaces, codes, subDim,
      "pq_encode")
    val out = new Array[Long](subspaces)
    var err = 0.0
    var s = 0
    while (s < subspaces) {
      var best = Double.PositiveInfinity
      var bi = -1
      var k = 0
      while (k < codes) {
        val dist = table(s * codes + k)
        if (dist < best) { best = dist; bi = k }
        k += 1
      }
      out(s) = bi.toLong
      err += best
      s += 1
    }
    InternalRow(new GenericArrayData(out), err)
  }
}

/** Fused ADC query-side distance table: `array<double>` embedding →
  * the flat `subspaces·codes` table of squared-L2 distances from each
  * normalized subvector to each codeword (flat index `s·codes + k`,
  * the layout `pqAdcKnn`'s `element_at(qtab, s·codes + code + 1)`
  * probes), in ONE loop ([[PqDistTable.table]]) that the generated code
  * calls.
  *
  * Why (the r15 disease, one family over): the composed form
  * (`pqStage`'s normalize `transform`, 8 slices, 8 self-dots, then 128
  * `ArrayDotProduct(xs_s, typedlit(codeword))` terms in one
  * projection) COMPILED — no janino failure — but the generated
  * projection method was ~42.9 KB of bytecode, past HotSpot's 8 KB
  * `DontCompileHugeMethods` ceiling, so the ANN table build ran in the
  * bytecode interpreter in every PQ query (q63/q73/q142;
  * `graft.CodegenAudit` HUGE-METHOD). This kernel is the identical
  * arithmetic as one compiled Scala method over a references-held
  * codebook.
  *
  * IEEE parity with the composed form (hash-stable for q63/q73/q142):
  *  - nrm = sqrt(Σ x_i², ascending fold) — `ArrayDotProduct`'s order;
  *  - normalized component x_i/nrm, divided once per row (the staged
  *    `transform` materialized the same quotient — division is
  *    deterministic);
  *  - xn2_s = Σ_d (x/nrm)², ascending within the subspace — the staged
  *    `dot(xs_s, xs_s)`;
  *  - entry (s,k) = (xn2_s − 2·(x·c)) + ‖c‖², both dots ascending,
  *    ‖c‖² the driver-side literal — `pqDistArray`'s exact shape;
  *  - entries written in ascending (s, k) — `flatten(array(d0..d7))`.
  *
  * Null: null input → null (standard unary propagation); wrong-length
  * or null-element embedding throws — [[PqEncode]]'s loud-failure
  * contract, shared so corpus and query sides fail identically. */
case class PqDistTable(child: Expression, codebook: Array[Double],
                       norms2: Array[Double], subspaces: Int, codes: Int,
                       subDim: Int)
  extends UnaryExpression {

  require(codebook.length == subspaces * codes * subDim &&
    norms2.length == subspaces * codes,
    s"pq_dist_table: codebook ${codebook.length}/${norms2.length} does not " +
      s"match $subspaces subspaces x $codes codes x $subDim dims")

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(DoubleType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires array<double>, got $other")
  }

  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)

  override def prettyName: String = "pq_dist_table"

  override protected def nullSafeEval(v: Any): Any = new GenericArrayData(
    PqDistTable.table(v.asInstanceOf[ArrayData], codebook, norms2, subspaces, codes,
      subDim, prettyName))

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val cbRef = ctx.addReferenceObj("pqCodebook", codebook, "double[]")
    val n2Ref = ctx.addReferenceObj("pqNorms2", norms2, "double[]")
    defineCodeGen(ctx, ev, arr =>
      "new org.apache.spark.sql.catalyst.util.GenericArrayData(" +
        s"graft.plans.PqDistTable$$.MODULE$$.table($arr, $cbRef, $n2Ref, $subspaces, " +
        s"$codes, $subDim, \"$prettyName\"))")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object PqDistTable {
  def apply(emb: Column, codebook: Array[Double], norms2: Array[Double],
            subspaces: Int, codes: Int, subDim: Int): Column =
    GraftSqlBridge.column(PqDistTable(GraftSqlBridge.expression(emb),
      codebook, norms2, subspaces, codes, subDim))

  /** The distance table, shared by both PQ expressions' `nullSafeEval`
    * and generated code (called via MODULE$ from janino); `name`
    * prefixes the loud-failure messages. Each normalized component is
    * divided once and reused by every codeword: the same quotient the
    * staged `transform` materialized, so the sums are unchanged. */
  def table(arr: ArrayData, codebook: Array[Double], norms2: Array[Double],
            subspaces: Int, codes: Int, subDim: Int, name: String): Array[Double] = {
    val dim = subspaces * subDim
    if (arr.numElements() != dim)
      throw new IllegalArgumentException(
        s"$name: embedding length ${arr.numElements()} != $dim")
    val xs = new Array[Double](dim)
    var nrm2 = 0.0
    var i = 0
    while (i < dim) {
      if (arr.isNullAt(i))
        throw new IllegalArgumentException(s"$name: null element at $i")
      val x = arr.getDouble(i)
      xs(i) = x
      nrm2 += x * x
      i += 1
    }
    val nrm = math.sqrt(nrm2)
    i = 0
    while (i < dim) {
      xs(i) /= nrm
      i += 1
    }
    val out = new Array[Double](subspaces * codes)
    var s = 0
    while (s < subspaces) {
      val base = s * subDim
      var xn2 = 0.0
      var d = 0
      while (d < subDim) {
        xn2 += xs(base + d) * xs(base + d)
        d += 1
      }
      var k = 0
      while (k < codes) {
        val cb = (s * codes + k) * subDim
        var dot = 0.0
        d = 0
        while (d < subDim) {
          dot += xs(base + d) * codebook(cb + d)
          d += 1
        }
        out(s * codes + k) = (xn2 - 2.0 * dot) + norms2(s * codes + k)
        k += 1
      }
      s += 1
    }
    out
  }
}
