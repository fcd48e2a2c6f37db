package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType}

/** Cosine similarity of two numeric arrays as a native Catalyst expression
  * with whole-stage codegen (`doGenCode`): one fused loop computing dot
  * product and both norms, no intermediate arrays.
  *
  * Exists because the composable alternative — three `zip_with`/`aggregate`
  * higher-order functions — is interpreted per element and dominated the
  * pairwise-similarity benchmarks (pair joins evaluate it O(n²) times).
  * Math is identical: elements widened to double, accumulated in index
  * order, result = dot / (sqrt(na) * sqrt(nb)) — bit-for-bit the HOF
  * formulation and the DuckDB oracle's double-precision result.
  *
  * Returns null for null inputs or length mismatch.
  */
case class CosineSimilarity(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true

  private def elemIsFloat(e: Expression): Boolean =
    e.dataType.asInstanceOf[ArrayType].elementType == FloatType

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    def ok(e: Expression) = e.dataType match {
      case ArrayType(FloatType, _) | ArrayType(DoubleType, _) => true
      case _ => false
    }
    if (ok(left) && ok(right))
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"cosine_similarity expects array<float>/array<double>, got " +
          s"${left.dataType.catalogString}, ${right.dataType.catalogString}")
  }

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = x.numElements()
    if (n != y.numElements()) return null
    val (lf, rf) = (elemIsFloat(left), elemIsFloat(right))
    var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
    while (i < n) {
      // null element -> null result (matching zip_with/aggregate and
      // DuckDB list_cosine_similarity), never a silent 0.0 contribution
      if (x.isNullAt(i) || y.isNullAt(i)) return null
      val xv = if (lf) x.getFloat(i).toDouble else x.getDouble(i)
      val yv = if (rf) y.getFloat(i).toDouble else y.getDouble(i)
      dot += xv * yv; na += xv * xv; nb += yv * yv; i += 1
    }
    dot / (math.sqrt(na) * math.sqrt(nb))
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val lGet = if (elemIsFloat(left)) "getFloat" else "getDouble"
    val rGet = if (elemIsFloat(right)) "getFloat" else "getDouble"
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n"); val i = ctx.freshName("i")
      val dot = ctx.freshName("dot"); val na = ctx.freshName("na")
      val nb = ctx.freshName("nb")
      val xv = ctx.freshName("xv"); val yv = ctx.freshName("yv")
      s"""
         |final int $n = $a.numElements();
         |if ($n != $b.numElements()) {
         |  ${ev.isNull} = true;
         |} else {
         |  double $dot = 0.0; double $na = 0.0; double $nb = 0.0;
         |  for (int $i = 0; $i < $n; $i++) {
         |    if ($a.isNullAt($i) || $b.isNullAt($i)) { ${ev.isNull} = true; break; }
         |    final double $xv = (double) $a.$lGet($i);
         |    final double $yv = (double) $b.$rGet($i);
         |    $dot += $xv * $yv; $na += $xv * $xv; $nb += $yv * $yv;
         |  }
         |  if (!${ev.isNull}) {
         |    ${ev.value} = $dot / (java.lang.Math.sqrt($na) * java.lang.Math.sqrt($nb));
         |  }
         |}
       """.stripMargin
    })
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** Dot product only — for pair joins where per-vector norms are
  * precomputed once per side, leaving a third of [[CosineSimilarity]]'s
  * arithmetic in the O(n²) loop. Same accumulation order, so
  * `dot/(norm_a*norm_b)` is bit-identical to the fused cosine. */
case class DotProduct(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true

  private def elemIsFloat(e: Expression): Boolean =
    e.dataType.asInstanceOf[ArrayType].elementType == FloatType

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    def ok(e: Expression) = e.dataType match {
      case ArrayType(FloatType, _) | ArrayType(DoubleType, _) => true
      case _ => false
    }
    if (ok(left) && ok(right))
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"dot_product expects array<float>/array<double>, got " +
          s"${left.dataType.catalogString}, ${right.dataType.catalogString}")
  }

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = x.numElements()
    if (n != y.numElements()) return null
    val (lf, rf) = (elemIsFloat(left), elemIsFloat(right))
    var dot = 0.0; var i = 0
    while (i < n) {
      if (x.isNullAt(i) || y.isNullAt(i)) return null
      val xv = if (lf) x.getFloat(i).toDouble else x.getDouble(i)
      val yv = if (rf) y.getFloat(i).toDouble else y.getDouble(i)
      dot += xv * yv; i += 1
    }
    dot
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val lGet = if (elemIsFloat(left)) "getFloat" else "getDouble"
    val rGet = if (elemIsFloat(right)) "getFloat" else "getDouble"
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n"); val i = ctx.freshName("i")
      val dot = ctx.freshName("dot")
      s"""
         |final int $n = $a.numElements();
         |if ($n != $b.numElements()) {
         |  ${ev.isNull} = true;
         |} else {
         |  double $dot = 0.0;
         |  for (int $i = 0; $i < $n; $i++) {
         |    if ($a.isNullAt($i) || $b.isNullAt($i)) { ${ev.isNull} = true; break; }
         |    $dot += ((double) $a.$lGet($i)) * ((double) $b.$rGet($i));
         |  }
         |  if (!${ev.isNull}) { ${ev.value} = $dot; }
         |}
       """.stripMargin
    })
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** Asymmetric PQ dot product: full-precision query (array<float>)
  * against the codebook reconstruction selected by a candidate's PQ
  * codes (array<int>) — the hot loop of the ADC candidate sweep,
  * evaluated once per (query, candidate) pair.
  *
  * Exists because the composable form (nested `aggregate`/`element_at`
  * lambdas over the codebook literal) interprets ~subspaces×subDim
  * lambda calls per pair. Accumulation mirrors the HOF formulation
  * exactly — an inner per-subspace accumulator added to the outer sum —
  * so results are bit-identical (asserted in DedupSpec).
  *
  * The codebook ships as a constructor parameter (driver-precomputed
  * `Array[Array[Double]]`, one row per code, laid out as the full
  * 64-dim vector) and reaches generated code via `addReferenceObj`.
  */
case class PqAdcDot(left: Expression, right: Expression,
    codebook: Array[Array[Double]], subDim: Int)
    extends BinaryExpression {

  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(FloatType, _), ArrayType(t, _))
        if t == org.apache.spark.sql.types.IntegerType =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case _ =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"pq_adc_dot expects (array<float>, array<int>), got " +
            s"${left.dataType.catalogString}, ${right.dataType.catalogString}")
    }

  override def nullSafeEval(a: Any, b: Any): Any = {
    val q = a.asInstanceOf[ArrayData]
    val codes = b.asInstanceOf[ArrayData]
    val m = codes.numElements()
    var total = 0.0
    var mi = 0
    while (mi < m) {
      // null elements and out-of-range codes (e.g. the encoder's
      // all-null sentinel) → null result, matching the HOF formulation's
      // null propagation — never a silent 0 contribution or an AIOOBE
      if (codes.isNullAt(mi)) return null
      val code = codes.getInt(mi)
      if (code < 0 || code >= codebook.length) return null
      val row = codebook(code)
      var inner = 0.0
      var d = 0
      while (d < subDim) {
        val idx = mi * subDim + d
        if (q.isNullAt(idx)) return null
        inner += q.getFloat(idx).toDouble * row(idx)
        d += 1
      }
      total += inner
      mi += 1
    }
    total
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val cbRef = ctx.addReferenceObj("pqCodebook", codebook, "double[][]")
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val m = ctx.freshName("m"); val mi = ctx.freshName("mi")
      val d = ctx.freshName("d"); val idx = ctx.freshName("idx")
      val row = ctx.freshName("row"); val inner = ctx.freshName("inner")
      val total = ctx.freshName("total"); val code = ctx.freshName("code")
      s"""
         |final int $m = $b.numElements();
         |double $total = 0.0;
         |for (int $mi = 0; $mi < $m && !${ev.isNull}; $mi++) {
         |  if ($b.isNullAt($mi)) { ${ev.isNull} = true; break; }
         |  final int $code = $b.getInt($mi);
         |  if ($code < 0 || $code >= $cbRef.length) { ${ev.isNull} = true; break; }
         |  final double[] $row = $cbRef[$code];
         |  double $inner = 0.0;
         |  for (int $d = 0; $d < $subDim; $d++) {
         |    final int $idx = $mi * $subDim + $d;
         |    if ($a.isNullAt($idx)) { ${ev.isNull} = true; break; }
         |    $inner += ((double) $a.getFloat($idx)) * $row[$idx];
         |  }
         |  $total += $inner;
         |}
         |if (!${ev.isNull}) { ${ev.value} = $total; }
       """.stripMargin
    })
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

object VectorFns {
  import org.apache.spark.sql.graftbridge.Bridge

  /** Column wrapper for [[CosineSimilarity]]. */
  def cosineSim(a: Column, b: Column): Column =
    Bridge.column(CosineSimilarity(Bridge.expression(a), Bridge.expression(b)))

  /** Column wrapper for [[DotProduct]]. */
  def dotProduct(a: Column, b: Column): Column =
    Bridge.column(DotProduct(Bridge.expression(a), Bridge.expression(b)))

  /** Column wrapper for [[PqAdcDot]]. */
  def pqAdcDot(q: Column, codes: Column, codebook: Seq[Seq[Double]],
      subDim: Int): Column =
    Bridge.column(PqAdcDot(Bridge.expression(q), Bridge.expression(codes),
      codebook.map(_.toArray).toArray, subDim))
}
