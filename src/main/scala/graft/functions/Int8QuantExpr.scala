package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType, StructField, StructType}
import org.apache.spark.sql.{Column, GraftSqlBridge}

/** One-pass int8 symmetric-quantization round-trip kernel:
  * scale = max |e_i| over the first `dims` elements,
  * q_i = ⌊e_i·127/scale + ½⌋ clamped to ±127 (all-zero vector →
  * all-zero codes, scale 0, zero error), then the dequantized error
  * sum and max — (scale, mse, max_abs_err) in ONE primitive loop
  * pair.
  *
  * Why this exists (the [[DotProduct]] rationale, measured here):
  * the Column-composed formulation needs the scale inside every
  * per-element lambda, and Catalyst's projection collapsing inlines
  * the `array_max(transform(...))` subtree into each of ~7 use
  * sites — all CodegenFallback higher-order functions — which
  * measured 15.96 s at sf0.1 for what is arithmetically a 2·dims
  * flop per row. This kernel evaluates the scale once and the error
  * loop once.
  *
  * Semantics are BIT-IDENTICAL to that formulation (and to the
  * DuckDB oracle): elements widened to double first; error sum is
  * the ascending-index IEEE fold; mse = sum / m with m the number of
  * elements actually present (≤ dims, the `slice` semantics);
  * max_abs_err = √(max err²). Null array → null; a null element or
  * an EMPTY slice → null (malformed-embedding contract — the
  * composed version would emit NaN soup; the kernel refuses). */
object Int8QuantHelper {
  def eval(arr: ArrayData, isFloat: Boolean, dims: Int): InternalRow = {
    val m = math.min(arr.numElements(), dims)
    if (m <= 0) return null
    var i = 0
    var s = 0.0
    while (i < m) {
      if (arr.isNullAt(i)) return null
      val x = if (isFloat) arr.getFloat(i).toDouble else arr.getDouble(i)
      val a = math.abs(x)
      if (a > s) s = a
      i += 1
    }
    var sum = 0.0
    var mx = 0.0
    i = 0
    while (i < m) {
      val x = if (isFloat) arr.getFloat(i).toDouble else arr.getDouble(i)
      val q =
        if (s > 0.0)
          math.max(-127.0, math.min(127.0, math.floor((x * 127.0) / s + 0.5)))
        else 0.0
      val d = x - q * s / 127.0
      val e = d * d
      sum += e
      if (e > mx) mx = e
      i += 1
    }
    InternalRow(s, sum / m, math.sqrt(mx))
  }
}

/** Native `int8_quant_<dims>(embedding)` → struct of
  * (scale, mse, max_abs_err). See [[Int8QuantHelper]]. */
case class Int8Quant(child: Expression, dims: Int = 64)
  extends UnaryExpression {

  private def isFloat: Boolean =
    child.dataType.asInstanceOf[ArrayType].elementType == FloatType

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(FloatType, _) | ArrayType(DoubleType, _) =>
      TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"$prettyName needs array<float|double>, got ${t.catalogString}")
  }

  override def dataType: DataType = StructType(Seq(
    StructField("scale", DoubleType, nullable = false),
    StructField("mse", DoubleType, nullable = false),
    StructField("max_abs_err", DoubleType, nullable = false)))
  // null even on non-null input (null element / empty slice) — must
  // declare it, or codegen elides the null check for non-nullable
  // input columns and NPEs downstream
  override def nullable: Boolean = true
  override def prettyName: String = s"int8_quant_$dims"

  override def nullSafeEval(v: Any): Any =
    Int8QuantHelper.eval(v.asInstanceOf[ArrayData], isFloat, dims)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val helper = Int8QuantHelper.getClass.getName.stripSuffix("$")
    nullSafeCodeGen(ctx, ev, c => s"""
      |${ev.value} = $helper.eval($c, $isFloat, $dims);
      |if (${ev.value} == null) { ${ev.isNull} = true; }
      |""".stripMargin)
  }

  override protected def withNewChildInternal(newChild: Expression): Int8Quant =
    copy(child = newChild)
}

object Int8Quant {
  def column(c: Column, dims: Int = 64): Column =
    GraftSqlBridge.column(c)(exprs => Int8Quant(exprs.head, dims))
}

/** The int8 CODES themselves (same scheme as [[Int8Quant]]:
  * scale = max |x_i|, q_i = clamp(⌊x_i·127/scale + ½⌋, ±127); all-zero
  * vector → all-zero codes), emitted as `array<double>` of
  * integer-valued doubles so the existing [[DotProduct]] ascending
  * fold scores them EXACTLY (|q_i·q_j| ≤ 127² and code dots sum well
  * inside 2⁵³ — every partial is an exact integer in IEEE). This is
  * the serving-side sibling of [[Int8Quant]]'s error readout: quant
  * stats say whether int8 is safe, these are the codes a quantized
  * index actually searches over (FAISS SQ8). A kernel, not a
  * `transform` HOF, for the q241 reason: the per-row scale subtree
  * consumed by all `dims` lambda elements gets re-inlined by
  * CollapseProject into a dims× recomputation. Null array, null
  * element, or an empty slice → null (the malformed-embedding
  * contract). */
object Int8CodesHelper {
  def eval(arr: ArrayData, isFloat: Boolean, dims: Int): ArrayData = {
    val m = math.min(arr.numElements(), dims)
    if (m <= 0) return null
    var s = 0.0
    var i = 0
    while (i < m) {
      if (arr.isNullAt(i)) return null
      val x = if (isFloat) arr.getFloat(i).toDouble else arr.getDouble(i)
      val a = math.abs(x)
      if (a > s) s = a
      i += 1
    }
    val out = new Array[Double](m)
    i = 0
    while (i < m) {
      val x = if (isFloat) arr.getFloat(i).toDouble else arr.getDouble(i)
      out(i) =
        if (s > 0.0)
          math.max(-127.0, math.min(127.0, math.floor((x * 127.0) / s + 0.5)))
        else 0.0
      i += 1
    }
    org.apache.spark.sql.catalyst.util.ArrayData.toArrayData(out)
  }
}

case class Int8Codes(child: Expression, dims: Int = 64)
  extends UnaryExpression {

  private def isFloat: Boolean =
    child.dataType.asInstanceOf[ArrayType].elementType == FloatType

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(FloatType, _) | ArrayType(DoubleType, _) =>
      TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"$prettyName needs array<float|double>, got ${t.catalogString}")
  }

  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)
  override def nullable: Boolean = true
  override def prettyName: String = s"int8_codes_$dims"

  override def nullSafeEval(v: Any): Any =
    Int8CodesHelper.eval(v.asInstanceOf[ArrayData], isFloat, dims)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val helper = Int8CodesHelper.getClass.getName.stripSuffix("$")
    nullSafeCodeGen(ctx, ev, c => s"""
      |${ev.value} = $helper.eval($c, $isFloat, $dims);
      |if (${ev.value} == null) { ${ev.isNull} = true; }
      |""".stripMargin)
  }

  override protected def withNewChildInternal(newChild: Expression): Int8Codes =
    copy(child = newChild)
}

object Int8Codes {
  def column(c: Column, dims: Int = 64): Column =
    GraftSqlBridge.column(c)(exprs => Int8Codes(exprs.head, dims))
}
