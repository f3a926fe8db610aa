package graft.functions

import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType}
import org.apache.spark.sql.{Column, GraftSqlBridge}

/** Native codegen'd vector dot product over `Array[Float]` /
  * `Array[Double]` columns.
  *
  * Why this exists: Spark's higher-order functions
  * (`aggregate(zip_with(...))`) are CodegenFallback — every element is
  * a boxed lambda invocation through the interpreted evaluator, and in
  * the similarity operators the dot product runs once per candidate
  * PAIR (N·Q in brute-force top-k, Σ bucket² in near-dup). This
  * expression compiles to a tight primitive `double` loop inside
  * whole-stage codegen, which is the difference between an interpreted
  * inner loop and a JIT'd multiply-add chain at 100 TB pair volume.
  *
  * Semantics are BIT-IDENTICAL to the HOF formulation it replaces
  * (`aggregate(zip_with(a, b, (x,y) => x.cast(double)*y.cast(double)),
  * 0.0, _+_)`), which the DuckDB oracle mirrors with
  * `list_sum(list_transform(...))`:
  *   - left-to-right fold, `acc = 0.0; acc += a(i)*b(i)` — IEEE double
  *     addition in the exact same order;
  *   - each element widened to double BEFORE the multiply;
  *   - null array → null; length mismatch → null (zip_with pads with
  *     null, null product poisons the sum); null element → null.
  */
object DotProductHelper {
  /** Interpreted twin of the generated code (used off the codegen
    * path, e.g. in ConstantFolding). ft = element is FloatType. */
  def dot(a: ArrayData, b: ArrayData, aFloat: Boolean, bFloat: Boolean): Any = {
    val n = a.numElements()
    if (n != b.numElements()) return null
    var acc = 0.0
    var i = 0
    while (i < n) {
      if (a.isNullAt(i) || b.isNullAt(i)) return null
      val x = if (aFloat) a.getFloat(i).toDouble else a.getDouble(i)
      val y = if (bFloat) b.getFloat(i).toDouble else b.getDouble(i)
      acc += x * y
      i += 1
    }
    acc
  }
}

case class DotProduct(left: Expression, right: Expression)
  extends BinaryExpression {

  private def elemIsFloat(e: Expression): Boolean =
    e.dataType.asInstanceOf[ArrayType].elementType == FloatType

  private def okType(t: DataType): Boolean = t match {
    case ArrayType(FloatType, _) | ArrayType(DoubleType, _) => true
    case _ => false
  }

  override def checkInputDataTypes(): TypeCheckResult =
    if (okType(left.dataType) && okType(right.dataType)) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName needs array<float|double> inputs, got " +
        s"${left.dataType.catalogString} / ${right.dataType.catalogString}")

  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true
  override def prettyName: String = "vec_dot"

  override def nullSafeEval(a: Any, b: Any): Any =
    DotProductHelper.dot(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData],
      elemIsFloat(left), elemIsFloat(right))

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    def get(arr: String, i: String, e: Expression): String =
      if (elemIsFloat(e)) s"(double) $arr.getFloat($i)" else s"$arr.getDouble($i)"
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val acc = ctx.freshName("acc")
      s"""
         |final int $n = $a.numElements();
         |if ($n != $b.numElements()) {
         |  ${ev.isNull} = true;
         |} else {
         |  double $acc = 0.0;
         |  for (int $i = 0; $i < $n; $i++) {
         |    if ($a.isNullAt($i) || $b.isNullAt($i)) { ${ev.isNull} = true; break; }
         |    $acc += (${get(a, i, left)}) * (${get(b, i, right)});
         |  }
         |  if (!${ev.isNull}) ${ev.value} = $acc;
         |}
       """.stripMargin
    })
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): DotProduct =
    copy(left = newLeft, right = newRight)
}

object DotProduct {
  def column(a: Column, b: Column): Column =
    GraftSqlBridge.column(a, b)(exprs => DotProduct(exprs(0), exprs(1)))
}
