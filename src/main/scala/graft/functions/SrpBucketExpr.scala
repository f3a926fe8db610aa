package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType, LongType}
import org.apache.spark.sql.{Column, GraftSqlBridge}

/** Native sign-random-projection bucket id over an embedding column.
  *
  * Why this exists: the Column formulation (`Similarity.srpBucketFlat`)
  * is a flat `bits × dims` multiply-add tree — ~4,000 expression nodes
  * at 8×64 — which is too large to execute efficiently (measured
  * ~0.3 ms/row, the dominant cost of every SRP consumer). This
  * compiles to a primitive double loop; the deterministic ±1 plane
  * matrix is computed once per (bits, dims) and cached process-wide.
  *
  * Semantics are BIT-IDENTICAL to the flat form (LlmSpec pins it):
  *   - per plane, left-to-right fold of `(double) emb[d] * sign(p, d)`;
  *   - bit p set iff the projection is ≥ 0 — a null/short/absent
  *     element poisons its plane's projection, and a null projection
  *     contributes 0 (the `when(...).otherwise(0)` branch), so a NULL
  *     array maps to bucket 0, exactly like the Column form.
  */
object SrpBucketHelper {
  /** Deterministic pseudo-random hyperplane component for (plane p,
    * dim d): ±1 from one md5 nibble — reproducible on any engine or
    * cluster size (single source of truth; `Similarity.planeSign`
    * delegates here, and the DuckDB oracle inlines these values). */
  def planeSign(p: Int, d: Int): Double = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val hex = md.digest(s"plane$p:$d".getBytes("UTF-8"))
      .map("%02x".format(_)).mkString
    if ("89abcdef".indexOf(hex.charAt(0)) >= 0) 1.0 else -1.0
  }

  private val signCache =
    new java.util.concurrent.ConcurrentHashMap[(Int, Int), Array[Double]]()

  def signs(bits: Int, dims: Int): Array[Double] =
    signCache.computeIfAbsent((bits, dims), { case (b, k) =>
      Array.tabulate(b * k)(i => planeSign(i / k, i % k))
    })

  def bucket(emb: ArrayData, isFloat: Boolean, bits: Int, dims: Int): Long = {
    val s = signs(bits, dims)
    val len = emb.numElements()
    var res = 0L
    var p = 0
    while (p < bits) {
      val off = p * dims
      var acc = 0.0
      var nul = false
      var d = 0
      while (d < dims && !nul) {
        if (d >= len || emb.isNullAt(d)) nul = true
        else {
          val x = if (isFloat) emb.getFloat(d).toDouble else emb.getDouble(d)
          acc += x * s(off + d)
        }
        d += 1
      }
      // !(acc < 0.0), not acc >= 0.0: Spark SQL's `>=` orders NaN
      // greater than every number, so the flat Column form sets the
      // bit when the projection is NaN — Java's >= would not. The
      // negated-< form matches Spark (and IEEE -0.0 >= 0 stays true).
      if (!nul && !(acc < 0.0)) res |= (1L << p)
      p += 1
    }
    res
  }
}

case class SrpBucket(child: Expression, bits: Int = 8, dims: Int = 64)
  extends UnaryExpression {

  private def isFloat: Boolean =
    child.dataType.asInstanceOf[ArrayType].elementType == FloatType

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(FloatType, _) | ArrayType(DoubleType, _) =>
      TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"$prettyName needs an array<float|double> input, got ${t.catalogString}")
  }

  override def dataType: DataType = LongType
  // a NULL array maps to bucket 0 (when/otherwise parity), never null
  override def nullable: Boolean = false
  override def prettyName: String = "srp_bucket"

  override def eval(input: InternalRow): Any = {
    val v = child.eval(input)
    if (v == null) 0L
    else SrpBucketHelper.bucket(v.asInstanceOf[ArrayData], isFloat, bits, dims)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val helper = SrpBucketHelper.getClass.getName.stripSuffix("$")
    val childGen = child.genCode(ctx)
    ev.copy(code = code"""
      ${childGen.code}
      long ${ev.value} = 0L;
      if (!${childGen.isNull}) {
        ${ev.value} = $helper.bucket(${childGen.value}, $isFloat, $bits, $dims);
      }""", isNull = FalseLiteral)
  }

  override protected def withNewChildInternal(newChild: Expression): SrpBucket =
    copy(child = newChild)
}

object SrpBucket {
  def column(emb: Column, bits: Int = 8, dims: Int = 64): Column =
    GraftSqlBridge.column(emb)(exprs => SrpBucket(exprs.head, bits, dims))
}
