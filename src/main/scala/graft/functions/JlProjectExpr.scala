package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType}
import org.apache.spark.sql.{Column, GraftSqlBridge}

/** Native Johnson–Lindenstrauss random projection over an embedding
  * column: `outDims` components, each the ascending-dim fold of
  * `(double) emb[d] * sign(j, d)` divided by `sqrt(outDims)`.
  *
  * The ±1 (Rademacher/Achlioptas) matrix — not Gaussian — is the
  * deliberate choice: the JL distance-preservation guarantee holds for
  * ±1 entries (Achlioptas 2003), and ±1 keeps every arithmetic step in
  * exactly-rounded IEEE ops (multiply, add, sqrt, divide — no
  * transcendentals), so a DuckDB replay of the same fold is
  * bit-identical and the operator hash-gates.
  *
  * Why a native expression: the flat Column formulation
  * ([[graft.llm.Similarity.jlProjectFlat]]) is an `outDims × dims`
  * multiply-add tree (1,024 nodes at 16×64) — the same
  * too-big-to-codegen shape that made [[SrpBucket]] necessary. This is
  * a primitive double loop with the sign matrix cached process-wide.
  *
  * Null semantics (flat-form parity, LlmSpec pins it): a NULL array →
  * NULL result; a null/absent element poisons every component that
  * reads it (with a full-width input that is all of them), yielding
  * null components inside a non-null array.
  */
object JlProjectHelper {
  /** Deterministic ±1 entry for (out-dim j, in-dim d): one md5 nibble
    * under a JL-specific salt, so the projection matrix is independent
    * of the SRP bucketing hyperplanes ([[SrpBucketHelper.planeSign]]).
    * Single source of truth — the DuckDB oracle inlines these values. */
  def jlSign(j: Int, d: Int): Double = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val hex = md.digest(s"jl$j:$d".getBytes("UTF-8"))
      .map("%02x".format(_)).mkString
    if ("89abcdef".indexOf(hex.charAt(0)) >= 0) 1.0 else -1.0
  }

  private val signCache =
    new java.util.concurrent.ConcurrentHashMap[(Int, Int), Array[Double]]()

  def signs(outDims: Int, dims: Int): Array[Double] =
    signCache.computeIfAbsent((outDims, dims), { case (o, k) =>
      Array.tabulate(o * k)(i => jlSign(i / k, i % k))
    })

  def project(emb: ArrayData, isFloat: Boolean, outDims: Int,
      dims: Int): ArrayData = {
    val s = signs(outDims, dims)
    val scale = Math.sqrt(outDims.toDouble)
    val len = emb.numElements()
    val out = new Array[Any](outDims)
    var j = 0
    while (j < outDims) {
      val off = j * dims
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
      out(j) = if (nul) null else acc / scale
      j += 1
    }
    new GenericArrayData(out)
  }
}

case class JlProject(child: Expression, outDims: Int = 16, dims: Int = 64)
  extends UnaryExpression {

  private def isFloat: Boolean =
    child.dataType.asInstanceOf[ArrayType].elementType == FloatType

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(FloatType, _) | ArrayType(DoubleType, _) =>
      TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"$prettyName needs an array<float|double> input, got ${t.catalogString}")
  }

  override def dataType: DataType = ArrayType(DoubleType, containsNull = true)
  override def nullable: Boolean = true
  override def prettyName: String = "jl_project"

  override def nullSafeEval(v: Any): Any =
    JlProjectHelper.project(v.asInstanceOf[ArrayData], isFloat, outDims, dims)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val helper = JlProjectHelper.getClass.getName.stripSuffix("$")
    defineCodeGen(ctx, ev, c =>
      s"$helper.project($c, $isFloat, $outDims, $dims)")
  }

  override protected def withNewChildInternal(newChild: Expression): JlProject =
    copy(child = newChild)
}

object JlProject {
  def column(emb: Column, outDims: Int = 16, dims: Int = 64): Column =
    GraftSqlBridge.column(emb)(exprs => JlProject(exprs.head, outDims, dims))
}
