package graft.functions

import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{DataType, LongType}
import org.apache.spark.sql.{Column, GraftSqlBridge}

/** Codegen entry point for [[SimHash16]]: 16-bit SimHash over a token
  * array, ONE md5 per token with all 16 bit-votes read from the same
  * digest. Value-identical to the HOF formulation in
  * graft.llm.Dedup.simhash16 (LlmSpec asserts the equivalence), which
  * re-evaluates md5(token) once per BIT — 16 digests per token —
  * because expression trees cannot share a subexpression across
  * higher-order-function lambda iterations. */
object SimHash16Helper {
  def hash(toks: ArrayData): Long = {
    val n = toks.numElements()
    val counts = new Array[Int](16)
    var i = 0
    while (i < n) {
      // a null token casts NO votes but stays in the denominator —
      // the HOF form's md5(null)→null predicate drops it from the
      // filter while size(toks) still counts it
      if (!toks.isNullAt(i)) {
        val b = toks.getUTF8String(i).getBytes
        val d = Md5Hashing.digest(b, 0, b.length)
        // hex char j of the digest: even j = high nibble of byte j/2,
        // odd j = low nibble; char ∈ "89abcdef" ⇔ nibble value ≥ 8
        var j = 0
        while (j < 16) {
          val nib =
            if ((j & 1) == 0) (d(j >> 1) & 0xF0) >> 4
            else d(j >> 1) & 0x0F
          if (nib >= 8) counts(j) += 1
          j += 1
        }
      }
      i += 1
    }
    var res = 0L
    var j = 0
    while (j < 16) {
      if (counts(j) * 2 >= n) res |= (1L << j)
      j += 1
    }
    res
  }
}

/** Native SimHash: `simhash16(tokens)` → Long in [0, 65536). A narrow
  * map fused into the scan stage; the per-token digest is the whole
  * cost, paid exactly once. */
case class SimHash16(child: Expression) extends UnaryExpression {
  override def dataType: DataType = LongType
  override def prettyName: String = "simhash16"

  override def nullSafeEval(v: Any): Any =
    SimHash16Helper.hash(v.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val helper = SimHash16Helper.getClass.getName.stripSuffix("$")
    nullSafeCodeGen(ctx, ev, c => s"${ev.value} = $helper.hash($c);")
  }

  override protected def withNewChildInternal(newChild: Expression): SimHash16 =
    copy(child = newChild)
}

object SimHash16 {
  def column(tokens: Column): Column =
    GraftSqlBridge.column(tokens)(exprs => SimHash16(exprs.head))
}
