package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{ExpectsInputTypes, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType,
  StructField, StructType}
import org.apache.spark.sql.{Column, GraftSqlBridge, SparkSession}

/** Combined pass for the composed-dedup fingerprint prep: ONE md5 per
  * token yields BOTH the 16-bit sort-key simhash ([[SimHash16]]) and
  * the 60-bit Manku fingerprint ([[SimHash60]]). The split
  * formulation digests every token twice — and the digest is the
  * whole cost of a simhash — so the shared prep of the three-blocker
  * pipeline (blockedPairs / incremental batch prep / streaming
  * admission) was paying the token-digest pass twice for bit votes
  * that read from the same 16 digest bytes. Vote rules are the two
  * helpers' verbatim (null token: no votes, stays in the denominator;
  * bit set ⇔ 2·votes ≥ n), so both fields are bit-identical to the
  * split expressions — LlmSpec asserts it. */
object SimHash1660Helper {
  def hash(toks: ArrayData): InternalRow = {
    val n = toks.numElements()
    val c16 = new Array[Int](16)
    val c60 = new Array[Int](60)
    var i = 0
    while (i < n) {
      if (!toks.isNullAt(i)) {
        val b = toks.getUTF8String(i).getBytes
        val d = Md5Hashing.digest(b, 0, b.length)
        var j = 0
        while (j < 16) {
          val nib =
            if ((j & 1) == 0) (d(j >> 1) & 0xF0) >> 4
            else d(j >> 1) & 0x0F
          if (nib >= 8) c16(j) += 1
          // simhash60 bit j (j < 60): bit (3 - (j & 3)) of nibble
          // (j >> 2) — unrolled here nibble-wise: this nibble j
          // carries the four 60-bit positions 4j .. 4j+3
          if (j < 15) {
            if (((nib >> 3) & 1) == 1) c60(4 * j) += 1
            if (((nib >> 2) & 1) == 1) c60(4 * j + 1) += 1
            if (((nib >> 1) & 1) == 1) c60(4 * j + 2) += 1
            if ((nib & 1) == 1) c60(4 * j + 3) += 1
          }
          j += 1
        }
      }
      i += 1
    }
    var r16 = 0L
    var j = 0
    while (j < 16) {
      if (c16(j) * 2 >= n) r16 |= (1L << j)
      j += 1
    }
    var r60 = 0L
    j = 0
    while (j < 60) {
      if (c60(j) * 2 >= n) r60 |= (1L << j)
      j += 1
    }
    InternalRow(r16, r60)
  }
}

case class SimHash1660(child: Expression)
    extends UnaryExpression with ExpectsInputTypes {
  override def inputTypes: Seq[DataType] = Seq(ArrayType(StringType))
  override def dataType: DataType = StructType(Seq(
    StructField("sh16", LongType, nullable = false),
    StructField("sh60", LongType, nullable = false)))
  override def prettyName: String = "simhash1660"

  override def nullSafeEval(v: Any): Any =
    SimHash1660Helper.hash(v.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val helper = SimHash1660Helper.getClass.getName.stripSuffix("$")
    nullSafeCodeGen(ctx, ev, c => s"${ev.value} = $helper.hash($c);")
  }

  override protected def withNewChildInternal(newChild: Expression): SimHash1660 =
    copy(child = newChild)
}

object SimHash1660 {
  def column(tokens: Column): Column =
    GraftSqlBridge.column(tokens)(exprs => SimHash1660(exprs.head))

  @deprecated("the session is unused; call column(tokens)", "0.1.0")
  def column(spark: SparkSession, tokens: Column): Column = column(tokens)
}
