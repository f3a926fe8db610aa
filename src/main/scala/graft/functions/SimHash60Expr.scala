package graft.functions

import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{DataType, LongType}
import org.apache.spark.sql.{Column, GraftSqlBridge}

/** 60-bit SimHash over a token array — the fingerprint width the
  * Manku-Jain-Das Sarma web-dedup scheme (WWW'07) blocks and probes;
  * [[SimHash16]]'s 16 bits are a locality SORT key, these 60 bits are
  * a HAMMING-space identity whose blocks pigeonhole near-duplicates.
  *
  * Bit family: bit j (0-based) is bit (3 − j mod 4) of md5 hex
  * nibble ⌊j/4⌋ — i.e. the first 15 hex chars of md5(token) read
  * big-endian nibble-wise, the same engine-portable md5-prefix family
  * as the 60-bit shingle hashes (DuckDB replays it with
  * strpos('0123456789abcdef', …) arithmetic). Vote rule is
  * [[SimHash16Helper]]'s verbatim: a null token casts no votes but
  * stays in the denominator; bit set ⇔ 2·votes ≥ n. ONE md5 per
  * token, all 60 bits read from the same digest. */
object SimHash60Helper {
  def hash(toks: ArrayData): Long = {
    val n = toks.numElements()
    val counts = new Array[Int](60)
    var i = 0
    while (i < n) {
      if (!toks.isNullAt(i)) {
        val b = toks.getUTF8String(i).getBytes
        val d = Md5Hashing.digest(b, 0, b.length)
        var j = 0
        while (j < 60) {
          val c = j >> 2 // hex char index
          val nib =
            if ((c & 1) == 0) (d(c >> 1) & 0xF0) >> 4
            else d(c >> 1) & 0x0F
          if (((nib >> (3 - (j & 3))) & 1) == 1) counts(j) += 1
          j += 1
        }
      }
      i += 1
    }
    var res = 0L
    var j = 0
    while (j < 60) {
      if (counts(j) * 2 >= n) res |= (1L << j)
      j += 1
    }
    res
  }
}

/** Native `simhash60(tokens)` → Long in [0, 2^60). A narrow map fused
  * into the scan; one digest per token. */
case class SimHash60(child: Expression) extends UnaryExpression {
  override def dataType: DataType = LongType
  override def prettyName: String = "simhash60"

  override def nullSafeEval(v: Any): Any =
    SimHash60Helper.hash(v.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val helper = SimHash60Helper.getClass.getName.stripSuffix("$")
    nullSafeCodeGen(ctx, ev, c => s"${ev.value} = $helper.hash($c);")
  }

  override protected def withNewChildInternal(newChild: Expression): SimHash60 =
    copy(child = newChild)
}

object SimHash60 {
  def column(tokens: Column): Column =
    GraftSqlBridge.column(tokens)(exprs => SimHash60(exprs.head))
}
