package graft.functions

import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, DoubleType}
import org.apache.spark.sql.{Column, GraftSqlBridge}
import org.apache.spark.unsafe.types.UTF8String

/** Codegen entry point for [[JaccardShingles]]. Exact Jaccard of the
  * distinct k-char (code-point) shingle sets of two strings — the same
  * value as size(array_intersect(sh_a, sh_b)) / (|A|+|B|−|∩|) over
  * `Dedup.shingles`, computed per pair without materializing either
  * array. Intended for post-LSH verification where candidate pairs are
  * few: shuffling ids + re-shingling per pair beats carrying multi-KB
  * shingle arrays through joins. */
object JaccardShinglesHelper {
  def jaccard(a: UTF8String, b: UTF8String, k: Int): Double = {
    val sa = shingleSet(a, k)
    val sb = shingleSet(b, k)
    var inter = 0
    val it = sa.iterator()
    while (it.hasNext) if (sb.contains(it.next())) inter += 1
    inter.toDouble / (sa.size() + sb.size() - inter)
  }

  private def shingleSet(s: UTF8String, k: Int): java.util.HashSet[String] = {
    val n = math.max(s.numChars() - k + 1, 1)
    val set = new java.util.HashSet[String](n * 2)
    var i = 0
    while (i < n) { set.add(s.substringSQL(i + 1, k).toString); i += 1 }
    set
  }
}

/** `jaccard_shingles(a, b)` — exact shingle-set Jaccard as a native
  * codegen expression (value-identical to the array formulation;
  * LlmSpec asserts it). */
case class JaccardShingles(left: Expression, right: Expression, shingleLen: Int = 5)
  extends BinaryExpression {
  override def dataType: DataType = DoubleType
  override def prettyName: String = "jaccard_shingles"

  override def nullSafeEval(a: Any, b: Any): Any =
    JaccardShinglesHelper.jaccard(
      a.asInstanceOf[UTF8String], b.asInstanceOf[UTF8String], shingleLen)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val helper = JaccardShinglesHelper.getClass.getName.stripSuffix("$")
    nullSafeCodeGen(ctx, ev, (a, b) =>
      s"${ev.value} = $helper.jaccard($a, $b, $shingleLen);")
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): JaccardShingles =
    copy(left = newLeft, right = newRight)
}

object JaccardShingles {
  def column(a: Column, b: Column): Column =
    GraftSqlBridge.column(a, b)(exprs => JaccardShingles(exprs(0), exprs(1)))
}
