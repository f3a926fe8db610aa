package graft.functions

import java.util.regex.Pattern

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{BooleanType, DataType, IntegerType, StructField, StructType}
import org.apache.spark.sql.{Column, GraftSqlBridge}
import org.apache.spark.unsafe.types.UTF8String

/** One-pass kernel for the C4 page/line statistics ([[C4LineStats]]).
  *
  * The Column formulation (kept as
  * `TextAnalysis.c4StatsColumns`, LlmSpec pins equivalence) walks the
  * text at least five times — lower(text) for the lorem probe, the
  * line split, and per line a trim + find-regex, a second trim +
  * whitespace split, a lower + contains, then a third trim inside the
  * clean-chars join. This kernel makes ONE pass over the lines and
  * touches each line a bounded number of times with no intermediate
  * array/row materialization. Every primitive is the engine's own
  * (UTF8String trim/toLowerCase/contains/split, the identical Java
  * regexes), so results are bit-identical to the Column form — the
  * same discipline as [[MinHashShingles]] vs the HOF formulation. */
object C4LineStatsHelper {
  private val End = Pattern.compile("[.!?\"]$")
  private val Ws = Pattern.compile("\\s+")
  private val NL = UTF8String.fromString("\n")
  private val Lorem = UTF8String.fromString("lorem ipsum")
  private val Brace = UTF8String.fromString("{")
  private val Js = UTF8String.fromString("javascript")

  def eval(text: UTF8String, minWords: Int): InternalRow = {
    val lines = text.split(NL, -1)
    var kept = 0
    var cleanChars = 0
    var i = 0
    while (i < lines.length) {
      val l = lines(i)
      val trimmed = l.trim()
      val ts = trimmed.toString
      if (End.matcher(ts).find() &&
          Ws.split(ts, -1).length >= minWords &&
          !l.toLowerCase.contains(Js)) {
        if (kept > 0) cleanChars += 1 // the '\n' joiner
        cleanChars += trimmed.numChars()
        kept += 1
      }
      i += 1
    }
    InternalRow(lines.length, kept, cleanChars,
      text.toLowerCase.contains(Lorem), text.contains(Brace))
  }
}

/** Native C4 line/page statistics: `c4_line_stats(text)` → struct of
  * (n_lines, n_kept, clean_chars, has_lorem, has_brace). A narrow map
  * fused into the scan; derived outputs (kept_frac, c4_kept) stay
  * plain Column arithmetic over the struct. */
case class C4LineStats(child: Expression, minWords: Int = 3)
  extends UnaryExpression {
  override def dataType: DataType = StructType(Seq(
    StructField("n_lines", IntegerType, nullable = false),
    StructField("n_kept", IntegerType, nullable = false),
    StructField("clean_chars", IntegerType, nullable = false),
    StructField("has_lorem", BooleanType, nullable = false),
    StructField("has_brace", BooleanType, nullable = false)))
  override def prettyName: String = "c4_line_stats"

  override def nullSafeEval(v: Any): Any =
    C4LineStatsHelper.eval(v.asInstanceOf[UTF8String], minWords)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val helper = C4LineStatsHelper.getClass.getName.stripSuffix("$")
    nullSafeCodeGen(ctx, ev, c => s"${ev.value} = $helper.eval($c, $minWords);")
  }

  override protected def withNewChildInternal(newChild: Expression): C4LineStats =
    copy(child = newChild)
}

object C4LineStats {
  def column(c: Column, minWords: Int = 3): Column =
    GraftSqlBridge.column(c)(exprs => C4LineStats(exprs.head, minWords))
}
