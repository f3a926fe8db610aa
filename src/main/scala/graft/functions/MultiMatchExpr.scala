package graft.functions

import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, IntegerType}
import org.apache.spark.sql.{Column, GraftSqlBridge}
import org.apache.spark.unsafe.types.UTF8String

/** Aho-Corasick automaton over the lowercased text, built ONCE on the
  * driver and shipped to executors by reference (it rides the codegen
  * references array, same as the SharedNgrams eval set — never
  * re-built per row or per partition).
  *
  * Why this exists: the C4/RefinedWeb "blocklist" stage drops any page
  * containing one of a list of phrases. At 10 patterns `OR
  * contains(...)` is fine; at the 10k-phrase lists real corpus
  * pipelines use, per-pattern scans are O(text × patterns) and a
  * regex alternation blows up the DFA. Aho-Corasick matches ALL
  * patterns in ONE pass over the text — O(text + hits) per row
  * regardless of pattern count — which is the difference between a
  * scan-bound and a CPU-bound corpus pass at 100 TB.
  *
  * Matching is case-insensitive (text lowercased under Locale.ROOT —
  * the SharedNgramsHelper locale discipline; patterns are lowercased
  * at build). Matches are plain substring hits, so the DuckDB oracle
  * is `contains(lower(text), pattern)` per pattern.
  */
final class AhoAutomaton(rawPatterns: Seq[String]) extends Serializable {
  val patterns: Array[String] =
    rawPatterns.map(_.toLowerCase(java.util.Locale.ROOT)).toArray
  require(patterns.nonEmpty && patterns.forall(_.nonEmpty),
    "AhoAutomaton needs at least one non-empty pattern")

  // goto tries built densely at construction; per-state emit lists are
  // flattened along fail chains (emits(s) = out(s) ∪ emits(fail(s))) —
  // worst case Σ suffix-chain depth, trivial for real blocklists
  private val (gotoMaps, fail, emits): (Array[Map[Char, Int]], Array[Int], Array[Array[Int]]) = {
    val g = scala.collection.mutable.ArrayBuffer(
      scala.collection.mutable.Map.empty[Char, Int])
    val out = scala.collection.mutable.ArrayBuffer(List.empty[Int])
    for ((p, pid) <- patterns.zipWithIndex) {
      var s = 0
      for (c <- p) {
        s = g(s).getOrElseUpdate(c, {
          g += scala.collection.mutable.Map.empty[Char, Int]
          out += List.empty[Int]
          g.length - 1
        })
      }
      out(s) = pid :: out(s)
    }
    val n = g.length
    val f = new Array[Int](n)
    val em = new Array[List[Int]](n)
    em(0) = out(0)
    val queue = scala.collection.mutable.Queue.empty[Int]
    for ((_, s) <- g(0)) { f(s) = 0; em(s) = out(s) ::: em(0); queue += s }
    while (queue.nonEmpty) {
      val r = queue.dequeue()
      for ((c, s) <- g(r)) {
        var t = f(r)
        while (t != 0 && !g(t).contains(c)) t = f(t)
        f(s) = g(t).get(c).filter(_ != s).getOrElse(0)
        em(s) = out(s) ::: em(f(s))
        queue += s
      }
    }
    (g.map(_.toMap).toArray, f, em.map(_.sorted.toArray))
  }

  private def step(s0: Int, c: Char): Int = {
    var s = s0
    while (true) {
      gotoMaps(s).get(c) match {
        case Some(nx) => return nx
        case None => if (s == 0) return 0 else s = fail(s)
      }
    }
    0
  }

  /** Distinct matched pattern ids, ascending. */
  def matched(text: UTF8String): ArrayData = {
    val str = text.toString.toLowerCase(java.util.Locale.ROOT)
    val hit = new Array[Boolean](patterns.length)
    var nHit = 0
    var st = 0
    var i = 0
    while (i < str.length) {
      st = step(st, str.charAt(i))
      val em = emits(st)
      var j = 0
      while (j < em.length) {
        if (!hit(em(j))) { hit(em(j)) = true; nHit += 1 }
        j += 1
      }
      i += 1
    }
    val res = new Array[Int](nHit)
    var k = 0
    var p = 0
    while (p < hit.length) {
      if (hit(p)) { res(k) = p; k += 1 }
      p += 1
    }
    new GenericArrayData(res)
  }
}

/** Native codegen'd `multi_match(text)` → ascending distinct ids of the
  * blocklist patterns occurring in the text. One automaton pass per
  * row fused into the scan: no explode, no join, no per-pattern scan. */
case class MultiMatch(child: Expression, auto: AhoAutomaton)
  extends UnaryExpression {
  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override def prettyName: String = "multi_match"

  override def nullSafeEval(v: Any): Any =
    auto.matched(v.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("ahoAuto", auto,
      classOf[AhoAutomaton].getName)
    nullSafeCodeGen(ctx, ev, c => s"${ev.value} = $ref.matched($c);")
  }

  override protected def withNewChildInternal(newChild: Expression): MultiMatch =
    copy(child = newChild)
}

object MultiMatch {
  def column(text: Column, patterns: Seq[String]): Column = {
    val auto = new AhoAutomaton(patterns)
    GraftSqlBridge.column(text)(exprs => MultiMatch(exprs.head, auto))
  }
}
