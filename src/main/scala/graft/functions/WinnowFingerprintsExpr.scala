package graft.functions

import java.util.regex.Pattern

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StructField, StructType}
import org.apache.spark.sql.{Column, GraftSqlBridge}
import org.apache.spark.unsafe.types.UTF8String

/** One-pass winnowing kernel (Schleimer-Wilkerson-Aiken, MOSS): word
  * k-gram hashes, w-window minima, distinct selected values — all
  * inside ONE row, so the operator is a narrow map fused into the
  * scan (the q167 scan-rider shape). The Column-composed alternative
  * (HOF gram build → posexplode → two doc-keyed windows → collect_set)
  * measured 5.5 s at sf0.1 with 3.8 s spent just MATERIALIZING the
  * gram strings through interpreted higher-order functions; this
  * kernel builds each gram in a reused StringBuilder, hashes it once,
  * and never leaves the row.
  *
  * Hash family: md5 first-15-hex-chars → 60-bit long, the
  * [[graft.llm.Dedup.shingleHash]] / DuckDB
  * `('0x'||substr(md5(x),1,15))::BIGINT` engine-portable family.
  * Tokenization is [[graft.llm.TextAnalysis.tokens]] verbatim
  * (UTF8String.trim strips ONLY spaces like Spark's `trim`;
  * UTF8String.toLowerCase is locale-independent — the SharedNgrams
  * Turkish-İ discipline).
  *
  * Window semantics: full windows only (positions 0..G−w); a doc with
  * 0 < G < w grams winnows its single all-grams window; a doc with
  * fewer than k tokens emits zero grams and an empty set. The MOSS
  * rightmost-tie rule selects POSITIONS, not values, so the
  * value-keyed fingerprint set needs no tie-break. */
object WinnowFingerprintsHelper {
  private val Ws = Pattern.compile("\\s+")
  private val HexDigits = "0123456789abcdef".toCharArray

  // one digest per thread, not per document: the JCA provider lookup
  // rivals the hashing itself on short docs (reset() runs per gram,
  // so reuse across rows is safe)
  private val Md5 = new ThreadLocal[java.security.MessageDigest] {
    override def initialValue(): java.security.MessageDigest =
      java.security.MessageDigest.getInstance("MD5")
  }

  def eval(text: UTF8String, k: Int, w: Int): InternalRow = {
    val s = text.trim().toLowerCase.toString
    val toks = Ws.split(s, -1)
    val n = toks.length
    val g = n - k + 1
    if (g <= 0)
      return InternalRow(0L, new GenericArrayData(Array.emptyLongArray))
    val md = Md5.get()
    val sb = new java.lang.StringBuilder
    val hashes = new Array[Long](g)
    var i = 0
    while (i < g) {
      sb.setLength(0)
      var j = 0
      while (j < k) {
        if (j > 0) sb.append(' ')
        sb.append(toks(i + j))
        j += 1
      }
      val digest = md.digest(sb.toString.getBytes("UTF-8"))
      // first 15 hex chars = high 60 bits: bytes 0..6 full + byte 7's
      // high nibble, assembled without the hex-string round-trip
      var h = 0L
      var b = 0
      while (b < 7) { h = (h << 8) | (digest(b) & 0xffL); b += 1 }
      h = (h << 4) | ((digest(7) & 0xf0L) >> 4)
      hashes(i) = h
      i += 1
    }
    val nWin = math.max(g - w + 1, 1)
    val sel = new java.util.TreeSet[java.lang.Long]
    var p = 0
    while (p < nWin) {
      var mn = hashes(p)
      var q = p + 1
      val end = math.min(p + w, g)
      while (q < end) { if (hashes(q) < mn) mn = hashes(q); q += 1 }
      sel.add(mn)
      p += 1
    }
    val out = new Array[Long](sel.size)
    val it = sel.iterator()
    var o = 0
    while (it.hasNext) { out(o) = it.next(); o += 1 }
    InternalRow(g.toLong, new GenericArrayData(out))
  }

  /** Self-check for the nibble assembly vs the string path (used by
    * FunctionsSpec): the hex-prefix parse this replaces. */
  def hash60Reference(gram: String): Long = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val hex = md.digest(gram.getBytes("UTF-8"))
      .map(b => "" + HexDigits((b >> 4) & 0xf) + HexDigits(b & 0xf)).mkString
    java.lang.Long.parseLong(hex.take(15), 16)
  }
}

/** Native `winnow_fp_k_w(text)` → struct of (n_grams, fingerprints
  * sorted ascending). See [[WinnowFingerprintsHelper]]. */
case class WinnowFingerprints(child: Expression, k: Int = 4, w: Int = 4)
  extends UnaryExpression {
  override def dataType: DataType = StructType(Seq(
    StructField("n_grams", LongType, nullable = false),
    StructField("fingerprints", ArrayType(LongType, containsNull = false),
      nullable = false)))
  override def prettyName: String = s"winnow_fp_${k}_$w"

  override def nullSafeEval(v: Any): Any =
    WinnowFingerprintsHelper.eval(v.asInstanceOf[UTF8String], k, w)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val helper = WinnowFingerprintsHelper.getClass.getName.stripSuffix("$")
    nullSafeCodeGen(ctx, ev, c => s"${ev.value} = $helper.eval($c, $k, $w);")
  }

  override protected def withNewChildInternal(newChild: Expression): WinnowFingerprints =
    copy(child = newChild)
}

object WinnowFingerprints {
  def column(c: Column, k: Int = 4, w: Int = 4): Column =
    GraftSqlBridge.column(c)(exprs => WinnowFingerprints(exprs.head, k, w))
}
