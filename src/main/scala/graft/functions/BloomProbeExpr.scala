package graft.functions

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.catalyst.expressions.{Expression, Predicate, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.{Column, GraftSqlBridge}

/** Static probe kernel shared by interpreted eval and the generated
  * code. One md5 per key (Kirsch–Mitzenmacher double hashing, same
  * bit layout as [[graft.llm.BloomFilter.bitPositions]] and its
  * DuckDB oracle twin), k bit tests against a driver-collected word
  * bitmap — no join, no shuffle, no per-bit row explosion. */
object BloomProbeHelper {
  private val md = new ThreadLocal[java.security.MessageDigest] {
    override def initialValue(): java.security.MessageDigest =
      java.security.MessageDigest.getInstance("MD5")
  }

  private val prefix = "bloom:".getBytes(java.nio.charset.StandardCharsets.US_ASCII)

  /** `true` iff all k Kirsch–Mitzenmacher bit positions of `key` are
    * set in `words` (bit b lives at `words(b >>> 5)` mask
    * `1L << (b & 31)` — exactly the `(word_idx, word)` layout
    * [[graft.llm.BloomFilter.build]] emits). Digest input is the
    * string `"bloom:" + key`, matching `md5(concat(lit("bloom:"),
    * key.cast("string")))`; h1/h2 are the first/second 4 digest bytes
    * read big-endian unsigned, matching `conv(substring(hex, 1, 8),
    * 16, 10)` / `(9, 8)`. h1 + 6·h2 < 2^35, no overflow. */
  def probe(key: org.apache.spark.unsafe.types.UTF8String,
      words: Array[Long], k: Int, m: Int): Boolean = {
    val d = md.get()
    d.reset()
    d.update(prefix)
    d.update(key.getBytes)
    val digest = d.digest()
    val h1 = ((digest(0) & 0xffL) << 24) | ((digest(1) & 0xffL) << 16) |
      ((digest(2) & 0xffL) << 8) | (digest(3) & 0xffL)
    val h2 = ((digest(4) & 0xffL) << 24) | ((digest(5) & 0xffL) << 16) |
      ((digest(6) & 0xffL) << 8) | (digest(7) & 0xffL)
    var j = 0
    while (j < k) {
      val bit = ((h1 + j * h2) % m).toInt
      if ((words(bit >>> 5) & (1L << (bit & 31))) == 0L) return false
      j += 1
    }
    true
  }
}

/** Native Catalyst bloom-membership probe against a BROADCAST word
  * bitmap. The r8 probe shape (explode k bit-rows per key, broadcast
  * join to the sketch table, regroup per key) was shuffle-bound: the
  * probed stream paid a ×k row explosion plus a full regroup
  * exchange. This expression is the scale-safe replacement — the
  * sketch is ≤ m/32 longs (4 MB at m = 2^24), shipped once per
  * executor via TorrentBroadcast, and the whole probe is k bit tests
  * per row INSIDE whole-stage codegen: zero extra rows, zero shuffle,
  * the shape of Spark's own `BloomFilterMightContain`. Bit layout is
  * unchanged from the row form, so the DuckDB oracle (q132) needs no
  * edit. */
case class BloomProbe(child: Expression, k: Int, m: Int,
    bcast: Broadcast[Array[Long]])
  extends UnaryExpression with Predicate {
  override def prettyName: String = "bloom_probe"

  override def nullSafeEval(v: Any): Any =
    BloomProbeHelper.probe(
      v.asInstanceOf[org.apache.spark.unsafe.types.UTF8String],
      bcast.value, k, m)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val helper = BloomProbeHelper.getClass.getName.stripSuffix("$")
    val ref = ctx.addReferenceObj("bloomBcast", bcast,
      classOf[Broadcast[Array[Long]]].getName)
    // hoist the broadcast deref out of the row loop: one executor-side
    // array lookup per task, not per row
    val words = ctx.addMutableState("long[]", "bloomWords",
      v => s"$v = (long[]) $ref.value();")
    defineCodeGen(ctx, ev, c => s"$helper.probe($c, $words, $k, $m)")
  }

  override protected def withNewChildInternal(newChild: Expression): BloomProbe =
    copy(child = newChild)
}

object BloomProbe {
  /** The key is cast to string exactly as
    * [[graft.llm.BloomFilter.bitPositions]] does, so any key type (the
    * engine's 60-bit BIGINT window hashes, raw strings) digests
    * identically in both probe forms and in the DuckDB oracle. */
  def column(key: Column, k: Int, m: Int, bcast: Broadcast[Array[Long]]): Column =
    GraftSqlBridge.column(key.cast("string"))(exprs =>
      BloomProbe(exprs.head, k, m, bcast))
}
