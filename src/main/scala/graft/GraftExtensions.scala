package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

import graft.functions.{HexDecodeUtf8, MinHashSig}

/** SparkSessionExtensions entry point: makes the engine's native
  * expressions first-class SQL functions — and the native as-of-join
  * planner strategy a first-class operator — in any session built with
  *
  *   spark.sql.extensions=graft.GraftExtensions
  *
  * (or `.withExtensions(new GraftExtensions)`). For sessions the caller
  * doesn't construct (tests, notebooks), `HexDecodeUtf8.register` adds
  * `hex_decode_utf8` and `plans.AsOfJoinNative.ensureStrategy` adds the
  * strategy at runtime. The DataFrame builders (`graft.functions.*
  * .column`) need neither: they wrap their expressions directly. */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectPlannerStrategy(_ => graft.plans.AsOfJoinStrategy)
    ext.injectFunction((
      FunctionIdentifier("hex_decode_utf8"),
      new ExpressionInfo(classOf[HexDecodeUtf8].getName, "hex_decode_utf8"),
      (exprs: Seq[Expression]) => HexDecodeUtf8(exprs.head)))
    ext.injectFunction((
      FunctionIdentifier("minhash_sig"),
      new ExpressionInfo(classOf[MinHashSig].getName, "minhash_sig"),
      (exprs: Seq[Expression]) => exprs match {
        case Seq(c) => MinHashSig(c)
        case Seq(c, k) => MinHashSig(c,
          k.eval().asInstanceOf[Number].intValue())
        case _ => throw new IllegalArgumentException(
          "minhash_sig(text[, numHashes])")
      }))
  }
}
