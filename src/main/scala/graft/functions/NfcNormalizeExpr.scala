package graft.functions

import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.types.{DataType, StringType}
import org.apache.spark.sql.{Column, GraftSqlBridge}
import org.apache.spark.unsafe.types.UTF8String

/** Codegen entry point for [[NfcNormalize]] — top-level object so the
  * Janino-generated code calls through the static forwarder. */
object NfcNormalizeHelper {
  /** Unicode NFC canonical composition (UAX #15) via
    * `java.text.Normalizer`. ASCII is NFC by construction, so a pure
    * ASCII input (the overwhelmingly common case in a web corpus)
    * returns the input object untouched — no String round-trip, no
    * allocation. The byte scan costs one pass; `Normalizer.normalize`
    * costs a UTF-16 decode + quick-check + possible recompose, so the
    * fast path is what keeps this viable on a 100 TB scan.
    *
    * Matches DuckDB's utf8proc `nfc_normalize` byte-for-byte on
    * composition, canonical reordering of combining marks, and
    * compatibility characters left alone (NFC ≠ NFKC) — the q140
    * oracle pins that parity. */
  def normalize(input: UTF8String): UTF8String = {
    if (input == null) return null
    val bytes = input.getBytes
    var i = 0
    var ascii = true
    while (ascii && i < bytes.length) { ascii = bytes(i) >= 0; i += 1 }
    if (ascii) input
    else UTF8String.fromString(java.text.Normalizer.normalize(
      input.toString, java.text.Normalizer.Form.NFC))
  }
}

/** Native Catalyst expression for Unicode NFC normalization — the
  * first step of every corpus text-normalization stage (the reference
  * pipelines delegate this to warehouse UDFs; here it stays inside
  * whole-stage codegen with an ASCII zero-copy fast path). */
case class NfcNormalize(child: Expression) extends UnaryExpression {
  override def dataType: DataType = StringType
  override def prettyName: String = "nfc_normalize"

  override def nullSafeEval(v: Any): Any =
    NfcNormalizeHelper.normalize(v.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val helper = NfcNormalizeHelper.getClass.getName.stripSuffix("$")
    defineCodeGen(ctx, ev, c => s"$helper.normalize($c)")
  }

  override protected def withNewChildInternal(newChild: Expression): NfcNormalize =
    copy(child = newChild)
}

object NfcNormalize {
  def column(c: Column): Column =
    GraftSqlBridge.column(c)(exprs => NfcNormalize(exprs.head))
}
