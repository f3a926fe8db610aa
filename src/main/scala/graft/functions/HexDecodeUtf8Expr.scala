package graft.functions

import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.types.{DataType, StringType}
import org.apache.spark.sql.{Column, GraftSqlBridge, SparkSession}
import org.apache.spark.unsafe.types.UTF8String

/** Codegen entry point for [[HexDecodeUtf8]] — a top-level object so
  * Janino-generated code can call it through the static forwarder. */
object HexDecodeHelper {
  /** Strict hex→UTF-8; null on odd-length / non-hex / invalid UTF-8
    * (byte-level port of GraftFunctions.hexDecodeUtf8Strict, kept
    * allocation-light for the per-row hot path). */
  def decode(input: UTF8String): UTF8String = {
    if (input == null) return null
    val n = input.numBytes()
    if (n % 2 != 0) return null
    val src = input.getBytes
    val out = new Array[Byte](n / 2)
    var i = 0
    while (i < out.length) {
      val hi = Character.digit(src(2 * i).toChar, 16)
      val lo = Character.digit(src(2 * i + 1).toChar, 16)
      if (hi < 0 || lo < 0) return null
      out(i) = ((hi << 4) | lo).toByte
      i += 1
    }
    val dec = java.nio.charset.StandardCharsets.UTF_8.newDecoder()
      .onMalformedInput(java.nio.charset.CodingErrorAction.REPORT)
      .onUnmappableCharacter(java.nio.charset.CodingErrorAction.REPORT)
    try UTF8String.fromString(dec.decode(java.nio.ByteBuffer.wrap(out)).toString)
    catch { case _: java.nio.charset.CharacterCodingException => null }
  }
}

/** Native Catalyst expression for the strict S8 decode
  * (omni_rpc_client.py:100-114 semantics): stays inside whole-stage
  * codegen — no UDF serialization, no Row boxing — which is why it
  * beats the Scala-UDF form on a 100 TB scan (SURVEY.md §4.2).
  *
  * Null contract: null input → null output (standard), but ALSO
  * non-null input may produce null (invalid hex / invalid UTF-8), so
  * this cannot use defineCodeGen's non-null fast path. */
case class HexDecodeUtf8(child: Expression) extends UnaryExpression {
  override def dataType: DataType = StringType
  override def nullable: Boolean = true
  override def prettyName: String = "hex_decode_utf8"

  override def nullSafeEval(v: Any): Any =
    HexDecodeHelper.decode(v.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val c = child.genCode(ctx)
    val helper = HexDecodeHelper.getClass.getName.stripSuffix("$")
    ev.copy(code =
      code"""
        ${c.code}
        boolean ${ev.isNull} = true;
        UTF8String ${ev.value} = null;
        if (!${c.isNull}) {
          ${ev.value} = $helper.decode(${c.value});
          ${ev.isNull} = (${ev.value} == null);
        }""")
  }

  override protected def withNewChildInternal(newChild: Expression): HexDecodeUtf8 =
    copy(child = newChild)
}

object HexDecodeUtf8 {
  /** Idempotent per-session registration; afterwards the function is
    * callable from SQL. [[column]] needs no registration. */
  def register(spark: SparkSession): Unit =
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "hex_decode_utf8", exprs => HexDecodeUtf8(exprs.head), "scala_udf")

  def column(c: Column): Column =
    GraftSqlBridge.column(c)(exprs => HexDecodeUtf8(exprs.head))
}
