package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

import graft.functions.{GraftFunctions, HexDecodeUtf8}

/** The native codegen expression must agree byte-for-byte with the
  * scalar reference implementation on valid, invalid, and null input —
  * in BOTH codegen and interpreted execution. */
class HexExprSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private val rnd = new scala.util.Random(7)
  private lazy val cases: Seq[String] = {
    val valid = (1 to 100).map { _ =>
      val s = rnd.alphanumeric.take(rnd.nextInt(20)).mkString
      s.getBytes("UTF-8").map("%02x".format(_)).mkString
    }
    val randomHexish = (1 to 100).map { _ =>
      (1 to rnd.nextInt(16)).map(_ => "0123456789abcdefgz ".charAt(rnd.nextInt(19))).mkString
    }
    val invalidUtf8 = Seq("ff", "80", "c328", "f0288c28")
    val unicode = Seq("héllo ✓ wörld").map(_.getBytes("UTF-8").map("%02x".format(_)).mkString)
    valid ++ randomHexish ++ invalidUtf8 ++ unicode ++ Seq("", "abc", "ABCDEF", "68656C6C6F")
  }

  test("native expression matches scalar reference on a mixed corpus") {
    import spark.implicits._
    val df = cases.toDF("h")
      .select(col("h"), HexDecodeUtf8.column(col("h")).as("native"))
    val got = df.collect().map(r => r.getString(0) -> Option(r.getString(1))).toMap
    for (h <- cases) {
      val expected = Option(GraftFunctions.hexDecodeUtf8Strict(h))
      assert(got(h) == expected, s"input '$h'")
    }
  }

  test("interpreted path (codegen off) agrees too") {
    import spark.implicits._
    spark.conf.set("spark.sql.codegen.wholeStage", "false")
    spark.conf.set("spark.sql.codegen.factoryMode", "NO_CODEGEN")
    try {
      val df = cases.toDF("h")
        .select(col("h"), HexDecodeUtf8.column(col("h")).as("native"))
      val got = df.collect().map(r => r.getString(0) -> Option(r.getString(1))).toMap
      for (h <- cases)
        assert(got(h) == Option(GraftFunctions.hexDecodeUtf8Strict(h)), s"input '$h'")
    } finally {
      spark.conf.set("spark.sql.codegen.wholeStage", "true")
      spark.conf.set("spark.sql.codegen.factoryMode", "FALLBACK")
    }
  }

  test("SQL surface: registered function callable from spark.sql") {
    HexDecodeUtf8.register(spark)
    val r = spark.sql("SELECT hex_decode_utf8('68656c6c6f') AS d, " +
      "hex_decode_utf8('zz') AS bad").first()
    assert(r.getString(0) == "hello" && r.isNullAt(1))
  }
}
