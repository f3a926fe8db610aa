package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

import graft.llm.{Bpe, BpeCodec}
import graft.sources.Tables

class BpeSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val dir = TestSpark.sfDir

  /** Single-threaded reference BPE trainer (the Sennrich et al. 2016
    * pseudocode, verbatim greedy loop) — the distributed trainer must
    * produce the identical merge sequence. */
  private def refMerge(syms: Seq[String], a: String, b: String): Seq[String] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[String]
    var i = 0
    while (i < syms.length) {
      if (i + 1 < syms.length && syms(i) == a && syms(i + 1) == b) {
        out += (a + b); i += 2
      } else { out += syms(i); i += 1 }
    }
    out.toSeq
  }

  private def referenceTrain(words: Map[String, Long], numMerges: Int): Seq[(String, String)] = {
    var vocab: Map[Seq[String], Long] =
      words.map { case (w, f) => (w.map(_.toString) :+ Bpe.EndOfWord, f) }
    val merges = scala.collection.mutable.ArrayBuffer.empty[(String, String)]
    var continue = true
    while (merges.length < numMerges && continue) {
      val counts = scala.collection.mutable.Map.empty[(String, String), Long]
      for ((syms, f) <- vocab; i <- 0 until syms.length - 1)
        counts((syms(i), syms(i + 1))) = counts.getOrElse((syms(i), syms(i + 1)), 0L) + f
      if (counts.isEmpty) continue = false
      else {
        // (count desc, pair asc) — the trainer's documented tie-break
        val best = counts.toSeq.minBy { case ((a, b), c) => (-c, a, b) }._1
        merges += best
        vocab = vocab.groupMapReduce(kv => refMerge(kv._1, best._1, best._2))(_._2)(_ + _)
      }
    }
    merges.toSeq
  }

  test("classic worked example: low/lower/newest/widest learns es, est, est</w>, lo, low") {
    import spark.implicits._
    val words = Seq(("low", 5L), ("lower", 2L), ("newest", 6L), ("widest", 3L))
      .toDF("word", "freq")
    val merges = Bpe.train(words, 5)
    assert(merges == Seq(("e", "s"), ("es", "t"), ("est", "</w>"),
      ("l", "o"), ("lo", "w")), merges.toString)
  }

  test("greedy encode applies merges by rank: lowest -> low + est</w>") {
    import spark.implicits._
    val words = Seq(("low", 5L), ("lower", 2L), ("newest", 6L), ("widest", 3L))
      .toDF("word", "freq")
    val codec = new BpeCodec(Bpe.train(words, 10).toArray)
    assert(codec.encodeWord("lowest").toSeq == Seq("low", "est</w>"))
    assert(codec.encodeWord("newest").toSeq == Seq("newest</w>"))
    // unseen characters stay as singleton symbols
    assert(codec.encodeWord("xyz").toSeq == Seq("x", "y", "z", "</w>"))
  }

  test("distributed trainer matches the single-threaded reference on the corpus") {
    val docs = Tables.load(spark, dir, "documents")
    val wc = Bpe.wordCounts(docs, "text").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val distributed = Bpe.train(Bpe.wordCounts(docs, "text"), 15)
    val reference = referenceTrain(wc, 15)
    assert(distributed == reference,
      s"distributed=$distributed\nreference=$reference")
  }

  test("codegen'd bpe_encode equals driver-side encodeText, and counts are sane") {
    val docs = Tables.load(spark, dir, "documents").limit(50).cache()
    val codec = Bpe.trainOnCorpus(docs, "text", 20)
    val enc = Bpe.encodeColumn(codec, col("text"))
    val rows = docs.select(col("doc_id"), col("text"), enc.as("toks")).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val expected = codec.encodeText(r.getAs[String]("text")).toSeq
      assert(r.getAs[scala.collection.Seq[String]]("toks").toSeq == expected,
        s"doc ${r.get(0)}")
      // every word ends in exactly one </w>-terminated symbol
      val nWords = r.getAs[String]("text").trim.toLowerCase.split("\\s+").length
      assert(expected.count(_.endsWith(Bpe.EndOfWord)) == nWords)
    }
    docs.unpersist()
  }

  test("persisted codec: save/load round-trips the merge table in rank order") {
    import spark.implicits._
    val words = Seq(("low", 5L), ("lower", 2L), ("newest", 6L), ("widest", 3L))
      .toDF("word", "freq")
    val codec = new BpeCodec(Bpe.train(words, 10).toArray)
    val path = java.nio.file.Files.createTempDirectory("graft-bpe").toString + "/codec"
    Bpe.saveCodec(spark, codec, path)
    val loaded = Bpe.loadCodec(spark, path)
    assert(loaded.merges.toSeq == codec.merges.toSeq)
    assert(loaded.encodeWord("lowest").toSeq == codec.encodeWord("lowest").toSeq)
  }

  test("encoding round-trips: concatenated symbols rebuild the normalized text") {
    import spark.implicits._
    val words = Seq(("hello", 3L), ("world", 2L)).toDF("word", "freq")
    val codec = new BpeCodec(Bpe.train(words, 8).toArray)
    val rebuilt = codec.encodeText("Hello   hello WORLD")
      .mkString.replace(Bpe.EndOfWord, " ").trim
    assert(rebuilt == "hello hello world")
  }

  test("per-language fertility aggregate equals driver-side per-doc encode sums") {
    import spark.implicits._
    val docs = Seq(
      (1L, "en", "low lower low"), (2L, "en", "newest widest"),
      (3L, "de", "lowest newest newest"))
      .toDF("doc_id", "lang", "text")
    val wc = docs
      .select(explode(split(trim(lower(col("text"))), "\\s+")).as("word"))
      .groupBy("word").agg(count(lit(1)).as("freq"))
    val codec = new BpeCodec(Bpe.train(wc, 6).toArray)
    val enc = Bpe.encodeColumn(codec, col("text"))
    val got = docs.select(col("lang"),
        size(split(trim(lower(col("text"))), "\\s+")).cast("long").as("ws"),
        size(enc).cast("long").as("bpe"))
      .groupBy("lang")
      .agg(sum("ws").as("n_ws"), sum("bpe").as("n_bpe"))
      .collect().map(r => (r.getString(0),
        (r.getAs[Long]("n_ws"), r.getAs[Long]("n_bpe")))).toMap
    val expect = Seq((1L, "en", "low lower low"), (2L, "en", "newest widest"),
      (3L, "de", "lowest newest newest"))
      .groupBy(_._2)
      .map { case (lang, rows) =>
        val ws = rows.map(_._3.trim.toLowerCase.split("\\s+").length.toLong).sum
        val bpe = rows.map(r => codec.encodeText(r._3).length.toLong).sum
        (lang, (ws, bpe))
      }
    assert(got == expect, s"got=$got expect=$expect")
    // every word is at least one symbol: fertility ≥ 1 per language
    got.values.foreach { case (ws, bpe) => assert(bpe >= ws) }
  }
}
