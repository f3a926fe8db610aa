package graft.llm

import org.apache.spark.sql.{Column, DataFrame, Dataset, GraftSqlBridge, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Byte-pair-encoding tokenization (Sennrich et al. 2016, "Neural
  * Machine Translation of Rare Words with Subword Units") — the
  * subword scheme GPT-2/RoBERTa-family tokenizers build on, and the
  * missing piece between the regex pre-tokenizer
  * ([[TextAnalysis.regexTokenCount]]) and real per-document token
  * budgeting in a training-data pipeline.
  *
  * Scale design, in two halves:
  *
  *  - '''Training''' touches the corpus exactly ONCE (the word-count
  *    aggregation — one shuffle, reduce side ∝ vocabulary). Every
  *    merge round after that runs over the vocabulary-sized word
  *    table, never the corpus: adjacent-pair counts are a vocab-sized
  *    explode→sum, and the argmax collects a single row. At 100 TB a
  *    web-scale vocab is ~10⁸ rows — executor-sized, three orders of
  *    magnitude under the corpus.
  *  - '''Encoding''' broadcasts the learned merge ranks and fuses
  *    greedy merge application into the scan via a native codegen
  *    expression ([[BpeEncode]]) — zero shuffle, no UDF serialization
  *    per row, per-partition word memoization (Zipf makes the hit
  *    rate extreme).
  */
object Bpe {

  val EndOfWord = "</w>"

  /** Corpus → (word, freq) table. The only corpus-wide pass. */
  def wordCounts(docs: DataFrame, textCol: String): DataFrame =
    docs.select(explode(TextAnalysis.tokens(col(textCol))).as("word"))
      .groupBy("word").agg(count(lit(1)).as("freq"))

  /** Learn `numMerges` merges from a (word, freq) table.
    *
    * Deterministic: the argmax tie-break is (count desc, pair asc), so
    * any cluster layout learns the identical vocabulary — asserted in
    * BpeSpec against a single-threaded reference implementation.
    *
    * Per-round lineage TRUNCATION (localCheckpoint, same rule as
    * Corpus.bigStarClusters): chaining `.map` rounds grows the logical
    * plan superlinearly and OOMs the driver after ~15 rounds long
    * before any data is large. Each round's symbol table is
    * vocab-sized, so the pinned blocks stay executor-resident even
    * over many rounds. */
  def train(words: DataFrame, numMerges: Int): Seq[(String, String)] = {
    val spark = words.sparkSession
    import spark.implicits._
    var ds: Dataset[(Seq[String], Long)] = words
      .select(col("word").cast("string"), col("freq").cast("long"))
      .as[(String, Long)]
      .map { case (w, f) => ((w.map(_.toString) :+ EndOfWord): Seq[String], f) }
      .localCheckpoint(true)
    val merges = scala.collection.mutable.ArrayBuffer.empty[(String, String)]
    var round = 0
    var exhausted = false
    while (round < numMerges && !exhausted) {
      val best = ds.flatMap { case (syms, f) =>
        if (syms.length < 2) Iterator.empty
        else syms.iterator.zip(syms.iterator.drop(1)).map { case (a, b) => (a, b, f) }
      }.toDF("a", "b", "f")
        .groupBy("a", "b").agg(sum("f").as("cnt"))
        .orderBy(desc("cnt"), asc("a"), asc("b"))
        .limit(1).collect()
      if (best.isEmpty) exhausted = true
      else {
        val (a, b) = (best(0).getString(0), best(0).getString(1))
        merges += ((a, b))
        ds = ds.map { case (syms, f) => (mergeOnce(syms, a, b), f) }
          .localCheckpoint(true)
        round += 1
      }
    }
    merges.toSeq
  }

  /** One greedy left-to-right pass replacing adjacent (a, b) with ab —
    * the update rule both training and encoding share. */
  private[llm] def mergeOnce(syms: Seq[String], a: String, b: String): Seq[String] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[String]
    var i = 0
    while (i < syms.length) {
      if (i + 1 < syms.length && syms(i) == a && syms(i + 1) == b) {
        out += (a + b); i += 2
      } else { out += syms(i); i += 1 }
    }
    out.toSeq
  }

  /** Train end-to-end from a document table. */
  def trainOnCorpus(docs: DataFrame, textCol: String, numMerges: Int): BpeCodec =
    new BpeCodec(train(wordCounts(docs, textCol), numMerges).toArray)

  /** Persist a trained codec as a rank-ordered parquet merge table —
    * the build-once/encode-many pattern (same as the persisted IVF
    * index): train on one corpus snapshot, load in every downstream
    * tokenization job. */
  def saveCodec(spark: SparkSession, codec: BpeCodec, path: String): Unit = {
    import spark.implicits._
    codec.merges.zipWithIndex
      .map { case ((a, b), r) => (r, a, b) }.toSeq
      .toDF("rank", "a", "b")
      .coalesce(1).write.mode("overwrite").parquet(path)
  }

  def loadCodec(spark: SparkSession, path: String): BpeCodec =
    new BpeCodec(spark.read.parquet(path)
      .orderBy("rank").collect()
      .map(r => (r.getAs[String]("a"), r.getAs[String]("b"))))

  /** `bpe_encode(text)` column: array of subword tokens. The codec
    * travels inside the expression, so two codecs in one session (e.g.
    * a corpus-trained and a fixed one) never swap under each other. */
  def encodeColumn(codec: BpeCodec, c: Column): Column =
    GraftSqlBridge.column(c)(exprs => BpeEncode(exprs.head, codec))
}

/** Learned merge table + greedy encoder. Broadcast to executors by
  * reference inside the codegen'd [[BpeEncode]]; the word-level memo
  * cache is per-JVM and bounded. */
final class BpeCodec(val merges: Array[(String, String)]) extends Serializable {

  /** rank of each merge pair, keyed "a b" (tokens are whitespace-split,
    * so a space cannot occur inside a symbol). */
  @transient private lazy val ranks: java.util.HashMap[String, Integer] = {
    val m = new java.util.HashMap[String, Integer](merges.length * 2)
    var i = 0
    while (i < merges.length) {
      m.putIfAbsent(merges(i)._1 + " " + merges(i)._2, Integer.valueOf(i))
      i += 1
    }
    m
  }

  @transient private lazy val cache =
    new java.util.concurrent.ConcurrentHashMap[String, Array[String]]()
  private val CacheMax = 1 << 20

  /** Greedy BPE: repeatedly merge the lowest-rank adjacent pair until
    * none of the remaining pairs has a learned rank. */
  def encodeWord(word: String): Array[String] = {
    val hit = cache.get(word)
    if (hit != null) return hit
    var syms: Seq[String] = word.map(_.toString) :+ Bpe.EndOfWord
    var done = false
    while (!done && syms.length >= 2) {
      var bestRank = Int.MaxValue
      var bestA: String = null
      var bestB: String = null
      var i = 0
      while (i + 1 < syms.length) {
        val r = ranks.get(syms(i) + " " + syms(i + 1))
        if (r != null && r.intValue() < bestRank) {
          bestRank = r.intValue(); bestA = syms(i); bestB = syms(i + 1)
        }
        i += 1
      }
      if (bestA == null) done = true
      else syms = Bpe.mergeOnce(syms, bestA, bestB)
    }
    val out = syms.toArray
    if (cache.size < CacheMax) cache.put(word, out)
    out
  }

  /** Whitespace tokens (same normalization as [[TextAnalysis.tokens]]:
    * trim, lowercase, split on runs of whitespace) → subword stream. */
  def encodeText(text: String): Array[String] =
    text.trim.toLowerCase.split("\\s+").flatMap(encodeWord)
}

/** Static entry point for generated code. */
object BpeCodecHelper {
  def encode(codec: BpeCodec, s: UTF8String): ArrayData =
    new GenericArrayData(
      codec.encodeText(s.toString).map(t => UTF8String.fromString(t): Any))
}

/** Native codegen'd `bpe_encode(text)` → array<string>. The codec is
  * attached as a codegen reference object, so whole-stage codegen
  * keeps the scan→project span fused (same pattern as
  * [[graft.functions.MinHashSig]]). */
case class BpeEncode(child: Expression, codec: BpeCodec)
  extends UnaryExpression {
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "bpe_encode"

  override def nullSafeEval(v: Any): Any =
    BpeCodecHelper.encode(codec, v.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("bpeCodec", codec, classOf[BpeCodec].getName)
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.llm.BpeCodecHelper.encode($ref, $c);")
  }

  override protected def withNewChildInternal(newChild: Expression): BpeEncode =
    copy(child = newChild)
}
