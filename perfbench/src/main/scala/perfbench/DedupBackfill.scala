package perfbench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.{HashedShingles, IntersectCountLong, MinHashShingles, SimHash1660}
import graft.llm.{Corpus, Dedup, TextAnalysis}

/** `dedup-backfill`: each op is one pass of the near-duplicate family
  * over a copy of the corpus that the previous passes did not read. */
final class DedupBackfill(data: String) extends Workload {
  private val copies =
    new java.io.File(s"$data/corpus").listFiles().map(_.getName)
      .filter(_.startsWith("copy")).sorted.toIndexedSeq

  type Pairs = Set[(Long, Long)]
  final case class Pass(lsh: Pairs, blocked: Pairs, setSim: Pairs,
      clusters: Set[Set[Long]], bigStar: Set[Set[Long]])
  private val passes = mutable.ArrayBuffer[Pass]()
  private var docsPerPass = 0L
  private var lastSetSim: DataFrame = _

  private def read(spark: SparkSession, dir: String): DataFrame =
    spark.read.parquet(s"$data/corpus/$dir")

  private def pairs(df: DataFrame): Pairs =
    df.select(col("id_a").cast("long"), col("id_b").cast("long")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet

  private def partition(df: DataFrame): Set[Set[Long]] =
    df.collect().groupBy(_.get(1)).values
      .map(_.map(r => r.getAs[Number](0).longValue).toSet).toSet

  private def runPass(spark: SparkSession, docs: DataFrame, tr: Tracer): Pass = {
    // Each call: construction (the layer function returning its frame,
    // including any jobs it runs eagerly), then the action reading it.
    def call[A](name: String)(build: => DataFrame)(read: DataFrame => A): A =
      tr.span(spark, name) {
        val df = tr.span(spark, s"$name.construct")(build)
        tr.span(spark, s"$name.execute")(read(df))
      }
    val lsh = call("dedup.lsh_pairs")(Dedup.lshPairs(docs, "doc_id", "text"))(pairs)
    val blocked = call("dedup.blocked_pairs")(
      Dedup.blockedDedupPairs(docs, "doc_id", "text"))(pairs)
    // materialized by the call, so the cluster steps reuse it
    val setSimDf = call("dedup.set_sim_join")(
      Dedup.setSimJoinPairs(docs, "doc_id", "text"))(identity)
    lastSetSim = setSimDf
    val setSim = pairs(setSimDf)
    val (clusters, bigStar) = tr.span(spark, "corpus.clusters") {
      (call("corpus.dup_clusters")(Corpus.dupClusters(setSimDf))(partition),
       call("corpus.big_star")(Corpus.bigStarClusters(setSimDf)._1)(partition))
    }
    Pass(lsh, blocked, setSim, clusters, bigStar)
  }

  def setup(spark: SparkSession, tr: Tracer): Unit = {
    docsPerPass = read(spark, copies.head).count()
    // A full-size pass over a copy no timed pass reads, so the first
    // timed pass is as warm as the rest.
    runPass(spark, read(spark, "warmup"), tr)
  }

  def op(spark: SparkSession, i: Int, tr: Tracer): Unit = {
    passes += runPass(spark, read(spark, copies(i % copies.size)), tr)
  }

  override def probe(spark: SparkSession, i: Int, tr: Tracer): Unit = {
    val sp = spark
    val docs = read(spark, copies(i % copies.size)).localCheckpoint(eager = true)
    val n = docs.count().toDouble
    def perRow(name: String, rows: Double)(df: => DataFrame): Unit = {
      val t0 = System.nanoTime()
      tr.span(spark, name)(df.queryExecution.toRdd.count())
      perItem(name) = perItem.getOrElse(name, Nil) :+ (System.nanoTime() - t0) / rows
    }
    perRow("functions.minhash_shingles_ns_per_doc", n)(
      docs.select(MinHashShingles.column(sp, col("text"), 12)))
    perRow("functions.hashed_shingles_ns_per_doc", n)(
      docs.select(HashedShingles.column(sp, col("text"))))
    perRow("functions.simhash1660_ns_per_doc", n)(
      docs.select(SimHash1660.column(sp, TextAnalysis.tokens(col("text")))))
    val sets = docs.select(col("doc_id"),
      array_sort(HashedShingles.column(sp, col("text"))).as("sh"))
    val pairSets = lastSetSim.select("id_a", "id_b")
      .join(sets.select(col("doc_id").as("id_a"), col("sh").as("sa")), "id_a")
      .join(sets.select(col("doc_id").as("id_b"), col("sh").as("sb")), "id_b")
      .localCheckpoint(eager = true)
    perRow("functions.intersect_count_ns_per_pair", math.max(1, pairSets.count()))(
      pairSets.select(IntersectCountLong.column(sp, col("sa"), col("sb"))))
  }
  private val perItem = mutable.Map[String, Seq[Double]]()

  def check(spark: SparkSession): Map[String, Any] = {
    val truth = spark.read.parquet(s"$data/corpus_truth.parquet")
      .filter(col("cluster") >= 0).collect()
      .groupBy(_.getLong(1)).values.map(_.map(_.getLong(0)).toSet).toSet
    val planted: Pairs = truth.flatMap { c =>
      val s = c.toSeq.sorted
      for (i <- s.indices; j <- i + 1 until s.size) yield (s(i), s(j))
    }
    val failures = passes.zipWithIndex.flatMap { case (p, k) =>
      def chk(ok: Boolean, what: String) = if (ok) None else Some(s"pass $k: $what")
      Seq(
        chk(p.setSim == planted,
          s"setSimJoinPairs returned ${p.setSim.size} pairs, " +
            s"${(p.setSim & planted).size} of ${planted.size} planted"),
        chk(p.lsh.subsetOf(planted), s"lshPairs returned ${(p.lsh -- planted).size} unplanted pairs"),
        chk(p.blocked.subsetOf(planted),
          s"blockedDedupPairs returned ${(p.blocked -- planted).size} unplanted pairs"),
        chk(p.clusters == truth, "dupClusters differ from the planted clusters"),
        chk(p.bigStar == truth, "bigStarClusters differ from the planted clusters")
      ).flatten
    }
    recall = passes.map(p => (p.lsh & planted).size.toDouble / math.max(1, planted.size)).toSeq
    pairsOut = passes.map(_.setSim.size.toDouble).toSeq
    Map("failures" -> failures.toSeq, "failed_ops" -> failures.map(_.takeWhile(_ != ':')).distinct.size)
  }
  private var recall = Seq.empty[Double]
  private var pairsOut = Seq.empty[Double]

  def layers(tr: Tracer, ops: Seq[OpRecord]): Map[String, Double] = {
    def dur(n: String) = Layers.mean(tr.spans.filter(_.name == n).map(_.durS))
    Map("dedup.lsh_pairs_s" -> dur("dedup.lsh_pairs"),
      "dedup.blocked_pairs_s" -> dur("dedup.blocked_pairs"),
      "dedup.set_sim_join_s" -> dur("dedup.set_sim_join"),
      "corpus.clusters_s" -> dur("corpus.clusters"),
      "dedup.pairs_out" -> Layers.mean(pairsOut),
      "dedup.planted_recall" -> Layers.mean(recall)) ++
      perItem.map { case (k, v) => k -> Layers.median(v) }
  }

  override def summary: Map[String, Any] =
    Map("docs_per_pass" -> docsPerPass, "lsh_planted_recall" -> Layers.mean(recall))
}
