package perfbench

import java.nio.file.{Files, Path, Paths, StandardCopyOption}

import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.api.GraftClient
import graft.catalog.MetricQueryRequest
import graft.llm.Dedup
import graft.planner.MetricState
import graft.streaming.StreamingPipeline

/** `stream-admit`: each op lands one document delta and one event
  * delta, drains both ingest streams with AvailableNow, compacts the
  * blocked stores, then reads. Set-up lands the first [[WarmSteps]]
  * steps, so every timed step finds one committed epoch, brings it to
  * [[CompactEpochs]] and compacts: every op has the same shape. */
final class StreamAdmit(data: String, out: String) extends Workload {
  /** Committed epochs that trigger compaction. */
  val CompactEpochs = 2
  /** Steps landed by set-up: the first admits, the second compacts. */
  val WarmSteps = 2
  val Dims = Seq("event_type", "day")
  val Measures = Seq(MetricState.Measure("value", "value"))
  val Read = MetricQueryRequest(Seq("event_value"), Seq("event_type"))
  val Weights = Map("web" -> 1.0)

  private val steps = new java.io.File(s"$data/stream/docs").list().sorted.toIndexedSeq
  private var client: GraftClient = _
  private var gen = 0
  val writeS, readS, compactS = mutable.ArrayBuffer[Double]()
  var compactions = 0
  var compactBytes = 0L
  private val setupErrs = mutable.ArrayBuffer[String]()

  private val root = s"$out/stream"
  private def store(g: Int): Seq[String] =
    Seq("corpus", "sig", "sk", "fp", "pairs").map(s => s"$root/gen$g/$s")
  private val landDocs = s"$root/landing/docs"
  private val tables = s"$root/landing/tables"
  private val landEvents = s"$tables/events.parquet"
  private val state = s"$root/state"

  private def rmrf(p: String): Unit = {
    val path = Paths.get(p)
    if (Files.exists(path))
      Files.walk(path).sorted(java.util.Comparator.reverseOrder[Path]())
        .forEach(f => Files.delete(f))
  }

  private def copy(src: String, dstDir: String): Unit = {
    Files.createDirectories(Paths.get(dstDir))
    val s = Paths.get(src)
    Files.copy(s, Paths.get(dstDir).resolve(s.getFileName),
      StandardCopyOption.REPLACE_EXISTING)
  }

  def dirBytes(p: String): (Long, Long) = {
    val path = Paths.get(p)
    if (!Files.exists(path)) (0L, 0L)
    else {
      val fs = Files.walk(path).filter(Files.isRegularFile(_)).toArray
        .map(_.asInstanceOf[Path])
      val data = fs.filter(f => f.getFileName.toString.endsWith(".parquet"))
      (fs.map(Files.size).sum, data.length.toLong)
    }
  }

  /** Lands step `i`, drains both streams and compacts when due. The
    * compactions of timed steps are recorded. */
  private def write(spark: SparkSession, i: Int, timed: Boolean, tr: Tracer): Unit = {
    val s = steps(i)
    copy(s"$data/stream/docs/$s", landDocs)
    copy(s"$data/stream/events/$s", landEvents)
    val Seq(corpus, sig, sk, fp, pairs) = store(gen)
    tr.span(spark, "streaming.admit") {
      StreamingPipeline.startBlockedCorpusIngest(spark, landDocs, corpus, sig,
        sk, fp, pairs, s"$root/cp/docs", Weights).awaitTermination()
    }
    tr.span(spark, "streaming.state_fold") {
      StreamingPipeline.startMetricStateIngest(spark, landEvents, state,
        s"$root/cp/events", Dims, Measures).awaitTermination()
    }
    val pressure = StreamingPipeline.blockedStorePressure(spark, sig, store(gen))
    if (StreamingPipeline.shouldCompact(pressure, maxEpochs = CompactEpochs)) {
      val t0 = System.nanoTime()
      tr.span(spark, "streaming.compact") {
        val Seq(dc, ds, dk, df, dp) = store(gen + 1)
        StreamingPipeline.compactBlockedStores(spark, corpus, sig, sk, fp, pairs,
          dc, ds, dk, df, dp)
      }
      // cut-over done: the old generation is no longer read
      rmrf(s"$root/gen$gen")
      gen += 1
      if (timed) {
        compactS += (System.nanoTime() - t0) / 1e9
        compactions += 1
        compactBytes += pressure.bytes
      }
    }
  }

  private def read(spark: SparkSession, tr: Tracer): Unit =
    tr.span(spark, "streaming.read") {
      StreamingPipeline.currentMetrics(spark, state).collect()
      tr.span(spark, "api.query")(client.query(spark, tables, Read))
    }

  def setup(spark: SparkSession, tr: Tracer): Unit = {
    client = GraftClient.fromManifest("manifests/semantic_manifest.yml")
    rmrf(root)
    // Known engine defect: on a fresh session the first drain of the
    // blocked ingest onto a non-empty store (the second step) fails with
    // UNRESOLVED_ROUTINE intersect_count_long, because the stream's
    // session does not see native kernels that no batch call has
    // registered yet. The failure is recorded as a failed op; one batch
    // dedup call then registers the kernels (and warms the paths the
    // ingest shares with it), and the step is landed again: the
    // restarted stream replays the failed batch from its checkpoint.
    for (i <- 0 until WarmSteps)
      try write(spark, i, timed = false, tr)
      catch { case NonFatal(e) =>
        setupErrs += s"${e.getClass.getSimpleName}: ${e.getMessage}".take(300)
        Dedup.blockedDedupPairs(
          spark.read.parquet(s"$data/stream/docs/${steps.head}"), "doc_id", "text").count()
        write(spark, i, timed = false, tr)
      }
    read(spark, tr)
  }

  override def setupErrors: Seq[String] = setupErrs.toSeq

  override def hasOp(i: Int): Boolean = i + WarmSteps < steps.size

  override def probe(spark: SparkSession, i: Int, tr: Tracer): Unit =
    tr.span(spark, "planner.compile") {
      new graft.planner.MetricPlanner(client.registry).compile(spark, tables, Read)
    }

  def op(spark: SparkSession, i: Int, tr: Tracer): Unit = {
    val t0 = System.nanoTime()
    write(spark, i + WarmSteps, timed = true, tr)
    val t1 = System.nanoTime()
    read(spark, tr)
    writeS += (t1 - t0) / 1e9
    readS += (System.nanoTime() - t1) / 1e9
  }

  private var admitted = 0L
  private var rejected = 0L
  private var storeBytes = 0L
  private var storeFiles = 0L
  private var landedBytes = 0L

  def check(spark: SparkSession): Map[String, Any] = {
    val n = writeS.size
    if (n == 0) return Map("failures" -> Seq("no step completed"))
    val Seq(corpus, sig, _, _, _) = store(gen)
    val got = StreamingPipeline.readBlockedCorpus(spark, corpus, sig)
      .select(col("doc_id")).collect().map(_.getLong(0)).toSet
    val landed = spark.read.parquet(landDocs).select("doc_id")
      .collect().map(_.getLong(0)).toSet
    val truth = spark.read.parquet(s"$data/stream_truth.parquet")
      .filter(col("admit")).select("doc_id").collect().map(_.getLong(0))
      .toSet.intersect(landed)
    admitted = got.size; rejected = landed.size - got.size
    def ordered(df: DataFrame) = df.orderBy(df.columns.map(col).toSeq: _*).collect().toSeq
    val folded = ordered(StreamingPipeline.currentMetrics(spark, state))
    val events = spark.read.parquet(landEvents).withColumn("day", to_date(col("ts")))
    val recomputed = ordered(MetricState.render(MetricState.buildState(events, Dims, Measures)))
    val (sb, sf) = Seq(s"$root/gen$gen", state).map(dirBytes)
      .reduce((a, b) => (a._1 + b._1, a._2 + b._2))
    storeBytes = sb; storeFiles = sf
    landedBytes = dirBytes(s"$root/landing")._1
    val failures = Seq(
      if (got == truth) None else Some(
        s"admitted set differs: ${(got -- truth).size} extra, ${(truth -- got).size} missing"),
      if (folded == recomputed) None else Some(
        s"folded metric state differs from a full recompute (${folded.size} vs ${recomputed.size} rows)")
    ).flatten
    Map("failures" -> failures, "failed_ops" -> (if (failures.isEmpty) 0 else n))
  }

  def layers(tr: Tracer, ops: Seq[OpRecord]): Map[String, Double] = {
    def dur(n: String) = Layers.mean(tr.spans.filter(_.name == n).map(_.durS))
    val compile = tr.spans.filter(_.name == "planner.compile")
    Map("planner.compile_s" -> dur("planner.compile"),
      "planner.compile_jobs" -> Layers.mean(compile.map(_.delta("jobs"))),
      "api.present_s" -> math.max(0.0, dur("api.query") - dur("planner.compile")),
      "streaming.admit_s" -> dur("streaming.admit"),
      "streaming.state_fold_s" -> dur("streaming.state_fold"),
      "streaming.read_s" -> dur("streaming.read"),
      "streaming.compact_s" -> Layers.mean(compactS),
      "streaming.compactions" -> compactions.toDouble,
      "streaming.compact_bytes_rewritten" -> compactBytes.toDouble,
      "streaming.store_bytes" -> storeBytes.toDouble,
      "streaming.store_files" -> storeFiles.toDouble,
      "streaming.admitted_docs" -> admitted.toDouble,
      "streaming.rejected_dups" -> rejected.toDouble)
  }

  override def summary: Map[String, Any] = Map(
    "write_s" -> writeS.toSeq, "read_s" -> readS.toSeq,
    "admitted_docs" -> admitted, "rejected_dups" -> rejected,
    "compactions" -> compactions,
    "space_amp" -> (if (landedBytes == 0) 0.0 else storeBytes.toDouble / landedBytes))
}
