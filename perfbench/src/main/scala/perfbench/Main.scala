package perfbench

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** One workload: a closed loop of ops with one client. */
trait Workload {
  /** Per-session set-up: load the manifest, warm up. Runs again on
    * every fresh session, so it must be repeatable. */
  def setup(spark: SparkSession, tr: Tracer): Unit
  /** Whether op `i` has input left. */
  def hasOp(i: Int): Boolean = true
  /** The timed op. */
  def op(spark: SparkSession, i: Int, tr: Tracer): Unit
  /** Untimed per-layer probes, run after traced ops only. */
  def probe(spark: SparkSession, i: Int, tr: Tracer): Unit = ()
  /** Correctness checks, outside timing. Returns the failures found
    * here plus anything the Python side must check. */
  def check(spark: SparkSession): Map[String, Any]
  /** Per-layer metrics from the recorded spans. */
  def layers(tr: Tracer, ops: Seq[OpRecord]): Map[String, Double]
  /** Ops that failed during set-up, for the error rate. */
  def setupErrors: Seq[String] = Nil
  /** Workload-level numbers for the run summary. */
  def summary: Map[String, Any] = Map.empty
}

final case class OpRecord(i: Int, wallS: Double, ok: Boolean, error: String,
    leftoverCached: Int, leftoverRdds: Int, leftoverCkpt: Int)

/** Benchmark entry point. Usage:
  *   Main --workload W --seed N --seconds S --trace 0|1 --data DIR
  *        --out DIR --launch-ns EPOCH_NS --cores N
  * Writes `<out>/result.json`; `run.py` turns it into the metrics line. */
object Main {
  def session(cores: Int): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.autoBroadcastJoinThreshold", s"${64L * 1024 * 1024}")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    graft.Bench.quietKnownLogFloods()
    s
  }

  def epochNs: Long = {
    val i = java.time.Instant.now()
    i.getEpochSecond * 1000000000L + i.getNano
  }

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).map(p => p(0).stripPrefix("--") -> p(1)).toMap
    val launchNs = a("launch-ns").toLong
    val seconds = a("seconds").toDouble
    val cores = a("cores").toInt
    val data = a("data"); val out = a("out"); val seed = a("seed").toLong
    val tracer = new Tracer(a("trace") == "1")
    val wl: Workload = a("workload") match {
      case "metric-reads" => new MetricReads(data, out, seed)
      case "dedup-backfill" => new DedupBackfill(data)
      case "stream-admit" => new StreamAdmit(data, out)
      case w => sys.error(s"unknown workload $w")
    }

    // Set-up: from process launch to the first timed op. The warm-up's
    // leftover state is released too, so the first op starts as clean
    // as the rest.
    val spark = session(cores)
    wl.setup(spark, tracer)
    State.release(spark)
    val setupS = (epochNs - launchNs) / 1e9

    tracer.attach(spark)
    val ops = mutable.ArrayBuffer[OpRecord]()
    val deadline = System.nanoTime() + (seconds * 1e9).toLong
    var i = 0
    while (System.nanoTime() < deadline && wl.hasOp(i)) {
      tracer.active = tracer.enabled
      tracer.op = i
      val t0 = System.nanoTime()
      val err =
        try { tracer.span(spark, "op") { wl.op(spark, i, tracer) }; "" }
        catch { case e: Throwable =>
          e.printStackTrace()
          s"${e.getClass.getSimpleName}: ${e.getMessage}".take(300)
        }
      val wall = (System.nanoTime() - t0) / 1e9
      if (tracer.active && err.isEmpty) wl.probe(spark, i, tracer)
      tracer.active = false
      val (cached, rdds, ckpt) = State.leftovers(spark)
      State.release(spark)
      ops += OpRecord(i, wall, err.isEmpty, err, cached, rdds, ckpt)
      i += 1
    }
    tracer.detach(spark)

    val checks = wl.check(spark)
    val layers = if (tracer.enabled) wl.layers(tracer, ops.toSeq) ++
      Layers.spark(tracer, ops.toSeq, cores) else Map.empty[String, Double]
    val result = Map(
      "setup_s" -> setupS,
      "ops" -> ops.map(o => Map("i" -> o.i, "wall_s" -> o.wallS, "ok" -> o.ok,
        "error" -> o.error,
        "leftover_cached" -> o.leftoverCached,
        "leftover_persisted_rdds" -> o.leftoverRdds,
        "leftover_ckpt_dirs" -> o.leftoverCkpt)).toSeq,
      "peak_rss_mb" -> State.peakRssMb,
      "setup_errors" -> wl.setupErrors,
      "checks" -> checks,
      "summary" -> wl.summary,
      "layers" -> layers)
    Json.write(s"$out/result.json", result)
    if (tracer.enabled) Json.write(s"$out/trace.json", tracer.spans.map(s =>
      Map("id" -> s.id, "parent" -> s.parent, "op" -> s.op, "name" -> s.name,
        "start_ns" -> s.startNs, "end_ns" -> s.endNs,
        "self_s" -> (s.durS - tracer.childCover(s)),
        "counters" -> (s.after.map { case (k, v) => k -> (v - s.before(k)) } +
          ("in_job_s" -> s.inJobS)))
    ).toSeq)
    spark.stop()
  }
}

/** Intermediate state an op leaves behind, and its release. */
object State {
  def leftovers(spark: SparkSession): (Int, Int, Int) = {
    val cached = org.apache.spark.sql.BenchAccess.cachedEntries(spark)
    val rdds = spark.sparkContext.getPersistentRDDs.size
    val ckpt = spark.sparkContext.getCheckpointDir.map { d =>
      val p = new org.apache.hadoop.fs.Path(d)
      val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      if (fs.exists(p)) fs.listStatus(p).length else 0
    }.getOrElse(0)
    (cached, rdds, ckpt)
  }

  /** Release cached frames and persisted RDDs through Spark's public
    * API, so no op's time depends on what ran before it. */
  def release(spark: SparkSession): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
  }

  def peakRssMb: Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024).getOrElse(0.0)
    finally src.close()
  }
}

object Json {
  private val mapper = {
    val m = new com.fasterxml.jackson.databind.ObjectMapper()
    m.registerModule(com.fasterxml.jackson.module.scala.DefaultScalaModule)
    m
  }
  def write(path: String, v: Any): Unit =
    mapper.writeValue(new java.io.File(path), v)
}

/** Spark-level per-layer metrics, per traced op. */
object Layers {
  def mean(xs: Iterable[Double]): Double =
    if (xs.isEmpty) 0.0 else xs.sum / xs.size

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else {
      val s = xs.sorted; val n = s.length
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
    }

  def spark(tr: Tracer, ops: Seq[OpRecord], cores: Int): Map[String, Double] = {
    val opSpans = tr.spans.filter(_.name == "op")
    def per(k: String) = mean(opSpans.map(_.delta(k)))
    val construct = tr.spans.filter(_.name.endsWith(".construct"))
    val nOps = math.max(1, opSpans.size)
    Map(
      "spark.jobs" -> per("jobs"), "spark.stages" -> per("stages"),
      "spark.tasks" -> per("tasks"), "spark.catalyst_s" -> per("catalyst_s"),
      "spark.in_job_s" -> mean(opSpans.map(_.inJobS)),
      "spark.driver_gap_s" -> mean(opSpans.map(s => s.durS - s.inJobS)),
      "spark.task_s" -> per("task_s"),
      "spark.core_util" -> mean(opSpans.map(s => s.delta("task_s") / (s.durS * cores))),
      "spark.gc_s" -> per("gc_s"),
      "spark.shuffle_read_bytes" -> per("shuffle_read_bytes"),
      "spark.shuffle_write_bytes" -> per("shuffle_write_bytes"),
      "spark.spill_bytes" -> per("spill_bytes"),
      "spark.peak_exec_mem_bytes" -> tr.counters.peakExecMem.get.toDouble,
      "spark.construct_s" -> construct.map(_.durS).sum / nOps,
      "spark.construct_jobs" -> construct.map(_.delta("jobs")).sum / nOps,
      "spark.leftover_cached" -> mean(ops.map(_.leftoverCached.toDouble)),
      "spark.leftover_persisted_rdds" -> mean(ops.map(_.leftoverRdds.toDouble)),
      "spark.leftover_ckpt_dirs" -> mean(ops.map(_.leftoverCkpt.toDouble)),
      "trace.op_p50_s" -> median(ops.filter(_.ok).map(_.wallS)))
  }
}
