package perfbench

import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Cumulative Spark counters, fed by a listener the benchmark registers
  * itself. A [[Tracer]] snapshots them at span boundaries; the
  * difference of two snapshots is the work done inside the span. */
final class Counters extends SparkListener with QueryExecutionListener {
  val jobs, stages, tasks, taskNs, gcNs, shuffleRead, shuffleWrite, spill,
      catalystNs = new AtomicLong
  val peakExecMem = new AtomicLong
  private val jobStartMs = mutable.Map[Int, Long]()
  private val jobWallsMs = mutable.ArrayBuffer[(Long, Long)]()

  // Job walls come from the events' own timestamps, not from when the
  // listener bus gets round to delivering them.
  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    jobs.incrementAndGet()
    jobStartMs(e.jobId) = e.time
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobStartMs.remove(e.jobId).foreach(t => jobWallsMs += ((t, e.time)))
  }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    stages.incrementAndGet(); ()
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    tasks.incrementAndGet()
    if (e.taskInfo != null) taskNs.addAndGet(e.taskInfo.duration * 1000000L)
    val m = e.taskMetrics
    if (m != null) {
      gcNs.addAndGet(m.jvmGCTime * 1000000L)
      shuffleRead.addAndGet(m.shuffleReadMetrics.totalBytesRead)
      shuffleWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      spill.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
      peakExecMem.accumulateAndGet(m.peakExecutionMemory, math.max)
    }
  }
  override def onSuccess(funcName: String, qe: QueryExecution,
      durationNs: Long): Unit = {
    val ph = qe.tracker.phases
    val ms = Seq("analysis", "optimization", "planning")
      .flatMap(ph.get).map(_.durationMs).sum
    catalystNs.addAndGet(ms * 1000000L); ()
  }
  override def onFailure(funcName: String, qe: QueryExecution,
      exception: Exception): Unit = ()

  /** Seconds of the epoch-ms window [fromMs, toMs] during which at
    * least one finished job was running. */
  def inJobS(fromMs: Long, toMs: Long): Double = synchronized {
    val clipped = jobWallsMs.map { case (a, b) => (math.max(a, fromMs), math.min(b, toMs)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var covered = 0L; var upTo = fromMs
    for ((a, b) <- clipped) {
      val s = math.max(a, upTo)
      if (b > s) { covered += b - s; upTo = b }
    }
    covered / 1e3
  }

  def snapshot(): Map[String, Double] = Map(
    "jobs" -> jobs.get.toDouble, "stages" -> stages.get.toDouble,
    "tasks" -> tasks.get.toDouble, "task_s" -> taskNs.get / 1e9,
    "gc_s" -> gcNs.get / 1e9,
    "catalyst_s" -> catalystNs.get / 1e9,
    "shuffle_read_bytes" -> shuffleRead.get.toDouble,
    "shuffle_write_bytes" -> shuffleWrite.get.toDouble,
    "spill_bytes" -> spill.get.toDouble)
}

/** One recorded span: a call into a layer. */
final case class Span(id: Int, parent: Int, op: Int, name: String,
    startNs: Long, endNs: Long, inJobS: Double, before: Map[String, Double],
    after: Map[String, Double]) {
  def durS: Double = (endNs - startNs) / 1e9
  def delta(k: String): Double = after(k) - before(k)
}

/** Span recorder. Disabled, `span` only runs its body, so untraced runs
  * pay nothing. Enabled, it registers the [[Counters]] listener and
  * keeps every span in memory until the run writes them out. */
final class Tracer(val enabled: Boolean) {
  val counters = new Counters
  val spans = mutable.ArrayBuffer[Span]()
  private var nextId = 0
  private val stack = mutable.Stack[Int]()
  var op = -1
  /** Whether spans are being recorded: during timed ops only. */
  var active = false

  def attach(spark: SparkSession): Unit = if (enabled) {
    spark.sparkContext.addSparkListener(counters)
    spark.listenerManager.register(counters)
  }

  def detach(spark: SparkSession): Unit = if (enabled) {
    spark.sparkContext.removeSparkListener(counters)
    spark.listenerManager.unregister(counters)
  }

  def span[A](spark: SparkSession, name: String)(body: => A): A =
    if (!active) body
    else {
      org.apache.spark.sql.BenchAccess.drain(spark.sparkContext)
      val id = nextId; nextId += 1
      val parent = stack.headOption.getOrElse(-1)
      val before = counters.snapshot()
      val t0 = System.nanoTime(); val t0Ms = System.currentTimeMillis()
      stack.push(id)
      try body
      finally {
        stack.pop()
        val t1 = System.nanoTime(); val t1Ms = System.currentTimeMillis()
        org.apache.spark.sql.BenchAccess.drain(spark.sparkContext)
        spans += Span(id, parent, op, name, t0, t1, counters.inJobS(t0Ms, t1Ms),
          before, counters.snapshot())
      }
    }

  /** Time covered by the direct children of `s`. */
  def childCover(s: Span): Double = {
    val kids = spans.filter(_.parent == s.id).sortBy(_.startNs)
    var covered = 0L; var upTo = s.startNs
    for (k <- kids) {
      val a = math.max(k.startNs, upTo); val b = math.min(k.endNs, s.endNs)
      if (b > a) { covered += b - a; upTo = b }
    }
    covered / 1e9
  }
}
