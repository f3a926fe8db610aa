package perfbench

import scala.collection.mutable
import scala.util.Random

import org.apache.spark.sql.SparkSession

import graft.api.GraftClient
import graft.catalog.MetricQueryRequest
import graft.planner.MetricPlanner

/** `metric-reads`: a seeded stream of metric requests served by
  * `GraftClient.query` over the generated TPC-H-shaped tables. */
final class MetricReads(data: String, out: String, seed: Long) extends Workload {
  val Manifest = "manifests/semantic_manifest.yml"
  private var client: GraftClient = _
  private var planner: MetricPlanner = _
  val pool: IndexedSeq[MetricQueryRequest] = Requests.pool(new Random(seed))
  private val warm = Requests.pool(new Random(~seed)).take(Requests.Families)
  /** Each cycle of the stream is a fresh seeded permutation of the
    * pool, so every request runs equally often. */
  private val order: Iterator[Int] = {
    val rnd = new Random(seed * 31 + 7)
    Iterator.continually(rnd.shuffle(pool.indices.toList)).flatten
  }
  private val current = mutable.Map[Int, Int]()
  private val used = mutable.SortedSet[Int]()

  def setup(spark: SparkSession, tr: Tracer): Unit = {
    client = GraftClient.fromManifest(Manifest)
    planner = new MetricPlanner(client.registry)
    warm.foreach(r => client.query(spark, data, r))
  }

  def op(spark: SparkSession, i: Int, tr: Tracer): Unit = {
    val k = order.next()
    current(i) = k
    used += k
    tr.span(spark, "api.query") { client.query(spark, data, pool(k)) }
  }

  override def probe(spark: SparkSession, i: Int, tr: Tracer): Unit =
    tr.span(spark, "planner.compile") { planner.compile(spark, data, pool(current(i))) }

  /** Writes each distinct request's result and the planner's rendered
    * SQL; `check.py` runs that SQL in DuckDB and compares hashes. */
  def check(spark: SparkSession): Map[String, Any] = {
    val reqs = used.toSeq.map { k =>
      val r = pool(k)
      planner.compile(spark, data, r).df.coalesce(1).write
        .mode("overwrite").parquet(s"$out/results/r$k")
      Map("id" -> s"r$k", "request" -> r.toString,
        "sql" -> planner.renderSql(r, withDescriptions = false))
    }
    Map("metric_requests" -> reqs, "failures" -> Seq.empty[String])
  }

  def layers(tr: Tracer, ops: Seq[OpRecord]): Map[String, Double] = {
    val q = tr.spans.filter(_.name == "api.query")
    val c = tr.spans.filter(_.name == "planner.compile")
    val compile = Layers.mean(c.map(_.durS))
    Map("planner.compile_s" -> compile,
      "planner.compile_jobs" -> Layers.mean(c.map(_.delta("jobs"))),
      "api.present_s" -> math.max(0.0, Layers.mean(q.map(_.durS)) - compile))
  }

  override def summary: Map[String, Any] =
    Map("distinct_requests" -> used.size, "pool" -> pool.size,
      "op_requests" -> current.map { case (i, k) => i.toString -> s"r$k" }.toMap)
}

/** Seeded metric requests over `manifests/semantic_manifest.yml`. The
  * pool holds the same number of requests from each family, so its
  * cost mix does not depend on the seed; the seed picks metrics,
  * group-bys, windows, filters, order and limit within a family. */
object Requests {
  val PerFamily = 3
  val Families = 7

  def pool(rnd: Random): IndexedSeq[MetricQueryRequest] =
    (0 until PerFamily).flatMap(_ => (0 until Families).map(f => family(rnd, f)))

  private def pick[A](rnd: Random, xs: Seq[A], lo: Int, hi: Int): Seq[A] =
    rnd.shuffle(xs).take(lo + rnd.nextInt(hi - lo + 1))

  private def window(rnd: Random, years: Seq[Int]): (Option[String], Option[String]) = {
    val y = years(rnd.nextInt(years.length))
    val m = 1 + rnd.nextInt(12)
    (Some(f"$y-$m%02d-01"), Some(f"${y + 1 + rnd.nextInt(2)}-$m%02d-01"))
  }

  private def ordered(rnd: Random, gb: Seq[String], r: MetricQueryRequest): MetricQueryRequest =
    if (gb.isEmpty || rnd.nextInt(2) == 0) r
    else {
      val ob = rnd.shuffle(gb).map(g => if (rnd.nextBoolean()) s"-$g" else g)
      val lim = if (rnd.nextInt(3) == 0) Some(5 + rnd.nextInt(40)) else None
      r.copy(orderBy = ob, limit = lim)
    }

  def family(rnd: Random, f: Int): MetricQueryRequest = {
    val liYears = 1995 to 2000
    f match {
      case 0 => // lineitem base metrics on fact dims and ship-date grains
        val gb = pick(rnd, Seq("l_returnflag", "l_linestatus",
          Seq("l_shipdate__month", "l_shipdate__quarter", "l_shipdate__year")(rnd.nextInt(3))), 0, 2)
        val (s, e) = if (rnd.nextBoolean()) window(rnd, liYears) else (None, None)
        ordered(rnd, gb, MetricQueryRequest(
          pick(rnd, Seq("revenue", "total_qty", "order_count"), 1, 3), gb,
          startTime = s, endTime = e))
      case 1 => // joined dimensions, ratio metric
        val gb = pick(rnd, Seq("o_orderpriority", "o_orderstatus", "c_mktsegment",
          "n_name", "r_name", "p_brand", "p_type"), 1, 2)
        val w = if (rnd.nextInt(3) == 0) Some("l_returnflag = 'R'") else None
        ordered(rnd, gb, MetricQueryRequest(
          pick(rnd, Seq("revenue", "total_qty", "order_count", "avg_order_value"), 1, 3),
          gb, where = w))
      case 2 => // offset metric on the metric_time axis
        val (s, e) = window(rnd, liYears)
        val ms = Seq("revenue_mom_growth") ++ (if (rnd.nextBoolean()) Seq("revenue") else Nil)
        ordered(rnd, Seq("metric_time__month"), MetricQueryRequest(ms,
          Seq("metric_time__month"), startTime = s, endTime = e))
      case 3 => // metric-level filters, one aggregate per filter group
        val gb = pick(rnd, Seq("c_mktsegment", "l_linestatus", "o_orderstatus"), 0, 2)
        ordered(rnd, gb, MetricQueryRequest(
          pick(rnd, Seq("revenue", "returned_revenue", "urgent_revenue"), 1, 3), gb))
      case 4 => // events: sums and percentile measures
        val gb = pick(rnd, Seq("event_type",
          Seq("ts__day", "ts__hour", "ts__week")(rnd.nextInt(3))), 0, 2)
        val w = if (rnd.nextInt(3) == 0) Some("event_type <> 'error'") else None
        ordered(rnd, gb, MetricQueryRequest(
          pick(rnd, Seq("event_value", "median_event_value", "p90_event_value"), 1, 3),
          gb, where = w))
      case 5 => // conversion metrics
        val gb = if (rnd.nextBoolean()) Seq("metric_time__day") else Nil
        ordered(rnd, gb, MetricQueryRequest(
          pick(rnd, Seq("view_to_purchase_count", "view_to_purchase_rate"), 1, 2), gb))
      case _ => // cross-model: lineitem and events on the shared time axis
        val g = Seq("metric_time__week", "metric_time__month")(rnd.nextInt(2))
        val (s, e) = window(rnd, liYears)
        ordered(rnd, Seq(g), MetricQueryRequest(Seq("revenue", "event_value"),
          Seq(g), startTime = s, endTime = e))
    }
  }
}
