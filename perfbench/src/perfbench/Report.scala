package perfbench

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** One reported number. `samples` is how many measurements it
  * summarizes. */
final case class Metric(name: String, value: Double, unit: String, samples: Int)

/** What a workload run hands back to [[Main]]. `layers` are reported by
  * the traced run; `notes` are per-layer figures that go to the summary
  * file only (layers idle in some workload, which would read 0 there). */
final case class Outcome(attempted: Long, failed: Long, failedChecks: Seq[String],
                         e2e: Seq[Metric], layers: Seq[Metric], notes: Seq[Metric])

final case class Ctx(spark: SparkSession, seconds: Int,
                     tracer: Tracer, work: String)

object Stats {
  /** Linear-interpolated quantile (numpy's default); NaN when empty. */
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted.toIndexedSeq
      val pos = q * (s.size - 1)
      val lo = pos.floor.toInt
      val hi = pos.ceil.toInt
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  def timed[T](body: => T): (Double, T) = {
    val t0 = System.nanoTime()
    val r = body
    ((System.nanoTime() - t0) / 1e9, r)
  }
}

/** Per-layer metrics from the spans of a traced run and the storage the
  * pipelines wrote. Spans and writes that start before `fromNs` (set-up
  * and warm-up) are left out, except the set-up's own spans. */
object Layers {
  import Stats._

  def report(tracer: Tracer, fromNs: Long, pipes: Seq[Pipeline], changeRows: Long,
             star: graft.cdc.StarReplication,
             stateDir: String): (Seq[Metric], Seq[Metric]) = {
    tracer.drain()
    val all = tracer.spans
    val spans = all.filter(_.startNs >= fromNs)
    val self = tracer.selfSeconds
    def named(n: String) = spans.filter(_.name == n)
    def walls(n: String) = named(n).map(_.seconds)
    def setupWalls(n: String) =
      all.filter(s => s.name == n && s.request.startsWith("setup-")).map(_.seconds)
    def work(n: String, f: Work => java.util.concurrent.atomic.LongAdder): Long =
      named(n).flatMap(tracer.workFor).map(f(_).sum()).sum
    def perBatch(n: String, f: Work => java.util.concurrent.atomic.LongAdder): Double =
      work(n, f).toDouble / math.max(1, named(n).size)
    def m(name: String, v: Double, unit: String, samples: Int) = Metric(name, v, unit, samples)

    val applies = named("cdc.apply").size
    val refreshes = named("streaming.incremental_refresh").size
    def writes(kind: String) = pipes.flatMap(_.writes.asScala)
      .collect { case (k, t, s) if k == kind && t >= fromNs => s }
      .foldLeft(Storage.Zero)(_ + _)
    val factW = writes("fact")
    val viewW = writes("view")
    val state = Storage.of(stateDir)
    // bytes the current fact and view resolve to, against all bytes kept
    val liveBytes = (star.transactions.current().inputFiles ++ star.view.current().inputFiles)
      .map(f => new java.io.File(new java.net.URI(f)).length).sum

    val core = Seq(
      m("cdc.snapshot.wall_s", median(setupWalls("cdc.snapshot")), "s",
        setupWalls("cdc.snapshot").size),
      m("streaming.full_refresh.wall_s", median(setupWalls("streaming.full_refresh")), "s",
        setupWalls("streaming.full_refresh").size),
      m("cdc.apply.wall_p50_s", median(walls("cdc.apply")), "s", applies),
      m("cdc.apply.wall_total_s", walls("cdc.apply").sum, "s", applies),
      m("cdc.apply.cpu_s", work("cdc.apply", _.cpuNs) / 1e9, "s", applies),
      m("cdc.apply.jobs_per_batch", perBatch("cdc.apply", _.jobs), "count", applies),
      m("cdc.apply.tasks_per_batch", perBatch("cdc.apply", _.tasks), "count", applies),
      m("cdc.apply.partitions_rewritten_per_batch",
        factW.versions.toDouble / math.max(1, applies), "count", applies),
      m("cdc.apply.files_written_per_batch",
        factW.files.toDouble / math.max(1, applies), "count", applies),
      m("cdc.apply.bytes_written_per_change_row",
        factW.bytes.toDouble / math.max(1L, changeRows), "B", applies),
      m("cdc.apply.shuffle_bytes_per_batch", perBatch("cdc.apply", _.shuffleWrite), "B", applies),
      m("streaming.incremental_refresh.wall_p50_s",
        median(walls("streaming.incremental_refresh")), "s", refreshes),
      m("streaming.incremental_refresh.wall_total_s",
        walls("streaming.incremental_refresh").sum, "s", refreshes),
      m("streaming.incremental_refresh.cpu_s",
        work("streaming.incremental_refresh", _.cpuNs) / 1e9, "s", refreshes),
      m("streaming.incremental_refresh.jobs_per_batch",
        perBatch("streaming.incremental_refresh", _.jobs), "count", refreshes),
      m("streaming.view_partitions_rewritten_per_batch",
        viewW.versions.toDouble / math.max(1, applies + named("streaming.dimension_refresh").size),
        "count", refreshes),
      m("streaming.dimension_refresh.fact_rows_read",
        work("streaming.dimension_refresh", _.inRecords).toDouble, "count",
        named("streaming.dimension_refresh").size),
      m("streaming.dimension_refresh.view_rows_rewritten",
        work("streaming.dimension_refresh", _.outRecords).toDouble, "count",
        named("streaming.dimension_refresh").size),
      m("cdc.state.files", state.files.toDouble, "count", 1),
      m("cdc.state.bytes_per_live_byte", state.bytes.toDouble / math.max(1L, liveBytes), "ratio", 1),
      m("view.resolve_p50_s", median(walls("view.resolve")), "s", named("view.resolve").size))

    val ops = DashboardOps.names.flatMap { op =>
      val n = s"operators.dashboard.$op"
      val k = named(n).size
      Seq(
        m(s"$n.wall_p50_s", median(walls(n)), "s", k),
        m(s"$n.cpu_s", work(n, _.cpuNs) / 1e9 / math.max(1, k), "s", k),
        m(s"$n.bytes_read", work(n, _.inBytes).toDouble / math.max(1, k), "B", k))
    }

    val notes = Seq(
      m("cdc.dim_apply.wall_s", walls("cdc.dim_apply").sum, "s", named("cdc.dim_apply").size),
      m("streaming.dimension_refresh.wall_s", walls("streaming.dimension_refresh").sum, "s",
        named("streaming.dimension_refresh").size),
      m("trace.spans", all.size.toDouble, "count", 1)) ++
      spans.groupBy(_.name).toSeq.sortBy(_._1).map { case (n, ss) =>
        m(s"self.$n", ss.map(s => self(s.id)).sum, "s", ss.size)
      }
    (core ++ ops, notes)
  }

  /** End-to-end figures as the traced run saw them: against the
    * untraced run's, the tracing overhead. */
  def traced(setups: Seq[Double], freshness: Seq[Double], dash: DashboardClient): Seq[Metric] =
    Seq(
      Metric("traced.setup_s", median(setups), "s", setups.size),
      Metric("traced.freshness_p50_s", median(freshness), "s", freshness.size),
      Metric("traced.dashboard_p50_s", median(dash.latencies.toSeq), "s", dash.latencies.size),
      Metric("operators.dashboard.files_read_p50", median(dash.filesRead.toSeq), "count",
        dash.filesRead.size),
      dash.retries)
}
