package perfbench

import java.io.IOException
import java.time.Instant
import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.{LongOffset, MemoryStream}
import org.apache.spark.sql.streaming.StreamingQueryListener

import graft.cdc.StarReplication

import Stats._

/** Snapshot inputs of one generated star, built once per run. */
final class Inputs(spark: SparkSession, gen: StarGen) {
  import spark.implicits._
  val transactions: DataFrame = gen.history.toDF()
  val customers: DataFrame = gen.customers.toDF()
  val products: DataFrame = gen.products.toDF()
  val merchants: DataFrame = gen.merchants.toDF()
}

/** Dashboard operations run by one closed-loop client, with failures
  * counted and latencies kept for operations that start in the measured
  * window.
  *
  * Resolving the view (`star.view.current()`) is tried up to
  * [[ResolveAttempts]] times, with a doubling back-off from
  * [[BackoffMs]], when it throws an `IOException`: a micro-batch commits
  * by overwriting the view's `_CURRENT` pointer in place, so a read that
  * lands in the middle of that write finds the pointer empty and no
  * manifest `m=` under it. Every retry is logged and counted in
  * [[resolveRetries]], which the run reports, and its wait is part of
  * the operation's latency; an operation whose resolution still fails
  * counts as failed. */
final class DashboardClient(c: Ctx, gen: StarGen) {
  val ResolveAttempts = 5
  val BackoffMs = 20L
  val latencies = new ArrayBuffer[Double]
  val filesRead = new ArrayBuffer[Double]
  var attempted = 0L
  var failed = 0L
  var resolveRetries = 0L
  private var i = 0

  def retries: Metric =
    Metric("view.resolve_retries", resolveRetries.toDouble, "count", attempted.toInt)

  private def resolve(star: StarReplication): DataFrame = {
    var view: DataFrame = null
    var attempt = 1
    while (view == null) {
      try view = star.view.current()
      catch { case e: IOException if attempt < ResolveAttempts =>
        Main.log(s"view resolve retried: $e")
        Thread.sleep(BackoffMs << (attempt - 1))
        resolveRetries += 1; attempt += 1 }
    }
    view
  }

  /** The next operation starts a round of all of them. */
  def atRoundStart: Boolean = i % DashboardOps.names.size == 0

  /** One operation over the view as `star` maintains it now. */
  def once(star: StarReplication, request: String, measured: Boolean): Unit = {
    val op = DashboardOps.names(i % DashboardOps.names.size)
    val t0 = System.nanoTime()
    val ok =
      try {
        c.tracer.span(s"operators.dashboard.$op", request) {
          val view = c.tracer.span("view.resolve") { resolve(star) }
          if (c.tracer.enabled) filesRead += view.inputFiles.length.toDouble
          DashboardOps.run(i, view, gen)
        }
        true
      } catch {
        case NonFatal(e) =>
          Main.log(s"dashboard $op failed: $e"); false
      }
    attempted += 1
    if (!ok) failed += 1
    if (measured) latencies += (System.nanoTime() - t0) / 1e9
    i += 1
  }
}

/** The set-up of a workload: [[Reps]] stars snapshotted from the same
  * inputs, each into its own directory; the workload runs on the last.
  * The first set-up of a run also warms the JVM, and the median of the
  * set-up times is reported. */
object SetUp {
  val Reps = 3

  def run(c: Ctx, in: Inputs): (Seq[Pipeline], Seq[Double]) = {
    val pipes = (0 until Reps).map { i =>
      val dir = s"${c.work}/star$i"
      new Pipeline(new StarReplication(c.spark, dir), dir, c.tracer)
    }
    val times = pipes.zipWithIndex.map { case (p, i) =>
      timed(c.tracer.span("bench.setup", s"setup-$i") {
        p.snapshotAll(in.transactions, in.customers, in.products, in.merchants)
      })._1
    }
    Main.log(s"set-up: ${times.map(s => f"$s%.2fs").mkString(" ")}")
    (pipes, times)
  }
}

/** The live CDC→dashboard workload: an open-loop change feed at [[Rate]]
  * rows/s through `StarReplication.startAll` (a [[Partitions]]-partition
  * MemoryStream, `ProcessingTime(0)`), beside one closed-loop dashboard
  * client. The stream runs [[LeadInS]] seconds before the measured
  * window of the run's length; an event is measured when its due time
  * falls in the window. */
object LiveDashboard {
  val Rate = 500.0
  val LeadInS = 2.0
  /** Partitions of the change feed, like the partitions of a topic. */
  val Partitions = 4

  /** Per-trigger record from `StreamingQueryProgress`. */
  final case class Batch(endOffset: Long, startMs: Long, triggerMs: Long, addBatchMs: Long) {
    def commitMs: Long = startMs + triggerMs
  }
  /** One `addData` call of the generator: its offset, when it was made
    * and the due times (epoch ms) of the events it carried. */
  final case class Add(offset: Long, atMs: Double, due: Array[Double])

  final class Progress extends StreamingQueryListener {
    val batches = new ConcurrentLinkedQueue[Batch]
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      if (p.numInputRows > 0) batches.add(Batch(
        p.sources.head.endOffset.trim.toLong,
        Instant.parse(p.timestamp).toEpochMilli,
        p.durationMs.get("triggerExecution").longValue,
        Option(p.durationMs.get("addBatch")).fold(0L)(_.longValue)))
    }
  }

  def run(c: Ctx, gen: StarGen): Outcome = {
    val spark = c.spark
    import spark.implicits._
    implicit val sqlContext: org.apache.spark.sql.SQLContext = spark.sqlContext
    val in = new Inputs(spark, gen)
    val (pipes, setups) = SetUp.run(c, in)
    val pipe = pipes.last
    val star = pipe.star
    // warm the streaming path on another star before measuring
    val warmSource = MemoryStream[TxEvent](Partitions)
    val warmQuery = pipes.head.startTransactions(warmSource.toDF(), s"${c.work}/warm-checkpoint")
    val warmFeed = new gen.LiveFeed(10000000L)
    val (warmS, _) = timed {
      warmSource.addData((1 to 500).map(_ => warmFeed.next()))
      warmQuery.processAllAvailable()
    }
    warmQuery.stop()
    Main.log(f"warm-up $warmS%.2fs")

    val source = MemoryStream[TxEvent](Partitions)
    val progress = new Progress
    spark.streams.addListener(progress)
    val query = pipe.startTransactions(source.toDF(), s"${c.work}/checkpoint")

    val feed = new gen.LiveFeed(0L)
    val sent = new ArrayBuffer[TxEvent]
    val adds = new ArrayBuffer[Add]
    val t0Ms = System.currentTimeMillis()
    val t0Ns = System.nanoTime()
    def elapsed: Double = (System.nanoTime() - t0Ns) / 1e9
    val endS = LeadInS + c.seconds
    @volatile var genError: Throwable = null
    @volatile var readerDone = false

    // the feed keeps running until the dashboard client has finished, so
    // every measured operation contends with writes
    val generator = new Thread(() => try {
      var emitted = 0L
      while (elapsed < endS || !readerDone) {
        val due = (elapsed * Rate).toLong
        if (due > emitted) {
          val events = (emitted until due).map(_ => feed.next())
          val dues = (emitted until due).map(k => t0Ms + k * 1000.0 / Rate).toArray
          sent ++= events
          val off = source.addData(events).asInstanceOf[LongOffset].offset
          adds += Add(off, System.currentTimeMillis().toDouble, dues)
          emitted = due
        }
        Thread.sleep(10)
      }
    } catch { case NonFatal(e) => genError = e }, "perfbench-generator")

    val dash = new DashboardClient(c, gen)
    // measured: every whole round of the operations that starts in the
    // window, so each run measures the same mix
    val reader = new Thread(() => try {
      var k = 0
      var measuring = false
      while (elapsed < endS || !dash.atRoundStart) {
        if (dash.atRoundStart) measuring = elapsed >= LeadInS && elapsed < endS
        dash.once(star, s"dash-$k", measuring)
        k += 1
      }
    } finally readerDone = true, "perfbench-dashboard")

    generator.start(); reader.start()
    generator.join(); reader.join()
    var streamFailed = 0L
    try query.processAllAvailable()
    catch { case NonFatal(e) =>
      Main.log(s"stream failed: $e"); streamFailed += 1 }
    query.stop()
    org.apache.spark.perfbench.Bus.drain(spark.sparkContext)
    spark.streams.removeListener(progress)
    if (genError != null) {
      Main.log(s"generator failed: $genError"); streamFailed += 1
    }

    // freshness: due time → commit of the micro-batch that carried it
    val batches = progress.batches.asScala.toIndexedSeq.sortBy(_.endOffset)
    val batchOf = adds.map(a => a -> batches.find(_.endOffset >= a.offset)).toMap
    val unmatched = adds.filter(a => batchOf(a).isEmpty).map(_.due.length.toLong).sum
    val winLo = t0Ms + LeadInS * 1000
    val winHi = t0Ms + endS * 1000
    val fresh = new ArrayBuffer[(Double, Double, Double)] // (due, freshness, queue wait)
    for (a <- adds; b <- batchOf(a); d <- a.due if d >= winLo && d < winHi)
      fresh += ((d, (b.commitMs - d) / 1000.0, (b.startMs - d) / 1000.0))
    val freshness = fresh.map(_._2).toSeq
    val quarter = (winHi - winLo) / 4
    val q1 = fresh.filter(_._1 < winLo + quarter).map(_._2).toSeq
    val q4 = fresh.filter(_._1 >= winHi - quarter).map(_._2).toSeq
    val rowsOf = adds.groupBy(a => batchOf(a).map(_.endOffset))
      .map { case (k, as) => k -> as.map(_.due.length).sum }
    val winBatches = batches.filter(b => b.startMs >= winLo && b.startMs < winHi)
    val backlog = adds.filter(a => a.atMs >= winLo && a.atMs < winHi).map { a =>
      val dueBy = adds.filter(_.atMs <= a.atMs).map(_.due.length.toLong).sum
      dueBy - batches.filter(_.commitMs <= a.atMs)
        .map(b => rowsOf.getOrElse(Some(b.endOffset), 0).toLong).sum
    }
    Main.log(f"stream: ${batches.size} batches, ${winBatches.size} in the window, " +
      f"walls ${batches.map(b => f"${b.triggerMs / 1000.0}%.2f").mkString("[", " ", "]")}")

    val (checkS, checks) = timed(Checks.star(star, Seq(
      "transactions" -> Checks.fold(in.transactions, sent.toSeq.toDF(), "transaction_id"))))
    Main.log(f"checks $checkS%.2fs")

    val e2e = Seq(
      Metric("setup_s", median(setups), "s", setups.size),
      Metric("freshness_p50_s", median(freshness), "s", freshness.size),
      Metric("freshness_p95_s", quantile(freshness, 0.95), "s", freshness.size),
      Metric("dashboard_p50_s", median(dash.latencies.toSeq), "s", dash.latencies.size),
      Metric("dashboard_p90_s", quantile(dash.latencies.toSeq, 0.9), "s", dash.latencies.size))
    val streamLayer = Seq(
      Metric("stream.queue_wait_p50_s", median(fresh.map(_._3).toSeq), "s", fresh.size),
      Metric("stream.batch_wall_p50_s", median(winBatches.map(_.triggerMs / 1000.0)), "s",
        winBatches.size),
      Metric("stream.batch_rows_p50",
        median(winBatches.map(b => rowsOf.getOrElse(Some(b.endOffset), 0).toDouble)), "count",
        winBatches.size),
      Metric("stream.backlog_rows_max", backlog.maxOption.getOrElse(0L).toDouble,
        "count", backlog.size))
    val liveNotes = Seq(
      Metric("stream.trigger_overhead_p50_s",
        median(winBatches.map(b => (b.triggerMs - b.addBatchMs) / 1000.0)), "s", winBatches.size),
      Metric("gen.lateness_s_max",
        adds.map(a => (a.atMs - a.due.head) / 1000.0).maxOption.getOrElse(0.0), "s", adds.size),
      Metric("freshness_q1_p50_s", median(q1), "s", q1.size),
      Metric("freshness_q4_p50_s", median(q4), "s", q4.size),
      Metric("stream.batches", batches.size.toDouble, "count", 1),
      Metric("events.sent", sent.size.toDouble, "count", 1))

    val (layers, notes) =
      if (!c.tracer.enabled) (Nil, Nil)
      else {
        val (l, n) = Layers.report(c.tracer, t0Ns + (LeadInS * 1e9).toLong, Seq(pipe),
          winBatches.map(b => rowsOf.getOrElse(Some(b.endOffset), 0).toLong).sum,
          star, s"${c.work}/star${SetUp.Reps - 1}")
        (l ++ streamLayer ++ Layers.traced(setups, freshness, dash), n)
      }
    Outcome(
      attempted = sent.size + dash.attempted + 2,
      failed = dash.failed + streamFailed + unmatched + checks.size,
      failedChecks = checks ++ (if (unmatched > 0) Seq("uncommitted-events") else Nil),
      e2e = e2e, layers = layers,
      notes = notes ++ liveNotes ++ (if (c.tracer.enabled) Nil else streamLayer :+ dash.retries))
  }
}

/** The historical restatement workload: a fixed correction log folded
  * through `StarReplication.applyBatch` in a closed loop, then the
  * dashboard operations over the restated view with no writer running.
  * The whole log is due when it lands, so an event's freshness is the
  * time from the start of the fold to the commit of its batch. Reads
  * run in whole rounds of the operations until the run's length has
  * passed since the fold started, at least [[MinReads]] times. */
object Restatement {
  val FactBatches = 1
  val BatchSize = 1000
  val DimKeys = 5
  val MinReads = 14

  def run(c: Ctx, gen: StarGen): Outcome = {
    val spark = c.spark
    import spark.implicits._
    val in = new Inputs(spark, gen)
    val log = gen.restatementLog(FactBatches, BatchSize, DimKeys)
    val frames: Seq[(String, DataFrame, Int)] = log.map {
      case b: gen.FactBatch => (b.table, b.rows.toDF(), b.events)
      case b: gen.ProductBatch => (b.table, b.rows.toDF(), b.events)
      case b: gen.MerchantBatch => (b.table, b.rows.toDF(), b.events)
    }
    val (pipes, setups) = SetUp.run(c, in)
    val pipe = pipes.last
    // warm the dashboard operations on another star: the measured reads
    // come after the fold, with nothing running before them
    val dash = new DashboardClient(c, gen)
    DashboardOps.names.indices.foreach(k =>
      dash.once(pipes.head.star, s"warm-dash-$k", measured = false))
    val measuredFrom = System.nanoTime()

    var batchFailed = 0L
    val fresh = new ArrayBuffer[Double]
    val batches = new ArrayBuffer[(Double, Double, Int)] // (start, wall, events)
    val t0 = System.nanoTime()
    def elapsed: Double = (System.nanoTime() - t0) / 1e9
    frames.zipWithIndex.foreach { case ((table, df, n), j) =>
      val start = elapsed
      try c.tracer.span("stream.batch", s"restate-$j") { pipe.applyBatch(table, df) }
      catch { case NonFatal(e) =>
        Main.log(s"$table batch failed: $e"); batchFailed += 1 }
      val commit = elapsed
      fresh ++= Iterator.fill(n)(commit)
      batches += ((start, commit - start, n))
    }
    val fold = elapsed
    Main.log(f"fold of ${frames.size} batches $fold%.2fs " +
      batches.map(b => f"${b._2}%.2f").mkString("[", " ", "]"))
    var k = 0
    while (k < MinReads || elapsed < c.seconds || !dash.atRoundStart) {
      dash.once(pipe.star, s"dash-$k", measured = true)
      k += 1
    }

    def expected(table: String, snapshot: DataFrame, key: String) =
      table -> Checks.fold(snapshot,
        frames.filter(_._1 == table).map(_._2).reduce(_ unionByName _), key)
    val (checkS, checks) = timed(Checks.star(pipe.star, Seq(
      expected("transactions", in.transactions, "transaction_id"),
      expected("products", in.products, "product_id"),
      expected("merchants", in.merchants, "merchant_id"))))
    Main.log(f"checks $checkS%.2fs")

    val freshness = fresh.toSeq
    val e2e = Seq(
      Metric("setup_s", median(setups), "s", setups.size),
      Metric("freshness_p50_s", median(freshness), "s", freshness.size),
      Metric("freshness_p95_s", quantile(freshness, 0.95), "s", freshness.size),
      Metric("dashboard_p50_s", median(dash.latencies.toSeq), "s", dash.latencies.size),
      Metric("dashboard_p90_s", quantile(dash.latencies.toSeq, 0.9), "s", dash.latencies.size))
    val streamLayer = Seq(
      Metric("stream.queue_wait_p50_s",
        median(batches.toSeq.flatMap { case (s, _, n) => Iterator.fill(n)(s) }), "s",
        freshness.size),
      Metric("stream.batch_wall_p50_s", median(batches.map(_._2).toSeq), "s", batches.size),
      Metric("stream.batch_rows_p50", median(batches.map(_._3.toDouble).toSeq), "count",
        batches.size),
      Metric("stream.backlog_rows_max", frames.map(_._3).sum.toDouble, "count", 1))
    val restNotes = Seq(Metric("restatement_s", fold, "s", 1))

    val (layers, notes) =
      if (!c.tracer.enabled) (Nil, Nil)
      else {
        val (l, n) = Layers.report(c.tracer, measuredFrom, Seq(pipe),
          frames.filter(_._1 == "transactions").map(_._3).sum.toLong,
          pipe.star, s"${c.work}/star${SetUp.Reps - 1}")
        (l ++ streamLayer ++ Layers.traced(setups, freshness, dash), n)
      }
    Outcome(
      attempted = frames.size + dash.attempted + 3,
      failed = batchFailed + dash.failed + checks.size,
      failedChecks = checks,
      e2e = e2e, layers = layers,
      notes = notes ++ restNotes ++ (if (c.tracer.enabled) Nil else streamLayer :+ dash.retries))
  }
}
