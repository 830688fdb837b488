package perfbench

import java.io.{File, PrintWriter}
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.{AtomicLong, LongAdder}

import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** One traced call: a layer boundary crossed by the benchmark. Spans of
  * one micro-batch, one restatement batch or one dashboard operation
  * share a `request` id. */
final case class Span(id: Long, parent: Long, name: String, request: String,
                      startNs: Long, endNs: Long) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** Spark work attributed to one span: every job submitted while the span
  * was the innermost open span on the submitting thread. */
final class Work {
  val jobs, tasks, cpuNs, shuffleRead, shuffleWrite = new LongAdder
  val inBytes, inRecords, outBytes, outRecords = new LongAdder
}

/** In-memory span recorder plus a `SparkListener` that charges jobs,
  * tasks, executor CPU, shuffle and I/O bytes/records to the innermost
  * open span. The span id travels as a Spark local property of the
  * thread that submits the job, so work lands on the span that caused
  * it even when a streaming thread and a dashboard thread run at once.
  *
  * Disabled, `span` just runs its body: no listener is registered and
  * nothing is recorded, so the untraced run pays nothing for tracing. */
final class Tracer(val enabled: Boolean, sc: SparkContext) {
  private val PropKey = "perfbench.span"
  private val ids = new AtomicLong
  private val done = new java.util.concurrent.ConcurrentLinkedQueue[Span]
  private val open = new ThreadLocal[Span]
  private val work = new ConcurrentHashMap[Long, Work]
  private val stageSpan = new ConcurrentHashMap[Int, Long]

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val sid = Option(e.properties).flatMap(p => Option(p.getProperty(PropKey)))
      sid.foreach { s =>
        val id = s.toLong
        e.stageIds.foreach(st => stageSpan.put(st, id))
        workOf(id).jobs.increment()
      }
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val id = stageSpan.get(e.stageId)
      val m = e.taskMetrics
      if (id != 0L && m != null) {
        val w = workOf(id)
        w.tasks.increment()
        w.cpuNs.add(m.executorCpuTime)
        w.shuffleRead.add(m.shuffleReadMetrics.totalBytesRead)
        w.shuffleWrite.add(m.shuffleWriteMetrics.bytesWritten)
        w.inBytes.add(m.inputMetrics.bytesRead)
        w.inRecords.add(m.inputMetrics.recordsRead)
        w.outBytes.add(m.outputMetrics.bytesWritten)
        w.outRecords.add(m.outputMetrics.recordsWritten)
      }
    }
  }
  if (enabled) sc.addSparkListener(listener)

  private def workOf(id: Long): Work = work.computeIfAbsent(id, _ => new Work)

  /** Run `body` inside a span named `name`. `request` defaults to the
    * enclosing span's request id. */
  def span[T](name: String, request: String = null)(body: => T): T =
    if (!enabled) body
    else {
      val parent = open.get
      val req = Option(request).orElse(Option(parent).map(_.request)).getOrElse("")
      val start = Span(ids.incrementAndGet(), Option(parent).fold(0L)(_.id),
        name, req, System.nanoTime(), 0L)
      val prevProp = sc.getLocalProperty(PropKey)
      open.set(start)
      sc.setLocalProperty(PropKey, start.id.toString)
      try body
      finally {
        done.add(start.copy(endNs = System.nanoTime()))
        open.set(parent)
        sc.setLocalProperty(PropKey, prevProp)
      }
    }

  /** Block until the listener bus has delivered every queued event, so
    * the work counters are complete. */
  def drain(): Unit = if (enabled) org.apache.spark.perfbench.Bus.drain(sc)

  def spans: Seq[Span] = done.asScala.toSeq.sortBy(_.startNs)

  def workFor(s: Span): Option[Work] = Option(work.get(s.id))

  /** Self time per span: its duration minus the time its child spans
    * cover (children of one span run one after another on its thread). */
  def selfSeconds: Map[Long, Double] = {
    val all = spans
    val childTime = all.groupBy(_.parent).view
      .mapValues(_.map(_.seconds).sum).toMap
    all.map(s => s.id -> math.max(0.0, s.seconds - childTime.getOrElse(s.id, 0.0))).toMap
  }

  /** Write every span, with its self time and attributed Spark work, as
    * one JSON object per line. */
  def write(file: File): Unit = {
    file.getParentFile.mkdirs()
    val self = selfSeconds
    val out = new PrintWriter(file, "UTF-8")
    try spans.foreach { s =>
      val w = workFor(s)
      def n(f: Work => LongAdder) = w.fold(0L)(x => f(x).sum())
      out.println(
        s"""{"id":${s.id},"parent":${s.parent},"name":"${s.name}",""" +
        s""""request":"${s.request}","start_ns":${s.startNs},"end_ns":${s.endNs},""" +
        s""""self_s":${self(s.id)},"jobs":${n(_.jobs)},"tasks":${n(_.tasks)},""" +
        s""""cpu_ns":${n(_.cpuNs)},"shuffle_read":${n(_.shuffleRead)},""" +
        s""""shuffle_write":${n(_.shuffleWrite)},"in_bytes":${n(_.inBytes)},""" +
        s""""in_records":${n(_.inRecords)},"out_bytes":${n(_.outBytes)},""" +
        s""""out_records":${n(_.outRecords)}}""")
    } finally out.close()
  }
}
