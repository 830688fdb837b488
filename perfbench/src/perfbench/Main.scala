package perfbench

import java.io.{File, PrintWriter}

import org.apache.spark.sql.SparkSession

/** Entry point of one benchmark run:
  *
  * {{{
  * perfbench.Main --workload live_dashboard|restatement --seed N
  *   --seconds S --trace 0|1 --work DIR --out DIR
  * }}}
  *
  * Runs the workload on a star generated from the seed, checks the
  * results, writes `summary.json` (and, traced, `spans.jsonl`) to the
  * out directory, and prints one line per metric followed by the result
  * line: `{"correct", "attempted", "failed", "metrics"}` with the
  * end-to-end metrics untraced and the per-layer metrics traced. */
object Main {

  /** Star sizes shared by both workloads. */
  val Size: StarSize = StarSize(customers = 1500, products = 2000, merchants = 100,
    categories = 25, days = 34, transactions = 6800)

  val Workloads: Map[String, (Ctx, StarGen) => Outcome] = Map(
    "live_dashboard" -> LiveDashboard.run,
    "restatement" -> Restatement.run)

  def log(msg: String): Unit = System.err.println(s"[perfbench] $msg")

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opts("workload")
    val run = Workloads.getOrElse(workload,
      throw new IllegalArgumentException(s"unknown workload $workload"))
    val seed = opts("seed").toLong
    val seconds = opts("seconds").toInt
    val trace = opts("trace") == "1"
    val work = new File(opts("work")).getAbsolutePath
    val out = new File(opts("out"))

    val spark = SparkSession.builder()
      .master("local[4]")
      .appName(s"perfbench-$workload")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.codegen.cache.maxEntries", "2000")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    val tracer = new Tracer(trace, spark.sparkContext)
    val gen = new StarGen(seed, Size)
    val o = run(Ctx(spark, seconds, tracer, work), gen)
    if (trace) tracer.write(new File(out, "spans.jsonl"))
    spark.stop()

    val reported = if (trace) o.layers else o.e2e
    // correct: every output check passed and every metric was measured;
    // operations that threw are counted in `failed`
    val correct = o.failedChecks.isEmpty &&
      reported.forall(m => !m.value.isNaN && !m.value.isInfinite)
    def json(ms: Seq[Metric], samples: Boolean) = ms.map { m =>
      val v = if (m.value.isNaN || m.value.isInfinite) "null" else m.value.toString
      val n = if (samples) s""","samples":${m.samples}""" else ""
      s""""${m.name}":{"value":$v,"unit":"${m.unit}"$n}"""
    }.mkString("{", ",", "}")

    out.mkdirs()
    val summary = new PrintWriter(new File(out, "summary.json"), "UTF-8")
    try summary.println(
      s"""{"workload":"$workload","seed":$seed,"seconds":$seconds,"trace":$trace,""" +
      s""""size":"$Size","attempted":${o.attempted},"failed":${o.failed},""" +
      s""""failed_checks":[${o.failedChecks.map(c => s""""$c"""").mkString(",")}],""" +
      s""""e2e":${json(o.e2e, samples = true)},"layers":${json(o.layers, samples = true)},""" +
      s""""notes":${json(o.notes, samples = true)}}""")
    finally summary.close()

    (reported ++ o.notes).foreach { m =>
      println(f"metric ${m.name}%-52s ${m.value}%14.6f ${m.unit}%-6s samples=${m.samples}")
    }
    if (o.failedChecks.nonEmpty) println(s"failed checks: ${o.failedChecks.mkString(", ")}")
    println(s"""{"correct":$correct,"attempted":${o.attempted},"failed":${o.failed},""" +
      s""""metrics":${json(reported, samples = false)}}""")
    System.out.flush()
    sys.exit(0)
  }
}
