package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable

/** Command line of the benchmark JVM (run.py builds it). */
final case class Args(workload: String, seed: Long, seconds: Double, trace: Boolean,
    cores: Int, work: Path, data: Option[Path], queries: Option[Seq[String]],
    selftest: Boolean)

object Args {
  def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = m.getOrElse(k, sys.error(s"missing --$k"))
    Args(need("workload"), need("seed").toLong, need("seconds").toDouble,
      m.get("trace").contains("1"), need("cores").toInt, Paths.get(need("work")),
      m.get("data").map(Paths.get(_)), m.get("queries").map(_.split(",").toSeq),
      m.get("selftest").contains("1"))
  }
}

object Stats {
  def median(xs: Seq[Double]): Double = pct(xs, 0.5)

  def geomean(xs: Seq[Double]): Double = math.exp(xs.map(math.log).sum / xs.size)

  /** Linear-interpolated percentile (NaN for no samples). */
  def pct(xs: Seq[Double], p: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      val r = p * (s.length - 1)
      val lo = math.floor(r).toInt
      val hi = math.min(lo + 1, s.length - 1)
      if (s(hi).isInfinite) s(hi) else s(lo) + (s(hi) - s(lo)) * (r - lo)
    }

  /** CPU time of this JVM, all threads, in nanoseconds. */
  def cpuNanos(): Long = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime

  private val nanoOffset = System.currentTimeMillis() * 1000000L - System.nanoTime()

  /** An ISO-8601 wall-clock instant on the `System.nanoTime` scale. */
  def epochNanos(iso: String): Long =
    java.time.Instant.parse(iso).toEpochMilli * 1000000L - nanoOffset
}

/** What one run reports: operation counts, end-to-end and per-layer
  * metric values, and details for the result file.
  */
final class Out {
  var attempted = 0L
  var failed = 0L
  val e2eMetrics = mutable.LinkedHashMap.empty[String, Double]
  val layers = mutable.LinkedHashMap.empty[String, Double]
  val details = mutable.LinkedHashMap.empty[String, Any]

  /** The end-to-end metrics every workload reports: set-up seconds,
    * operations per second, the geometric mean operation latency, and
    * the process CPU time per operation.
    */
  def e2e(setupS: Double, throughput: Double, latenciesMs: Seq[Double],
      cpuUsPerOp: Double): Unit = {
    e2eMetrics ++= Seq("setup_s" -> setupS, "throughput" -> throughput,
      "latency_geomean_ms" -> Stats.geomean(latenciesMs), "cpu_us_per_op" -> cpuUsPerOp)
    details("latency_samples") = latenciesMs.size
  }
  def layer(name: String, value: Double): Unit = layers(name) = value
  def detail(name: String, value: Any): Unit = details(name) = value

  def write(path: Path): Unit = {
    val rt = Runtime.getRuntime
    val env = Json.obj("nproc" -> rt.availableProcessors, "heap_mb" -> rt.maxMemory / (1 << 20),
      "jdk" -> System.getProperty("java.version"), "spark" -> org.apache.spark.SPARK_VERSION)
    layer("env.nproc", rt.availableProcessors.toDouble)
    layer("env.heap_mb", (rt.maxMemory / (1 << 20)).toDouble)
    val json = Json.obj("attempted" -> attempted, "failed" -> failed, "env" -> env,
      "e2e" -> Json.obj(e2eMetrics.toSeq: _*), "layers" -> Json.obj(layers.toSeq: _*),
      "details" -> Json.obj(details.toSeq: _*))
    Files.write(path, json.json.getBytes("UTF-8"))
  }
}

/** Runs one workload and writes `result.json` (and, traced, the spans)
  * into the work dir.
  */
object Main {
  /** Progress line for the run's log (stderr; stdout stays clean). */
  def log(msg: String): Unit = System.err.println(s"[perfbench] $msg")

  def main(argv: Array[String]): Unit = {
    val args = Args.parse(argv)
    Files.createDirectories(args.work)
    val out = new Out
    try {
      args.workload match {
        case "consumer_backlog" => new ConsumerBench(args, out).backlog()
        case "analytics_suite" => new AnalyticsBench(args, out).run()
        case w => sys.error(s"unknown workload $w")
      }
      if (args.trace) {
        Trace.write(args.work)
        out.layer("trace.spans", Trace.allSpans.size.toDouble)
      }
      out.write(args.work.resolve("result.json"))
    } catch {
      case e: Throwable =>
        e.printStackTrace()
        System.exit(1)
    }
    System.exit(0)
  }
}
