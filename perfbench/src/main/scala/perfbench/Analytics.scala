package perfbench

import java.nio.file.Files

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.SparkEntry
import graft.operators.Relational

/** The analytics workload: one client runs registered queries one
  * after another over the generated tables. Half come from the fast
  * floor, half from the heavy tail; the seed fixes the order. Set-up is
  * one session start, the relational ingest-artifact build, one warm
  * pass whose results are written for the oracle check, and one more
  * untimed pass (the first repeat of each query runs ~10% slow).
  */
final class AnalyticsBench(args: Args, out: Out) {
  private val Queries = Seq(
    // fast floor
    "q13_topk", "q02_filter_project", "q01_pricing_summary", "q42_regex_extract",
    "m01_binary_meta", "t01_text_tokens", "s01_sim_bruteforce_topk", "d01_dedup_exact",
    // heavy tail; all but q31 read the relational ingest artifacts
    "q31_percentiles", "q51_bloom_semi_join", "q36_salted_join", "q70_triangles",
    "q74_pagerank_k")

  private val dir = args.data.getOrElse(sys.error("--data is required")).toString
  private val results = args.work.resolve("results")

  def run(): Unit = {
    val names = args.queries.getOrElse(Queries)
    val all = SparkEntry.queries
    names.foreach(n => require(all.contains(n), s"no registered query $n"))
    val order = new scala.util.Random(args.seed).shuffle(names)

    // set-up: session start, the ingest-artifact build, one warm pass
    val t0 = System.nanoTime()
    val spark = Spark.start(args.cores, args.work)
    val t1 = System.nanoTime()
    Relational.prepareStats(spark, dir)
    val t2 = System.nanoTime()
    val ingest = Seq("session" -> (t1 - t0), "prepare_stats" -> (t2 - t1))
      .map { case (k, ns) => k -> ns / 1e9 }
    ingest.foreach { case (k, sec) => out.layer(s"setup.${k}_s", sec) }
    Main.log(s"ingest s: $ingest")
    val sched = new SchedulerCounters
    spark.sparkContext.addSparkListener(sched)
    val sc = spark.sparkContext

    // untimed for the queries, timed as set-up: each query once with its
    // result written for the oracle check, then once more to the noop sink
    Files.createDirectories(results)
    val w0 = System.nanoTime()
    Seq("warm", "settle").foreach { pass =>
      order.foreach { name =>
        sc.setLocalProperty(SchedulerCounters.QueryKey, s"$pass/$name")
        out.attempted += 1
        try {
          val df = all(name)(spark, dir)
          if (pass == "warm") df.coalesce(1).write.mode("overwrite").parquet(results.resolve(name).toString)
          else df.write.format("noop").mode("overwrite").save()
        } catch {
          case e: Throwable =>
            out.failed += 1
            out.detail(s"error.$pass.$name", String.valueOf(e.getMessage).take(300))
        }
      }
    }
    val warmS = (System.nanoTime() - w0) / 1e9
    Main.log(s"warm passes s: $warmS")
    Files.write(results.resolve("oracle_sql.json"), Json.obj(
      names.map(n => n -> SparkEntry.oracleSql.getOrElse(n, "")): _*).json.getBytes("UTF-8"))
    out.layer("setup.warm_s", warmS)

    // timed passes; the traced run alternates untraced and traced passes
    val deadline = System.nanoTime() + (args.seconds * 1e9).toLong
    val minPasses = if (args.trace) 3 else 1
    val wall = mutable.ArrayBuffer.empty[(Int, String, Double)] // (pass, query, seconds)
    var pass = 0
    var cpuNs = 0L
    while (pass < minPasses || System.nanoTime() < deadline) {
      val traced = args.trace && pass % 2 == 1
      System.gc()
      Trace.on = traced
      val cpu0 = Stats.cpuNanos()
      order.foreach { name =>
        val key = s"pass-$pass/$name"
        sc.setLocalProperty(SchedulerCounters.QueryKey, key)
        out.attempted += 1
        val t0 = System.nanoTime()
        try {
          Trace.span("query", key) {
            sc.setLocalProperty(SchedulerCounters.PhaseKey, "build")
            val df: DataFrame = Trace.span("query.build", key)(all(name)(spark, dir))
            sc.setLocalProperty(SchedulerCounters.PhaseKey, "plan")
            Trace.span("query.plan", key)(df.queryExecution.executedPlan)
            sc.setLocalProperty(SchedulerCounters.PhaseKey, "exec")
            Trace.span("query.exec", key)(df.write.format("noop").mode("overwrite").save())
          }
          wall += ((pass, name, (System.nanoTime() - t0) / 1e9))
        } catch {
          case e: Throwable =>
            out.failed += 1
            out.detail(s"error.$name", String.valueOf(e.getMessage).take(300))
        } finally sc.setLocalProperty(SchedulerCounters.PhaseKey, null)
      }
      Trace.on = false
      val passCpuNs = Stats.cpuNanos() - cpu0
      if (!traced) cpuNs += passCpuNs
      Main.log(s"pass $pass s: ${wall.filter(_._1 == pass).map(_._3).sum} cpu s: ${passCpuNs / 1e9}")
      pass += 1
    }
    sc.setLocalProperty(SchedulerCounters.QueryKey, null)

    val timed = wall.filter(w => !args.trace || w._1 % 2 == 0).toSeq
    out.e2e(ingest.map(_._2).sum + warmS, timed.size / timed.map(_._3).sum,
      timed.map(_._3 * 1000), cpuNs / 1e3 / timed.size)
    out.detail("passes", pass)
    out.detail("query_p50_s", Json.obj(order.map(n =>
      n -> Stats.median(timed.filter(_._2 == n).map(_._3))): _*))
    if (args.trace) layers(spark, sched, wall.toSeq)
    spark.stop()
  }

  /** Per-query spans and scheduler counters of the traced passes, as
    * per-pass sums overall and per operator family (the name's letter).
    */
  private def layers(spark: SparkSession, sched: SchedulerCounters,
      wall: Seq[(Int, String, Double)]): Unit = {
    Spark.drainEvents(spark)
    out.layer("spark.cached_mb", Spark.cachedMb(spark))
    val tracedPasses = wall.map(_._1).distinct.count(_ % 2 == 1).max(1)
    val spans = Trace.allSpans
    def sumOf(span: String, family: Option[Char]) = spans
      .filter(s => s.name == span && family.forall(f => s.traceId.split('/').last.head == f))
      .map(s => (s.end - s.start) / 1e9).sum / tracedPasses
    out.layer("query.build_s", sumOf("query.build", None))
    out.layer("query.plan_s", sumOf("query.plan", None))
    out.layer("query.exec_s", sumOf("query.exec", None))
    "dmqst".foreach { f =>
      Seq("build", "plan", "exec").foreach(k => out.layer(s"family.$f.${k}_s", sumOf(s"query.$k", Some(f))))
    }
    // how much of each query's span its three phases cover
    val self = Trace.selfTimes(spans)
    val cover = spans.filter(_.name == "query").map(s => 1.0 - self(s.id).toDouble / (s.end - s.start))
    out.layer("query.cover_min", if (cover.isEmpty) 0.0 else cover.min)
    val st = sched.byQuery.filter { case (k, _) =>
      k.startsWith("pass-") && k.stripPrefix("pass-").takeWhile(_.isDigit).toInt % 2 == 1
    }.values.toSeq
    def tot(f: sched.Stats => Long): Double = st.map(f).sum.toDouble / tracedPasses
    out.layer("query.jobs", tot(_.jobs))
    out.layer("query.jobs_outside_exec", tot(_.jobsOutsideExec))
    out.layer("query.stages", tot(_.stages))
    out.layer("query.tasks", tot(_.tasks))
    out.layer("query.executor_run_s", tot(_.runMs) / 1e3)
    out.layer("query.executor_cpu_s", tot(_.cpuNs) / 1e9)
    out.layer("query.gc_s", tot(_.gcMs) / 1e3)
    out.layer("query.shuffle_read_mb", tot(_.shuffleRead) / 1e6)
    out.layer("query.shuffle_write_mb", tot(_.shuffleWrite) / 1e6)
    out.layer("query.spill_mb", tot(_.spill) / 1e6)
    val (tr, plain) = wall.partition(_._1 % 2 == 1)
    def perPass(ws: Seq[(Int, String, Double)]) = ws.map(_._3).sum / ws.map(_._1).distinct.size
    out.layer("trace.overhead_frac", perPass(tr) / perPass(plain) - 1)
  }
}
