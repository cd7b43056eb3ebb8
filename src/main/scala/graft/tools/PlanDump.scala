package graft.tools

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.FormattedMode

/** Dump `.explain("formatted")` for every registered query (or a named
  * subset) to one file per query, plus a one-line-per-query summary of
  * plan shape: Exchange count, join strategies, scan count. The r16
  * optimization round's before/after plan evidence
  * (plans/r16/<query>_{before,after}.txt) is captured with this.
  *
  * The files hold [[normalize]]d plans, so `diff -r` of two dumps shows
  * only plan changes — including AQE's run-time choices, which can
  * differ between two runs of one commit (a join's build side).
  *
  * Usage: tools/run.sh graft.tools.PlanDump <outDir> [name ...]
  * Env:   SF_DIR (default /root/testdata/sf0.01)
  */
object PlanDump {
  /** `df`'s formatted physical plan; with `exec`, after running it —
    * under AQE the initial plan neither shows exchange reuse
    * (ReusedExchange dedup of repeated subtrees) nor final join
    * strategies, so pre-execution Exchange/scan counts overstate what
    * actually runs. collect(), not a noop write: the write wraps the
    * query in its own QueryExecution, leaving df.queryExecution (what
    * is printed) unexecuted — the adaptive plan would still be the
    * initial one. Results at the dump's SF are small.
    */
  def formatted(df: DataFrame, exec: Boolean): String = {
    if (exec) { val _ = df.collect() }
    df.queryExecution.explainString(FormattedMode)
  }

  private val QueryStageHeader = """^\(\d+\) \w*QueryStage\b.*""".r
  private val OperatorHeader = """^\(\d+\) .*""".r

  /** Mask the ids a plan's text takes from session-wide counters, which
    * differ between two builds of the same query: expression ids
    * (`#123`), `plan_id=` and `id=#` tags, RDD ids (`RDD[123]`),
    * codegen stage ids (`*(n)`, `codegen id : n`) and AQE query-stage
    * ids (the `Arguments: n` line of a `*QueryStage` operator).
    */
  def normalize(plan: String): String = {
    var inStage = false
    plan.split("\n", -1).map { line =>
      line match {
        case QueryStageHeader() => inStage = true
        case OperatorHeader() => inStage = false
        case _ =>
      }
      val masked = line
        .replaceAll("""plan_id=\d+""", "plan_id=_")
        .replaceAll("""#\d+""", "#_")
        .replaceAll("""RDD\[\d+\]""", "RDD[_]")
        .replaceAll("""\*\(\d+\)""", "*(_)")
        .replaceAll("""codegen id : \d+""", "codegen id : _")
      if (inStage) masked.replaceAll("""^Arguments: \d+$""", "Arguments: _")
      else masked
    }.mkString("\n")
  }

  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "usage: PlanDump <outDir> [queryName ...]")
    val outDir = Paths.get(args.head)
    Files.createDirectories(outDir)
    val spark = ProbeSession(logLevel = "ERROR")
    val dir = sys.env.getOrElse("SF_DIR", "/root/testdata/sf0.01")
    val names =
      if (args.length > 1) args.tail.toSeq
      else graft.SparkEntry.queries.keys.toSeq.sorted
    // build the ingest artifacts once so artifact-backed plans resolve
    graft.operators.Similarity.prepareIndex(spark, dir)
    graft.operators.Dedup.prepareShingles(spark, dir)
    graft.operators.Relational.prepareStats(spark, dir)
    // PLAN_EXEC=1: dump the POST-execution plan (see [[formatted]])
    val exec = sys.env.get("PLAN_EXEC").contains("1")
    names.foreach { name =>
      val plan =
        try normalize(formatted(graft.SparkEntry.queries(name)(spark, dir), exec))
        catch { case e: Throwable => s"PLAN-ERROR: $e" }
      Files.write(outDir.resolve(s"$name.txt"), plan.getBytes("UTF-8"))
      def cnt(p: String) = p.r.findAllIn(plan).length
      println(f"PLAN $name%-34s exch=${cnt("\\bExchange\\b")}%2d " +
        f"smj=${cnt("SortMergeJoin")}%2d bhj=${cnt("BroadcastHashJoin")}%2d " +
        f"shj=${cnt("ShuffledHashJoin")}%2d bnl=${cnt("BroadcastNestedLoop")}%2d " +
        f"sort=${cnt("\\bSort\\b")}%2d win=${cnt("Window")}%2d " +
        f"scan=${cnt("Scan parquet")}%2d agg=${cnt("HashAggregate")}%2d " +
        f"obj=${cnt("ObjectHashAggregate")}%2d sortagg=${cnt("SortAggregate")}%2d reuse=${cnt("ReusedExchange")}%2d")
    }
    spark.stop()
  }
}
