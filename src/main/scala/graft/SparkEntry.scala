package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * The engine re-expresses the capability surface of
  * `luanruisong/kinesis_iterator` (a Kinesis shard-consumer library,
  * /root/reference/kinesis.go) Spark-first: streaming ingestion is
  * Structured Streaming (graft.streaming / graft.sources), and the
  * query surface the reference leaves to its `Handler` callback is the
  * Catalyst-backed operator inventory below (SURVEY.md §2.2).
  */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0.
    *
    * The event-stream analog of the reference's consume loop
    * (kinesis.go:193-197): read the stream table, decode the opaque
    * payload (`props` ≈ `types.Record.Data`) with an explicit schema,
    * then aggregate per event type.
    */
  def entry(spark: SparkSession): DataFrame = {
    val propsSchema = StructType(Seq(StructField("k", IntegerType)))
    Tables.events(spark, "/root/testdata/sf0.001")
      .withColumn("payload", from_json(col("props"), propsSchema))
      .filter(col("payload.k").isNotNull)
      .groupBy("event_type")
      .agg(count(lit(1)).as("n_events"),
        round(sum("value"), 3).as("sum_value"),
        round(avg("payload.k"), 3).as("avg_k"))
      .orderBy("event_type")
  }

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    operators.Relational.queries ++
      operators.TextOps.queries ++
      operators.Dedup.queries ++
      operators.Similarity.queries ++
      operators.Multimodal.queries ++
      operators.Pipeline.queries ++
      operators.Sketch.queries

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops. */
  def oracleSql: Map[String, String] =
    operators.Relational.oracles ++
      operators.TextOps.oracles ++
      operators.Dedup.oracles ++
      operators.Similarity.oracles ++
      operators.Multimodal.oracles ++
      operators.Pipeline.oracles ++
      operators.Sketch.oracles

  /** Scale-robust oracle alternates (see
    * [[operators.Similarity.oracleExtensions]]): for queries whose
    * pure-SQL oracle is resource-unbounded on large instances, a
    * non-iterative plan the verifier executes (DuckDB SQL for the
    * heavy relation + a bounded algorithmic step). Emitted by
    * [[Verify]] as `oracle_ext.json`; the primary [[oracleSql]] entry
    * stays the default at gate scales.
    */
  def oracleExt: Map[String, Map[String, String]] =
    operators.Similarity.oracleExtensions ++ operators.Dedup.oracleExtensions

  /** Raw (uncertified) production paths for every CERTIFIED query —
    * what the operator costs without its in-query certification work.
    * [[Bench]] times both and writes a `cert_overhead` ledger into
    * target/bench_full.json so the certification cost stays auditable
    * as it spreads (r12 VERDICT item 7).
    */
  def certRawTwins: Map[String, (SparkSession, String) => DataFrame] =
    operators.Relational.rawTwins ++ operators.Similarity.rawTwins
}
