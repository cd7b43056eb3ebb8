package graft.streaming

import scala.concurrent.duration._

import org.apache.spark.sql.{DataFrame, Dataset, HomeSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.util.LongAccumulator

/** Connection/config options — mirror of the reference's `Option`
  * builder (option.go:10-34): stream name, region, STS toggle.
  */
case class GraftOption(streamName: String = "", region: String = "", sts: Boolean = false) {
  def withStreamName(n: String): GraftOption = copy(streamName = n) // option.go:27-30
  def withRegion(r: String): GraftOption = copy(region = r)         // option.go:22-25
  def withSts(b: Boolean): GraftOption = copy(sts = b)              // option.go:17-20
}

/** What to do when the user handler throws — SURVEY.md §2.1: the
  * reference logs and *continues past* a failing record, advancing the
  * checkpoint anyway (kinesis.go:194-201). That is weaker than Spark's
  * default (fail the query), so the policy is explicit here.
  */
sealed trait ErrorPolicy
object ErrorPolicy {
  /** Reference behavior: count + log, keep going (kinesis.go:194-197). */
  case object SkipAndLog extends ErrorPolicy
  /** Spark-native behavior: task failure → query failure. */
  case object Fail extends ErrorPolicy
}

/** The consumer facade — the Spark re-expression of the reference's
  * `Iterator` lifecycle (`NewIteratorWithOpt → Handle → SetSaver →
  * SetSleepLimit → Run → Shutdown`, kinesis.go:252-263, 143-154,
  * 242-250, 221-236; usage in README.md:33-59).
  *
  * Built on Structured Streaming: the poll ticker (kinesis.go:172-179)
  * is `Trigger.ProcessingTime(sleepLimit)`; batch-granularity
  * checkpointing (kinesis.go:198-201) writes each shard's last delivered
  * sequence to the saver. Each micro-batch is one Spark action: the
  * handler pass also returns the last sequence per shard, and the
  * saver is written once that action has finished.
  *
  * The goroutine-per-shard loop (kinesis.go:131-139, in-order delivery
  * 173-212) depends on how the consumer was started:
  *  - [[start]] reads its own kinesis-graft source, and the source's
  *    per-shard task IS that loop: the handler runs inside the scan's
  *    tasks, with no shuffle and no sort (see [[start]] for what this
  *    relies on);
  *  - [[run]] takes any streaming DataFrame with the
  *    [[KinesisRecord.schema]] envelope (a file-replay stream, a
  *    MemoryStream in tests, a source the caller built), which carries
  *    no per-shard grouping, so it regroups each batch:
  *    repartition-by-shard + sort-within-partition by sequence.
  *
  * Checkpoint files: when the session leaves
  * `spark.sql.streaming.checkpointFileManagerClass` unset, starting a
  * consumer sets it to [[LocalCheckpointFileManager]], which writes the
  * offset and commit WAL on local disk without forking a process per
  * file operation (other schemes keep Spark's default manager). The
  * setting stays on the session, so later queries on it use the same
  * manager. To opt out, set that conf yourself before starting the
  * consumer, e.g. to Spark's default,
  * `org.apache.spark.sql.execution.streaming.checkpointing.FileContextBasedCheckpointFileManager`;
  * a value already set is never changed.
  *
  * Session: the handler's Dataset is planned and run in the session the
  * consumer was started from (the stream DataFrame's), not in the clone
  * Spark makes for each streaming query. Executors key their class
  * loader, and with it `CodeGenerator`'s cache of compiled classes, on
  * the session that runs a job. In the clone, which is new for every
  * query (one per `availableNow()` drain), each drain would compile the
  * same generated code again and run it cold in the JIT. Only the
  * handler's plan moves: the batch's scan, offsets and WAL stay the
  * query's. That plan follows the consumer's session's SQL conf, not the
  * clone's snapshot of it; e.g. under [[run]] adaptive execution may
  * coalesce the shard repartition (each shard still stays in one
  * partition, in order), and `QueryExecutionListener`s registered on the
  * consumer's session see the handler's action.
  */
class GraftConsumer(val option: GraftOption) {

  private var sleep: FiniteDuration = 10.seconds // default, kinesis.go:257
  private var saverOpt: Option[SequenceSaver] = None
  private var handlerOpt: Option[KinesisRecord => Unit] = None
  private var policy: ErrorPolicy = ErrorPolicy.SkipAndLog
  private var checkpointLoc: Option[String] = None
  private var onErrorOpt: Option[(KinesisRecord, Throwable) => Unit] = None
  @volatile private var queryOpt: Option[StreamingQuery] = None
  @volatile private var errorsAcc: LongAccumulator = _

  /** ≈ SetSleepLimit (kinesis.go:247-250). */
  def sleepLimit(d: FiniteDuration): this.type = { sleep = d; this }
  /** Backfill mode: drain everything available at start, then stop
    * (Trigger.AvailableNow) — batches still honor the admission cap.
    * Beyond the reference's surface (its loop only tails forever).
    */
  def availableNow(): this.type = { availNow = true; this }
  private var availNow = false
  /** ≈ Handle (kinesis.go:143-145). */
  def handle(h: KinesisRecord => Unit): this.type = { handlerOpt = Some(h); this }
  /** ≈ SetSaver (kinesis.go:242-245). */
  def setSaver(s: SequenceSaver): this.type = { saverOpt = Some(s); this }
  def errorPolicy(p: ErrorPolicy): this.type = { policy = p; this }
  /** Dead-letter hook under SkipAndLog: sees each skipped record and
    * its error (e.g. route to a DLQ sink). Runs on executors — must be
    * serializable; its own failures are swallowed so it cannot block
    * progress (the property SkipAndLog exists to guarantee).
    */
  def onError(f: (KinesisRecord, Throwable) => Unit): this.type = { onErrorOpt = Some(f); this }
  def checkpointLocation(path: String): this.type = { checkpointLoc = Some(path); this }

  /** Handler errors skipped so far (only counts under SkipAndLog) —
    * the observability the reference only gets via its Logger
    * (kinesis.go:195-196).
    */
  def errorCount: Long = Option(errorsAcc).map(_.value.longValue()).getOrElse(0L)

  def query: Option[StreamingQuery] = queryOpt

  /** Build the kinesis-graft streaming source for this consumer's
    * options: streamName AND region/sts all reach the DSv2 client
    * factory (option.go:36-43 feeding NewClient, kinesis.go:45-52 — a
    * [[graft.sources.kinesis.ConfigurableKinesisClient]] receives them
    * via `configure` before first use).
    */
  def source(spark: org.apache.spark.sql.SparkSession,
      extra: Map[String, String] = Map.empty): DataFrame = {
    var r = spark.readStream.format("kinesis-graft")
      .option("streamName", option.streamName)
      .option("region", option.region)
      .option("sts", option.sts.toString)
    extra.foreach { case (k, v) => r = r.option(k, v) }
    r.load()
  }

  /** ≈ Run() with no arguments (kinesis.go:147-154): builds the
    * kinesis-graft source from this consumer's own options and starts
    * consuming — the closest shape to the reference's
    * `NewIteratorWithOpt(opt).Handle(h).Run()` usage (README.md:33-59).
    * `extra` passes source options (clientName/clientClass, saverName,
    * maxRecordsPerFetch).
    *
    * The handler runs directly over the batch's source partitions, with
    * no regroup, because each one is already one shard's slice in
    * order:
    *  - `KinesisMicroBatchStream.planInputPartitions` emits exactly one
    *    partition per shard;
    *  - `KinesisPartitionReader` emits (after, end] in GetRecords order
    *    and stops at `endSequence`;
    *  - a micro-batch DSv2 scan runs one task per input partition.
    * The source's parent-before-child gating still orders a split's
    * records across batches. (Catalyst cannot drop the exchange itself:
    * a streaming DSv2 scan carries no reported partitioning.)
    */
  def start(spark: org.apache.spark.sql.SparkSession,
      extra: Map[String, String] = Map.empty): StreamingQuery =
    consume(source(spark, extra), shardPartitioned = true)

  /** ≈ Run (kinesis.go:147-154): validates the handler (the reference
    * errors with HandlerIsNil, kinesis.go:148-150) and starts the
    * streaming query. Each batch is regrouped by shard and sorted by
    * sequence before the handler sees it.
    */
  def run(stream: DataFrame): StreamingQuery = consume(stream, shardPartitioned = false)

  /** `shardPartitioned`: every partition of each batch already holds one
    * shard's records in sequence order (true only for [[start]]'s own
    * source), so the regroup is skipped.
    */
  private def consume(stream: DataFrame, shardPartitioned: Boolean): StreamingQuery = {
    val h = handlerOpt.getOrElse(
      throw new IllegalStateException("handler is nil")) // kinesis.go:148-150
    val spark = stream.sparkSession
    val acc = spark.sparkContext.longAccumulator("graft.handler.errors")
    errorsAcc = acc
    val pol = policy
    val saver = saverOpt
    val onErr = onErrorOpt
    val streamName = option.streamName

    import spark.implicits._
    val runBatch: DataFrame => Unit = { batch =>
      val ds: Dataset[KinesisRecord] = HomeSession.ofRows(spark, batch)
        .select(KinesisRecord.schema.fieldNames.map(col).toSeq: _*)
        .as[KinesisRecord]
      // Per-shard order (kinesis.go:173-212): unless the source already
      // gives each shard its own ordered partition, hash all of a shard's
      // records into one partition and sort by sequence inside it.
      // Sorting the zero-stripped sequence by (length, value) is numeric
      // order for digit strings padded any way (SequenceOrder), so the
      // last record a partition sees of a shard is its max.
      val ordered =
        if (shardPartitioned) ds
        else {
          val seq = ltrim(col("sequenceNumber"), "0")
          ds.repartition(col("shardId")).sortWithinPartitions(col("shardId"), length(seq), seq)
        }
      val last = ordered
        .mapPartitions { (it: Iterator[KinesisRecord]) =>
          val lastSeq = scala.collection.mutable.HashMap.empty[(String, String), String]
          it.foreach { rec =>
            try h(rec)
            catch {
              case e: Throwable => pol match {
                case ErrorPolicy.SkipAndLog => // kinesis.go:194-197
                  acc.add(1)
                  onErr.foreach(f => try f(rec, e) catch { case _: Throwable => () })
                case ErrorPolicy.Fail => throw e
              }
            }
            lastSeq((rec.streamName, rec.shardId)) = rec.sequenceNumber
          }
          lastSeq.iterator.map { case ((s, sh), seq) => (s, sh, seq) }
        }
        .collect()
      // Batch-granularity checkpoint (kinesis.go:198-201), written only
      // once every partition's handler calls have finished.
      saver.foreach(sv => last.foreach { case (s, sh, seq) => sv.set(s, sh, seq) })
    }
    val writer = stream.writeStream
      .queryName(s"graft-consumer-$streamName")
      .trigger(if (availNow) Trigger.AvailableNow() else Trigger.ProcessingTime(sleep.toMillis))
      .foreachBatch { (batch: DataFrame, _: Long) => runBatch(batch) }
    checkpointLoc.foreach(writer.option("checkpointLocation", _))
    // Session-wide, not scoped to start(): Spark builds the query's
    // offset and commit logs lazily, after start() returns.
    if (spark.conf.getOption(LocalCheckpointFileManager.ConfKey).isEmpty)
      spark.conf.set(LocalCheckpointFileManager.ConfKey, classOf[LocalCheckpointFileManager].getName)
    val q = writer.start()
    queryOpt = Some(q)
    q
  }

  /** ≈ Shutdown(timeout) (kinesis.go:221-236): stop, then wait up to
    * `timeout`. Returns true on clean termination, false if the wait
    * timed out (the reference returns an error in that case).
    */
  def shutdown(timeout: FiniteDuration): Boolean = queryOpt match {
    case None => true
    case Some(q) =>
      q.stop()
      try q.awaitTermination(timeout.toMillis)
      catch { case _: org.apache.spark.sql.streaming.StreamingQueryException => true }
  }
}

object GraftConsumer {
  /** ≈ NewIteratorWithOpt (kinesis.go:252-263). */
  def apply(option: GraftOption): GraftConsumer = new GraftConsumer(option)
}
