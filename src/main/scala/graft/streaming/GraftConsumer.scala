package graft.streaming

import scala.concurrent.duration._

import org.apache.spark.sql.{DataFrame, HomeSession, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryListener, Trigger}
import org.apache.spark.util.LongAccumulator

import graft.sources.kinesis.KinesisRegistry

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
  * is `Trigger.ProcessingTime(sleepLimit)`. [[start]] reads the
  * consumer's own kinesis-graft source, whose per-shard task IS the
  * reference's goroutine-per-shard loop (kinesis.go:131-139, in-order
  * delivery 173-212): the handler runs inside the scan's tasks, with no
  * shuffle and no sort (see [[start]] for what this relies on). Each
  * micro-batch is one Spark action.
  *
  * The saver ([[setSaver]]) has exactly one writer, the source. It
  * resumes each shard from the saver, writes each shard's last sequence
  * only after the offset WAL has committed a batch (batch-granularity
  * checkpointing, kinesis.go:198-201), and deletes the entries of
  * drained closed shards (sequence.go:51-53). The consumer itself never
  * writes it, so the saver never runs ahead of the WAL. It trails the
  * WAL by at most one trigger: a restart from the saver alone (a new
  * checkpoint location) delivers that last batch again, which keeps
  * delivery at-least-once, like the reference's.
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
  * Session: the handler's Dataset is planned and run in the session
  * passed to [[start]], not in the clone Spark makes for each streaming
  * query. Executors key their class loader, and with it
  * `CodeGenerator`'s cache of compiled classes, on the session that runs
  * a job. In the clone, which is new for every
  * query (one per `availableNow()` drain), each drain would compile the
  * same generated code again and run it cold in the JIT. Only the
  * handler's plan moves: the batch's scan, offsets and WAL stay the
  * query's. That plan follows the consumer's session's SQL conf, not the
  * clone's snapshot of it, and `QueryExecutionListener`s registered on
  * the consumer's session see the handler's action.
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

  /** ≈ Run() (kinesis.go:147-154): validates the handler (the reference
    * errors with HandlerIsNil, kinesis.go:148-150), builds the
    * kinesis-graft source from this consumer's own options and starts
    * consuming — the reference's
    * `NewIteratorWithOpt(opt).Handle(h).Run()` usage (README.md:33-59).
    * streamName AND region/sts all reach the DSv2 client factory
    * (option.go:36-43 feeding NewClient, kinesis.go:45-52 — a
    * [[graft.sources.kinesis.ConfigurableKinesisClient]] receives them
    * via `configure` before first use). `extra` passes source options
    * (clientName/clientClass, saverName, maxRecordsPerFetch).
    *
    * A saver given to [[setSaver]] goes to the source, registered in
    * [[graft.sources.kinesis.KinesisRegistry.savers]] under the query
    * name, `graft-consumer-<streamName>` (each start replaces that
    * entry, and the entry is removed when the query terminates). A
    * `saverName` in `extra` must name that same saver, or start throws
    * IllegalArgumentException; without [[setSaver]] it names the
    * source's saver.
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
  def start(spark: SparkSession, extra: Map[String, String] = Map.empty): StreamingQuery = {
    val h = handlerOpt.getOrElse(
      throw new IllegalStateException("handler is nil")) // kinesis.go:148-150
    val options = saverOpt.fold(extra) { sv =>
      val (named, rest) = extra.partition { case (k, _) => k.equalsIgnoreCase("saverName") }
      for ((_, n) <- named) {
        val other = KinesisRegistry.savers.get(n)
        if (!other.exists(_ eq sv))
          throw new IllegalArgumentException(s"saverName '$n' names " +
            other.fold("no registered saver")(o => s"saver $o") +
            s", not the saver $sv given to setSaver")
      }
      rest + ("saverName" -> queryName)
    }
    val registration = saverOpt.map(new GraftConsumer.SaverRegistration(spark, queryName, _))
    try {
      val acc = spark.sparkContext.longAccumulator("graft.handler.errors")
      errorsAcc = acc
      val pol = policy
      val onErr = onErrorOpt
      import spark.implicits._
      val writer = spark.readStream.format("kinesis-graft")
        .option("streamName", option.streamName)
        .option("region", option.region)
        .option("sts", option.sts.toString)
        .options(options)
        .load().writeStream
        .queryName(queryName)
        .trigger(if (availNow) Trigger.AvailableNow() else Trigger.ProcessingTime(sleep.toMillis))
        .foreachBatch { (batch: DataFrame, _: Long) =>
          // One SQL action per batch, planned in the consumer's own
          // session; it returns no rows.
          HomeSession.ofRows(spark, batch)
            .select(KinesisRecord.schema.fieldNames.map(col).toSeq: _*)
            .as[KinesisRecord]
            .foreachPartition { (it: Iterator[KinesisRecord]) =>
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
              }
            }
        }
      checkpointLoc.foreach(writer.option("checkpointLocation", _))
      // Session-wide, not scoped to start(): Spark builds the query's
      // offset and commit logs lazily, after start() returns.
      if (spark.conf.getOption(LocalCheckpointFileManager.ConfKey).isEmpty)
        spark.conf.set(LocalCheckpointFileManager.ConfKey, classOf[LocalCheckpointFileManager].getName)
      val q = writer.start()
      queryOpt = Some(q)
      q
    } catch { case e: Throwable => registration.foreach(_.release()); throw e }
  }

  private def queryName: String = s"graft-consumer-${option.streamName}"

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

  // The registration that last put each query name's saver. Guarded by
  // its own monitor, together with the puts and removes it orders.
  private val latest = scala.collection.mutable.HashMap.empty[String, SaverRegistration]

  /** [[GraftConsumer.start]]'s entry in
    * [[graft.sources.kinesis.KinesisRegistry.savers]]: put when built,
    * removed when the query named `name` that starts next in `spark`
    * terminates, whether stopped, failed or drained under availableNow.
    * Only the latest registration for a name removes it, and only while
    * the entry is still `saver`, so a newer consumer's entry survives an
    * older query's late termination event.
    */
  private final class SaverRegistration(spark: SparkSession, name: String, saver: SequenceSaver)
      extends StreamingQueryListener {
    @volatile private var runId: java.util.UUID = _
    latest.synchronized { KinesisRegistry.savers.put(name, saver); latest(name) = this }
    spark.streams.addListener(this)

    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit =
      if (runId == null && e.name == name) runId = e.runId
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit =
      if (e.runId == runId) release()

    def release(): Unit = {
      spark.streams.removeListener(this)
      latest.synchronized {
        if (latest.get(name).contains(this)) {
          latest.remove(name)
          KinesisRegistry.savers.remove(name, saver)
        }
      }
    }
  }
}
