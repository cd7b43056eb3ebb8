package graft.streaming

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.concurrent.duration._
import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.spark.{ListenerBusFlush, SparkContext}
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.rdd.RDD
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.execution.{QueryExecution, RDDScanExec, SortExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.datasources.v2.DataSourceRDDPartition
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.execution.streaming.checkpointing.FileContextBasedCheckpointFileManager
import org.apache.spark.sql.util.QueryExecutionListener
import graft.SparkSuite
import graft.sources.kinesis.{GetRecordsResult, KinesisInputPartition, KinesisLikeClient, ShardInfo}

object HandlerSink {
  // Handler closures run in executor threads (local mode: same JVM),
  // but task closures are still SERIALIZED — captured locals become
  // copies. Statics resolve at deserialization, so observations land
  // in the original.
  val seen = new ConcurrentLinkedQueue[(String, String)]() // (shardId, seq)
  val dlq = new ConcurrentLinkedQueue[(String, String)]() // (payload, error)
  val fetched = new AtomicLong() // records returned by getRecords
  val persistedDuringHandler = new AtomicLong() // most persisted RDDs of the stream a handler call saw
  def clear(): Unit = { seen.clear(); dlq.clear(); fetched.set(0); persistedDuringHandler.set(0) }

  /** Persisted RDDs whose lineage reads `stream` through the kinesis-graft
    * source. Suites share one SparkContext, so RDDs other suites cached
    * do not count.
    */
  def persistedReading(stream: String): Int =
    SparkContext.getOrCreate().getPersistentRDDs.values.count(reads(_, stream))

  /** True when `r`'s lineage reads `stream` through the kinesis-graft source. */
  def reads(r: RDD[_], stream: String): Boolean = r.partitions.exists {
    case p: DataSourceRDDPartition => p.inputPartitions.exists {
      case k: KinesisInputPartition => k.streamName == stream
      case _ => false
    }
    case _ => false
  } || r.dependencies.exists(d => reads(d.rdd, stream))
}

/** Counts the records each GetRecords call returns. The client is
  * serialized into the reader factory, so the count lives in a static.
  */
class CountingKinesisClient(inner: KinesisLikeClient) extends KinesisLikeClient {
  def listShards(streamName: String): Seq[ShardInfo] = inner.listShards(streamName)
  def streamStatus(streamName: String): String = inner.streamStatus(streamName)
  def getShardIterator(streamName: String, shardId: String, afterSequence: Option[String]): String =
    inner.getShardIterator(streamName, shardId, afterSequence)
  def getRecords(iterator: String, limit: Int): GetRecordsResult = {
    val res = inner.getRecords(iterator, limit)
    HandlerSink.fetched.addAndGet(res.records.size)
    res
  }
  def putRecord(streamName: String, partitionKey: String, data: Array[Byte]): String =
    inner.putRecord(streamName, partitionKey, data)
  def sequenceAfter(streamName: String, shardId: String, afterSequence: Option[String],
      maxRecords: Int): (Option[String], Boolean) =
    inner.sequenceAfter(streamName, shardId, afterSequence, maxRecords)
}

/** Physical plans of the actions over a foreachBatch batch of `stream`
  * (an RDD scan whose lineage reads the kinesis-graft source), looked
  * into through adaptive plans.
  */
class ScanPlanListener(stream: String) extends QueryExecutionListener with AdaptiveSparkPlanHelper {
  val plans = new ConcurrentLinkedQueue[SparkPlan]()
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
    val plan = qe.executedPlan
    if (collect(plan) { case s: RDDScanExec => s.rdd }.exists(HandlerSink.reads(_, stream)))
      plans.add(plan)
  }
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
  def regroups(plan: SparkPlan): Boolean =
    find(plan)(n => n.isInstanceOf[ShuffleExchangeExec] || n.isInstanceOf[SortExec]).isDefined
}

/** Spark jobs per streaming micro-batch, keyed by "queryId/batchId". */
class BatchJobCounter extends SparkListener {
  val jobs = new java.util.concurrent.ConcurrentHashMap[String, Int]()
  override def onJobStart(e: SparkListenerJobStart): Unit =
    for (p <- Option(e.properties); q <- Option(p.getProperty("sql.streaming.queryId"));
         b <- Option(p.getProperty("streaming.sql.batchId")))
      jobs.merge(s"$q/$b", 1, (a: Int, b: Int) => a + b)
}

/** Spark's default checkpoint file manager, counting atomic creates. */
class CountingCheckpointFileManager(path: Path, conf: Configuration)
  extends FileContextBasedCheckpointFileManager(path, conf) {
  override def createAtomic(p: Path, overwriteIfPossible: Boolean) = {
    CountingCheckpointFileManager.creates.incrementAndGet()
    super.createAtomic(p, overwriteIfPossible)
  }
}
object CountingCheckpointFileManager {
  val creates = new AtomicLong()
}

/** An in-memory saver that records every (shard, sequence) it is set to. */
class RecordingSaver extends InMemorySequenceSaver {
  val sets = new ConcurrentLinkedQueue[(String, String)]()
  override def set(streamName: String, shardId: String, sequence: String): Unit = {
    sets.add((shardId, sequence))
    super.set(streamName, shardId, sequence)
  }
}

class GraftConsumerSpec extends SparkSuite {

  private val SparkDefaultManager = classOf[FileContextBasedCheckpointFileManager].getName

  /** Runs `f` with the session's checkpoint file manager conf set to
    * `cls` (None: unset), then restores what was there.
    */
  private def withCheckpointManager[T](cls: Option[String])(f: => T): T = {
    val key = LocalCheckpointFileManager.ConfKey
    val before = spark.conf.getOption(key)
    cls.fold(spark.conf.unset(key))(spark.conf.set(key, _))
    try f finally before.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }

  /** Drains stream `name` with AvailableNow from checkpoint `ckpt`;
    * returns the checkpoint file manager conf the query ran under.
    */
  private def drainFrom(name: String, ckpt: String): Option[String] = {
    val consumer = GraftConsumer(GraftOption().withStreamName(name))
      .checkpointLocation(ckpt)
      .handle(r => HandlerSink.seen.add((r.shardId, r.sequenceNumber)))
    drained(consumer, name, Map("maxRecordsPerFetch" -> "4"))
    spark.conf.getOption(LocalCheckpointFileManager.ConfKey)
  }

  /** A checkpoint written under manager `first` resumes under `second`:
    * records pushed while the query is down are delivered, and none of
    * the committed ones again.
    */
  private def resumeAcross(name: String, first: Option[String], second: Option[String]): Unit = {
    import graft.sources.kinesis._
    HandlerSink.clear()
    FakeKinesisService.createStream(name, 2)
    KinesisRegistry.clients.put(s"$name-fake", new FakeKinesisClient())
    val shards = Seq("shardId-000000000000", "shardId-000000000001")
    def push(from: Int, to: Int): Seq[(String, String)] = for (i <- from to to; sh <- shards)
      yield sh -> FakeKinesisService.push(name, sh, s"pk$i", s"$sh-$i".getBytes)
    val ckpt = java.nio.file.Files.createTempDirectory("graft-ckpt-mgr").toFile
    val graftManager = classOf[LocalCheckpointFileManager].getName
    val phase1 = push(1, 6)
    val used1 = withCheckpointManager(first)(drainFrom(name, ckpt.toString))
    assert(used1 == first.orElse(Some(graftManager)))
    assert(HandlerSink.seen.asScala.toSet == phase1.toSet)
    val phase2 = push(7, 9)
    val used2 = withCheckpointManager(second)(drainFrom(name, ckpt.toString))
    assert(used2 == second.orElse(Some(graftManager)))
    val seen = HandlerSink.seen.asScala.toList
    assert(seen.size == phase1.size + phase2.size, s"a committed batch was delivered again: $seen")
    assert(seen.toSet == (phase1 ++ phase2).toSet)
    // every WAL file carries its CRC sidecar, whichever manager wrote it
    for (log <- Seq("offsets", "commits"); f <- new java.io.File(ckpt, log).list() if !f.startsWith("."))
      assert(new java.io.File(ckpt, s"$log/.$f.crc").isFile, s"$log/$f has no .crc")
    assert(new java.io.File(ckpt, ".metadata.crc").isFile)
  }

  /** A new FakeKinesisService stream `name` with `shards` shards, read
    * through the client registered as `<name>-fake`.
    */
  private def fakeStream(name: String, shards: Int): Unit = {
    import graft.sources.kinesis._
    FakeKinesisService.createStream(name, shards)
    KinesisRegistry.clients.put(s"$name-fake", new FakeKinesisClient())
  }

  /** Pushes record `n` (`payload-n` under key `pk-n`) to `shard` of
    * stream `name`; returns its sequence.
    */
  private def push(name: String, shard: String, n: Int): String =
    graft.sources.kinesis.FakeKinesisService.push(name, shard, s"pk-$n", s"payload-$n".getBytes("UTF-8"))

  /** Starts `consumer` on stream `name` (with source options `extra`)
    * and waits until its AvailableNow drain ends; fails if the query
    * failed.
    */
  private def drained(consumer: GraftConsumer, name: String,
      extra: Map[String, String] = Map.empty): Unit = {
    val q = consumer.availableNow().start(spark, extra + ("clientName" -> s"$name-fake"))
    try assert(q.awaitTermination(60000))
    finally assert(consumer.shutdown(10.seconds))
    q.exception.foreach(e => throw e)
  }

  private val (shard0, shard1) = ("shardId-000000000000", "shardId-000000000001")

  test("per-shard ordered delivery + batch-granularity checkpoint (kinesis.go:173-212, 198-201)") {
    HandlerSink.clear()
    val name = "gc-order"
    fakeStream(name, 2)
    val ckpt = java.nio.file.Files.createTempDirectory("graft-ckpt-order").toString
    val saver = new InMemorySequenceSaver
    def consumer() = GraftConsumer(GraftOption().withStreamName(name))
      .setSaver(saver)
      .checkpointLocation(ckpt)
      .handle(r => HandlerSink.seen.add((r.shardId, r.sequenceNumber)))

    val pushed = Seq(shard1 -> 1, shard0 -> 2, shard1 -> 3, shard0 -> 4, shard1 -> 5)
      .map { case (sh, n) => sh -> push(name, sh, n) }
    def sent(sh: String): List[String] = pushed.filter(_._1 == sh).map(_._2).toList
    drained(consumer(), name)
    // saver holds each shard's max sequence after the batch
    assert(saver.get(name, shard0).contains(sent(shard0).last))
    assert(saver.get(name, shard1).contains(sent(shard1).last))
    // per-shard order preserved
    val byShard = HandlerSink.seen.asScala.toList.groupBy(_._1)
    assert(byShard(shard0).map(_._2) == sent(shard0))
    assert(byShard(shard1).map(_._2) == sent(shard1))

    // a later batch advances the checkpoint of the shard it delivers
    val next = push(name, shard0, 6)
    drained(consumer(), name)
    assert(saver.get(name, shard0).contains(next))
    assert(saver.get(name, shard1).contains(sent(shard1).last))
  }

  test("skip-and-log error policy: failing record is skipped, checkpoint still advances (kinesis.go:194-201)") {
    HandlerSink.clear()
    val name = "gc-skip"
    fakeStream(name, 1)
    val seqs = (1 to 3).map(push(name, shard0, _))
    val saver = new InMemorySequenceSaver
    val consumer = GraftConsumer(GraftOption().withStreamName(name))
      .setSaver(saver)
      .errorPolicy(ErrorPolicy.SkipAndLog)
      .handle { r =>
        if (new String(r.data, "UTF-8") == "payload-2") sys.error("boom")
        HandlerSink.seen.add((r.shardId, r.sequenceNumber))
      }
    drained(consumer, name)
    assert(consumer.errorCount == 1)
    assert(HandlerSink.seen.asScala.toList.map(_._2) == List(seqs(0), seqs(2))) // 2 skipped, order kept
    // checkpoint advanced past the failing record — reference semantics
    assert(saver.get(name, shard0).contains(seqs(2)))
  }

  test("skip-and-log: a failing LAST record still advances the checkpoint to its sequence") {
    HandlerSink.clear()
    val name = "gc-skip-last"
    fakeStream(name, 1)
    val seqs = (1 to 3).map(push(name, shard0, _))
    val saver = new InMemorySequenceSaver
    val consumer = GraftConsumer(GraftOption().withStreamName(name))
      .setSaver(saver)
      .errorPolicy(ErrorPolicy.SkipAndLog)
      .handle { r =>
        if (new String(r.data, "UTF-8") == "payload-3") sys.error("boom")
        HandlerSink.seen.add((r.shardId, r.sequenceNumber))
      }
    drained(consumer, name)
    assert(consumer.errorCount == 1)
    assert(HandlerSink.seen.asScala.toList.map(_._2) == List(seqs(0), seqs(1)))
    assert(saver.get(name, shard0).contains(seqs(2)))
  }

  test("onError dead-letter hook sees skipped records; its own failures don't block") {
    HandlerSink.clear()
    val name = "gc-dlq"
    fakeStream(name, 1)
    (1 to 3).foreach(push(name, shard0, _))
    val consumer = GraftConsumer(GraftOption().withStreamName(name))
      .errorPolicy(ErrorPolicy.SkipAndLog)
      .onError { (r, e) =>
        HandlerSink.dlq.add((new String(r.data, "UTF-8"), e.getMessage))
        sys.error("dlq also broken") // must be swallowed
      }
      .handle { r =>
        if (new String(r.data, "UTF-8") == "payload-2") sys.error("boom")
        HandlerSink.seen.add((r.shardId, r.sequenceNumber))
      }
    drained(consumer, name)
    assert(consumer.errorCount == 1)
    assert(HandlerSink.dlq.asScala.toList == List(("payload-2", "boom")))
    assert(HandlerSink.seen.size() == 2) // others still processed
  }

  test("fail error policy stops the query (Spark-native default)") {
    val name = "gc-fail"
    fakeStream(name, 1)
    push(name, shard0, 1)
    val saver = new InMemorySequenceSaver
    val consumer = GraftConsumer(GraftOption().withStreamName(name))
      .sleepLimit(100.millis)
      .setSaver(saver)
      .errorPolicy(ErrorPolicy.Fail)
      .handle(_ => sys.error("always boom"))
    val q = consumer.start(spark, Map("clientName" -> s"$name-fake"))
    val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      q.processAllAvailable()
    }
    assert(e.getMessage.contains("boom") || e.cause != null)
    assert(saver.get(name, shard0).isEmpty) // failed batch is not checkpointed
    consumer.shutdown(30.seconds)
  }

  test("start() wires the consumer's own source end-to-end (NewIteratorWithOpt → Handle → Run)") {
    import graft.sources.kinesis._
    HandlerSink.clear()
    FakeKinesisService.createStream("gc-start", 1)
    KinesisRegistry.clients.put("gc-start-fake", new FakeKinesisClient())
    (1 to 3).foreach(i =>
      FakeKinesisService.push("gc-start", "shardId-000000000000", s"pk$i", s"p$i".getBytes))
    val consumer = GraftConsumer(GraftOption().withStreamName("gc-start"))
      .sleepLimit(50.millis)
      .handle(r => HandlerSink.seen.add((r.shardId, r.sequenceNumber)))
    val q = consumer.start(spark, Map("clientName" -> "gc-start-fake"))
    try {
      q.processAllAvailable()
      assert(HandlerSink.seen.asScala.size == 3)
    } finally assert(consumer.shutdown(10.seconds))
  }

  test("the source is read once per batch and nothing is persisted") {
    import graft.sources.kinesis._
    HandlerSink.clear()
    FakeKinesisService.createStream("gc-once", 1)
    KinesisRegistry.clients.put("gc-once-counting", new CountingKinesisClient(new FakeKinesisClient()))
    (1 to 20).foreach(i =>
      FakeKinesisService.push("gc-once", "shardId-000000000000", s"pk$i", s"p$i".getBytes))
    val saver = new InMemorySequenceSaver
    val consumer = GraftConsumer(GraftOption().withStreamName("gc-once"))
      .availableNow()
      .setSaver(saver)
      .handle { r =>
        HandlerSink.persistedDuringHandler.accumulateAndGet(HandlerSink.persistedReading("gc-once"), math.max)
        HandlerSink.seen.add((r.shardId, r.sequenceNumber))
      }
    // A fetch size of 7 splits the 20 records over three batches, and
    // each batch's fetch returns exactly the records it delivers.
    val q = consumer.start(spark, Map("clientName" -> "gc-once-counting", "maxRecordsPerFetch" -> "7"))
    try {
      assert(q.awaitTermination(60000))
      assert(q.recentProgress.count(_.numInputRows > 0) == 3)
      assert(HandlerSink.seen.size == 20)
      assert(HandlerSink.fetched.get == HandlerSink.seen.size, "records fetched != records delivered")
      assert(HandlerSink.persistedDuringHandler.get == 0)
      assert(HandlerSink.persistedReading("gc-once") == 0)
      assert(saver.get("gc-once", "shardId-000000000000").contains(HandlerSink.seen.asScala.last._2))
    } finally assert(consumer.shutdown(10.seconds))
  }

  test("each fetch asks only for the records its batch admits per shard") {
    import graft.sources.kinesis._
    HandlerSink.clear()
    FakeKinesisService.createStream("gc-fetch", 3)
    KinesisRegistry.clients.put("gc-fetch-counting", new CountingKinesisClient(new FakeKinesisClient()))
    for (sh <- 0 until 3; i <- 1 to 5 + sh)
      FakeKinesisService.push("gc-fetch", f"shardId-$sh%012d", s"pk$i", s"p$sh-$i".getBytes)
    val consumer = GraftConsumer(GraftOption().withStreamName("gc-fetch"))
      .availableNow()
      .handle(r => HandlerSink.seen.add((r.shardId, r.sequenceNumber)))
    // A cap of 7 over 3 producing shards admits 2 records per shard.
    val q = consumer.start(spark, Map("clientName" -> "gc-fetch-counting", "maxRecordsPerFetch" -> "7"))
    try {
      assert(q.awaitTermination(60000))
      assert(HandlerSink.seen.size == 18)
      assert(q.recentProgress.filter(_.numInputRows > 0).forall(_.numInputRows <= 7))
      assert(HandlerSink.fetched.get == HandlerSink.seen.size, "records fetched != records delivered")
    } finally assert(consumer.shutdown(10.seconds))
  }

  test("a checkpoint written by Spark's default manager resumes under graft's, and back") {
    resumeAcross("gc-mgr-to-graft", first = Some(SparkDefaultManager), second = None)
    resumeAcross("gc-mgr-to-spark", first = None, second = Some(SparkDefaultManager))
  }

  test("a checkpoint file manager the user set is left unchanged") {
    import graft.sources.kinesis._
    HandlerSink.clear()
    FakeKinesisService.createStream("gc-user-mgr", 1)
    KinesisRegistry.clients.put("gc-user-mgr-fake", new FakeKinesisClient())
    (1 to 3).foreach(i =>
      FakeKinesisService.push("gc-user-mgr", "shardId-000000000000", s"pk$i", s"p$i".getBytes))
    val ckpt = java.nio.file.Files.createTempDirectory("graft-ckpt-user").toString
    val user = classOf[CountingCheckpointFileManager].getName
    val before = CountingCheckpointFileManager.creates.get
    val used = withCheckpointManager(Some(user))(drainFrom("gc-user-mgr", ckpt))
    assert(used.contains(user))
    assert(HandlerSink.seen.size == 3)
    assert(CountingCheckpointFileManager.creates.get > before, "the user's manager wrote no checkpoint file")
  }

  test("start() runs the handler in the source's per-shard tasks: no shuffle, no sort, one job per batch") {
    import graft.sources.kinesis._
    HandlerSink.clear()
    val name = "gc-split"
    FakeKinesisService.createStream(name, 4)
    KinesisRegistry.clients.put("gc-split-fake", new FakeKinesisClient())
    val saver = new RecordingSaver
    KinesisRegistry.savers.put("gc-split-saver", saver)
    val pushed = scala.collection.mutable.LinkedHashMap.empty[String, Vector[String]]
    def push(shard: String, n: Int): Unit = (1 to n).foreach { i =>
      val seq = FakeKinesisService.push(name, shard, s"pk$i", s"$shard-$i".getBytes)
      pushed(shard) = pushed.getOrElse(shard, Vector.empty) :+ seq
    }
    val shards = (0 until 4).map(i => f"shardId-$i%012d")
    shards.foreach(push(_, 8))
    val parent = shards(1)
    val (c1, c2) = FakeKinesisService.splitShard(name, parent)
    (shards.filter(_ != parent) ++ Seq(c1, c2)).foreach(push(_, 6))

    // Registered before start: the query's session clones the listeners.
    val plans = new ScanPlanListener(name)
    spark.listenerManager.register(plans)
    val jobs = new BatchJobCounter
    spark.sparkContext.addSparkListener(jobs)
    val consumer = GraftConsumer(GraftOption().withStreamName(name))
      .availableNow()
      .setSaver(saver)
      .handle(r => HandlerSink.seen.add((r.shardId, r.sequenceNumber)))
    // A cap of 20 admits 5 records per shard: the parent drains over two
    // batches and its children follow in later ones.
    val q = consumer.start(spark, Map("clientName" -> "gc-split-fake",
      "saverName" -> "gc-split-saver", "maxRecordsPerFetch" -> "20"))
    try {
      assert(q.awaitTermination(60000))
      ListenerBusFlush(spark.sparkContext)
      val seen = HandlerSink.seen.asScala.toList
      assert(seen.size == pushed.values.map(_.size).sum)
      assert(seen.distinct.size == seen.size, "a record was delivered twice")
      val byShard = seen.groupBy(_._1)
      for ((s, seqs) <- pushed) assert(byShard(s).map(_._2) == seqs.toList, s"order on $s")
      val parentLast = seen.indexOf((parent, pushed(parent).last))
      for (c <- Seq(c1, c2))
        assert(seen.indexWhere(_._1 == c) > parentLast, s"$c delivered before its parent drained")
      for ((s, seqs) <- pushed if s != parent)
        assert(saver.get(name, s).contains(seqs.last), s"checkpoint on $s")
      assert(saver.get(name, parent).isEmpty, "drained parent keeps a checkpoint")
      val sets = saver.sets.asScala.toList
      assert(sets.distinct.size == sets.size, s"checkpoints written twice: ${sets.diff(sets.distinct)}")

      val dataBatches = q.recentProgress.filter(_.numInputRows > 0).map(_.batchId)
      assert(dataBatches.length > 2)
      assert(plans.plans.size == dataBatches.length)
      plans.plans.asScala.foreach(p => assert(!plans.regroups(p), s"handler plan regroups:\n$p"))
      for (b <- dataBatches) assert(jobs.jobs.get(s"${q.id}/$b") == 1, s"jobs in batch $b")
    } finally {
      spark.listenerManager.unregister(plans)
      spark.sparkContext.removeSparkListener(jobs)
      assert(consumer.shutdown(10.seconds))
    }
  }

  test("start() with setSaver alone resumes from the saver and deletes a drained parent's checkpoint") {
    import graft.sources.kinesis._
    HandlerSink.clear()
    val name = "gc-saver-only"
    FakeKinesisService.createStream(name, 2)
    KinesisRegistry.clients.put(s"$name-fake", new FakeKinesisClient())
    val pushed = scala.collection.mutable.LinkedHashMap.empty[String, Vector[String]]
    def push(shard: String, n: Int): Unit = (1 to n).foreach { i =>
      val seq = FakeKinesisService.push(name, shard, s"pk$i", s"$shard-$i".getBytes)
      pushed(shard) = pushed.getOrElse(shard, Vector.empty) :+ seq
    }
    val (other, parent) = ("shardId-000000000000", "shardId-000000000001")
    Seq(other, parent).foreach(push(_, 5))
    val (c1, c2) = FakeKinesisService.splitShard(name, parent)
    Seq(other, c1, c2).foreach(push(_, 4))
    val saver = new InMemorySequenceSaver
    def drain(): List[(String, String)] = {
      val before = HandlerSink.seen.size
      val consumer = GraftConsumer(GraftOption().withStreamName(name))
        .availableNow()
        .setSaver(saver)
        .checkpointLocation(java.nio.file.Files.createTempDirectory("graft-ckpt-saver").toString)
        .handle(r => HandlerSink.seen.add((r.shardId, r.sequenceNumber)))
      val q = consumer.start(spark, Map("clientName" -> s"$name-fake", "maxRecordsPerFetch" -> "6"))
      try assert(q.awaitTermination(60000))
      finally assert(consumer.shutdown(10.seconds))
      q.exception.foreach(e => throw e)
      HandlerSink.seen.asScala.toList.drop(before)
    }
    val first = drain()
    assert(first.sorted == pushed.toList.flatMap { case (sh, seqs) => seqs.map(sh -> _) }.sorted)
    assert(saver.snapshot == Seq(other, c1, c2).map(sh => (name, sh) -> pushed(sh).last).toMap,
      "the saver must hold each open shard's last sequence and nothing for the drained parent")

    // A new checkpoint location: only the saver tells the second drain where to start.
    val before = pushed.map { case (sh, seqs) => sh -> seqs.size }.toMap
    Seq(other, c1, c2).foreach(push(_, 3))
    val second = drain()
    val fresh = pushed.toList.flatMap { case (sh, seqs) => seqs.drop(before(sh)).map(sh -> _) }
    assert(second.sorted == fresh.sorted, "the second drain delivered more than the new records")
  }

  test("start() accepts a saverName naming its setSaver saver and rejects one naming another") {
    import graft.sources.kinesis._
    HandlerSink.clear()
    val name = "gc-saver-name"
    FakeKinesisService.createStream(name, 1)
    KinesisRegistry.clients.put(s"$name-fake", new FakeKinesisClient())
    val seqs = (1 to 3).map(i =>
      FakeKinesisService.push(name, "shardId-000000000000", s"pk$i", s"p$i".getBytes))
    val (mine, theirs) = (new InMemorySequenceSaver, new InMemorySequenceSaver)
    KinesisRegistry.savers.put(s"$name-mine", mine)
    KinesisRegistry.savers.put(s"$name-theirs", theirs)
    def consumer() = GraftConsumer(GraftOption().withStreamName(name))
      .availableNow()
      .setSaver(mine)
      .handle(r => HandlerSink.seen.add((r.shardId, r.sequenceNumber)))

    val active = spark.streams.active.length
    val e = intercept[IllegalArgumentException] {
      consumer().start(spark, Map("clientName" -> s"$name-fake", "saverName" -> s"$name-theirs"))
    }
    for (part <- Seq(s"$name-theirs", theirs.toString, mine.toString))
      assert(e.getMessage.contains(part), s"'${e.getMessage}' does not name $part")
    assert(spark.streams.active.length == active, "a rejected start left a query running")

    val c = consumer()
    val q = c.start(spark, Map("clientName" -> s"$name-fake", "saverName" -> s"$name-mine"))
    try assert(q.awaitTermination(60000))
    finally assert(c.shutdown(10.seconds))
    q.exception.foreach(e => throw e)
    assert(HandlerSink.seen.size == 3)
    assert(mine.get(name, "shardId-000000000000").contains(seqs.last))
    assert(theirs.snapshot.isEmpty)
  }

  test("start() under ErrorPolicy.Fail: the saver holds the last good batch and nothing of the failed one") {
    import graft.sources.kinesis._
    HandlerSink.clear()
    val name = "gc-saver-fail"
    FakeKinesisService.createStream(name, 2)
    KinesisRegistry.clients.put(s"$name-fake", new FakeKinesisClient())
    val shards = Seq("shardId-000000000000", "shardId-000000000001")
    val seqs = shards.map(sh => sh -> (1 to 4).map(i =>
      FakeKinesisService.push(name, sh, s"pk$i", s"$sh-$i".getBytes))).toMap
    val saver = new RecordingSaver
    val bad = s"${shards.head}-4"
    val consumer = GraftConsumer(GraftOption().withStreamName(name))
      .availableNow()
      .setSaver(saver)
      .errorPolicy(ErrorPolicy.Fail)
      .handle { r =>
        if (new String(r.data, "UTF-8") == bad) sys.error("boom")
        HandlerSink.seen.add((r.shardId, r.sequenceNumber))
      }
    // A cap of 4 over 2 shards admits 2 records per shard: batch 1 holds
    // records 1-2 of each shard, batch 2 records 3-4, and its handler
    // throws on the last record of the first shard.
    val q = consumer.start(spark, Map("clientName" -> s"$name-fake", "maxRecordsPerFetch" -> "4"))
    try {
      intercept[org.apache.spark.sql.streaming.StreamingQueryException](q.awaitTermination(60000))
      assert(q.recentProgress.count(_.numInputRows > 0) == 1, "batch 1 did not complete")
      assert(saver.snapshot == shards.map(sh => (name, sh) -> seqs(sh)(1)).toMap,
        "the saver must hold batch 1's end")
      val sets = saver.sets.asScala.toSet
      for (sh <- shards; seq <- seqs(sh).drop(2))
        assert(!sets.contains((sh, seq)), s"batch 2's $sh/$seq reached the saver")
    } finally consumer.shutdown(10.seconds)
  }

  test("start() removes its saver's registry entry when its query ends, drained or stopped") {
    import graft.sources.kinesis._
    HandlerSink.clear()
    val name = "gc-registry"
    FakeKinesisService.createStream(name, 1)
    KinesisRegistry.clients.put(s"$name-fake", new FakeKinesisClient())
    val shard = "shardId-000000000000"
    val seqs = (1 to 3).map(i => FakeKinesisService.push(name, shard, s"pk$i", s"p$i".getBytes))
    val key = s"graft-consumer-$name"
    def consumer(saver: SequenceSaver) = GraftConsumer(GraftOption().withStreamName(name))
      .setSaver(saver)
      .checkpointLocation(java.nio.file.Files.createTempDirectory("graft-ckpt-registry").toString)
      .handle(r => HandlerSink.seen.add((r.shardId, r.sequenceNumber)))
    val options = Map("clientName" -> s"$name-fake")

    // ends on its own under availableNow()
    val drained = new InMemorySequenceSaver
    val c1 = consumer(drained).availableNow()
    val q1 = c1.start(spark, options)
    try assert(q1.awaitTermination(60000))
    finally assert(c1.shutdown(10.seconds))
    q1.exception.foreach(e => throw e)
    ListenerBusFlush(spark.sparkContext)
    assert(drained.get(name, shard).contains(seqs.last))
    assert(!KinesisRegistry.savers.contains(key), "a drained query left its saver registered")

    // stopped while tailing
    val tailing = new InMemorySequenceSaver
    val c2 = consumer(tailing).sleepLimit(50.millis)
    val q2 = c2.start(spark, options)
    try {
      q2.processAllAvailable()
      assert(KinesisRegistry.savers.get(key).exists(_ eq tailing), "no entry while running")
    } finally assert(c2.shutdown(10.seconds))
    ListenerBusFlush(spark.sparkContext)
    assert(!KinesisRegistry.savers.contains(key), "a stopped query left its saver registered")

    // an entry someone put after the start is not this query's to remove
    val c3 = consumer(new InMemorySequenceSaver).sleepLimit(50.millis)
    val q3 = c3.start(spark, options)
    val newer = new InMemorySequenceSaver
    try {
      q3.processAllAvailable()
      KinesisRegistry.savers.put(key, newer)
    } finally assert(c3.shutdown(10.seconds))
    ListenerBusFlush(spark.sparkContext)
    assert(KinesisRegistry.savers.get(key).exists(_ eq newer), "a newer entry was removed")
    KinesisRegistry.savers.remove(key)
  }

  test("a second drain from the same session compiles no generated class") {
    import graft.sources.kinesis._
    HandlerSink.clear()
    val name = "gc-codegen"
    FakeKinesisService.createStream(name, 2)
    KinesisRegistry.clients.put(s"$name-fake", new FakeKinesisClient())
    for (sh <- Seq("shardId-000000000000", "shardId-000000000001"); i <- 1 to 5)
      FakeKinesisService.push(name, sh, s"pk$i", s"$sh-$i".getBytes)
    // Each drain is a new streaming query, which Spark runs in a new
    // clone of the session; a fresh checkpoint makes each read it all.
    def drain(): Long = {
      val before = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      drainFrom(name, java.nio.file.Files.createTempDirectory("graft-ckpt-codegen").toString)
      CodegenMetrics.METRIC_COMPILATION_TIME.getCount - before
    }
    drain()
    assert(HandlerSink.seen.size == 10)
    val second = drain()
    assert(HandlerSink.seen.size == 20)
    assert(second == 0, s"second drain compiled $second classes")
  }

  test("run without handler fails like HandlerIsNil (kinesis.go:148-150)") {
    import graft.sources.kinesis._
    val name = "gc-nil"
    fakeStream(name, 1)
    val active = spark.streams.active.length
    val consumer = GraftConsumer(GraftOption().withStreamName(name)).setSaver(new InMemorySequenceSaver)
    val e = intercept[IllegalStateException] { consumer.start(spark, Map("clientName" -> s"$name-fake")) }
    assert(e.getMessage == "handler is nil")
    assert(spark.streams.active.length == active, "a start without handler left a query running")
    assert(!KinesisRegistry.savers.contains(s"graft-consumer-$name"),
      "a start without handler left its saver registered")
  }

  test("resume from checkpoint: restart does not re-deliver committed batches") {
    HandlerSink.clear()
    val name = "gc-resume"
    fakeStream(name, 1)
    val ckpt = java.nio.file.Files.createTempDirectory("graft-ckpt").toString
    def consumer(saver: SequenceSaver) = GraftConsumer(GraftOption().withStreamName(name))
      .sleepLimit(100.millis).setSaver(saver).checkpointLocation(ckpt)
      .handle(r => HandlerSink.seen.add((r.shardId, r.sequenceNumber)))

    (1 to 2).foreach(push(name, shard0, _))
    val c1 = consumer(new InMemorySequenceSaver)
    val q1 = c1.start(spark, Map("clientName" -> s"$name-fake"))
    q1.processAllAvailable()
    assert(c1.shutdown(30.seconds))
    assert(c1.shutdown(5.seconds)) // a second shutdown of a stopped consumer
    val afterFirst = HandlerSink.seen.size()
    assert(afterFirst == 2)

    // Same checkpoint + an empty saver, from which the source would
    // replay the shard from TRIM_HORIZON: the WAL must prevent
    // double-delivery of the committed batches.
    val c2 = consumer(new InMemorySequenceSaver)
    val q2 = c2.start(spark, Map("clientName" -> s"$name-fake"))
    q2.processAllAvailable()
    assert(c2.shutdown(30.seconds))
    assert(HandlerSink.seen.size() == afterFirst) // nothing re-delivered
  }
}
