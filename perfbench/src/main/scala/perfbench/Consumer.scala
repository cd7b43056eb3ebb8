package perfbench

import java.nio.ByteBuffer
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong
import java.util.zip.CRC32

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

import graft.sources.kinesis._
import graft.streaming.{FileSequenceSaver, GraftConsumer, GraftOption, KinesisRecord, SequenceSaver}

/** Records as the generator made them: partition key, payload and the
  * shard each one is routed to. Payload layout: ordinal (8 bytes), CRC32
  * of the body (4), body (seeded bytes).
  * Keys are Zipf-skewed over 1000 keys and routed by popularity rank
  * (rank mod shards), so shard 0 always runs hot whatever the seed; at
  * `splitAt` the generator splits shard 0, whose keys then move to its
  * two children.
  */
final class Load(val keys: Array[String], val payloads: Array[Array[Byte]],
    val shard: Array[Int], val child: Array[Int], val shards: Int, val splitAt: Int) {
  def size: Int = keys.length
}

object Load {
  val SplitShard = 0

  def apply(seed: Long, n: Int, shards: Int, split: Boolean): Load = {
    val rnd = new java.util.SplittableRandom(seed)
    val nKeys = 1000
    val weights = Array.tabulate(nKeys)(k => 1.0 / math.pow(k + 1, 1.1))
    val cdf = weights.scanLeft(0.0)(_ + _).tail.map(_ / weights.sum)
    val keyNames = Array.tabulate(nKeys)(k => f"pk-$seed%d-$k%04d")
    val keys = new Array[String](n)
    val payloads = new Array[Array[Byte]](n)
    val shard = new Array[Int](n)
    val child = new Array[Int](n)
    var i = 0
    while (i < n) {
      val k = java.util.Arrays.binarySearch(cdf, rnd.nextDouble()) match {
        case j if j >= 0 => j
        case j => math.min(nKeys - 1, -j - 1)
      }
      keys(i) = keyNames(k)
      shard(i) = k % shards
      child(i) = (k / shards) % 2
      val p = new Array[Byte](64 + rnd.nextInt(1024 - 64 + 1))
      val body = new Array[Byte](p.length - 12)
      var b = 0
      while (b < body.length) { body(b) = rnd.nextInt(256).toByte; b += 1 }
      val crc = new CRC32
      crc.update(body)
      ByteBuffer.wrap(p).putLong(i.toLong).putInt(crc.getValue.toInt).put(body)
      payloads(i) = p
      i += 1
    }
    val splitAt = if (split) (n * (0.45 + 0.1 * rnd.nextDouble())).toInt else n
    new Load(keys, payloads, shard, child, shards, splitAt)
  }
}

/** What the handler saw: per (stream, shard) the delivered sequences in
  * delivery order, each with a global delivery ordinal.
  */
object Delivered {
  final class Log {
    private var seqs = new Array[Long](1024)
    private var ords = new Array[Long](1024)
    private var n = 0
    def add(seq: Long, ord: Long): Unit = synchronized {
      if (n == seqs.length) {
        seqs = java.util.Arrays.copyOf(seqs, n * 2)
        ords = java.util.Arrays.copyOf(ords, n * 2)
      }
      seqs(n) = seq; ords(n) = ord; n += 1
    }
    def snapshot: (Array[Long], Array[Long]) =
      synchronized((java.util.Arrays.copyOf(seqs, n), java.util.Arrays.copyOf(ords, n)))
    def size: Int = synchronized(n)
  }
  val logs = new ConcurrentHashMap[String, Log]()
  val ordinal = new AtomicLong()
  val badChecksum = new AtomicLong()

  def add(stream: String, shard: String, seq: Long): Unit =
    logs.computeIfAbsent(s"$stream/$shard", _ => new Log).add(seq, ordinal.incrementAndGet())
  def count(stream: String): Long =
    logs.asScala.collect { case (k, l) if k.startsWith(stream + "/") => l.size.toLong }.sum
  def clear(): Unit = { logs.clear(); badChecksum.set(0) }
}

/** The consumer's user handler: decode the payload header, verify the
  * body checksum, log the delivery. Timed per call when tracing.
  */
object Handler {
  val fn: KinesisRecord => Unit = rec =>
    if (Trace.on) {
      val t0 = System.nanoTime()
      handle(rec)
      Trace.count("handler.calls")
      Trace.count("handler.ns", System.nanoTime() - t0)
    } else handle(rec)

  private def handle(rec: KinesisRecord): Unit = {
    val d = rec.data
    val crc = new CRC32
    crc.update(d, 12, d.length - 12)
    if (crc.getValue.toInt != ByteBuffer.wrap(d).getInt(8)) Delivered.badChecksum.incrementAndGet()
    Delivered.add(rec.streamName, rec.shardId, java.lang.Long.parseLong(rec.sequenceNumber))
  }
}

/** A saver that traces each call. */
final class TracedSaver(underlying: SequenceSaver) extends SequenceSaver {
  override def get(streamName: String, shardId: String): Option[String] =
    underlying.get(streamName, shardId)
  override def set(streamName: String, shardId: String, sequence: String): Unit =
    Trace.span("saver.set")(underlying.set(streamName, shardId, sequence))
  override def del(streamName: String, shardId: String): Unit =
    Trace.span("saver.del")(underlying.del(streamName, shardId))
}

/** Times and counts every client call when tracing. */
final class TracedClient(underlying: KinesisLikeClient) extends KinesisLikeClient {
  override def listShards(streamName: String): Seq[ShardInfo] =
    Trace.span("client.list_shards")(underlying.listShards(streamName))
  override def streamStatus(streamName: String): String =
    Trace.span("client.stream_status")(underlying.streamStatus(streamName))
  override def getShardIterator(streamName: String, shardId: String,
      afterSequence: Option[String]): String =
    Trace.span("client.get_shard_iterator")(
      underlying.getShardIterator(streamName, shardId, afterSequence))
  override def getRecords(iterator: String, limit: Int): GetRecordsResult = {
    val r = Trace.span("client.get_records")(underlying.getRecords(iterator, limit))
    Trace.count("client.get_records.records", r.records.size.toLong)
    r
  }
  override def putRecord(streamName: String, partitionKey: String, data: Array[Byte]): String =
    underlying.putRecord(streamName, partitionKey, data)
  override def sequenceAfter(streamName: String, shardId: String,
      afterSequence: Option[String], maxRecords: Int): (Option[String], Boolean) =
    Trace.span("client.sequence_after")(
      underlying.sequenceAfter(streamName, shardId, afterSequence, maxRecords))
}

/** Every record the generator pushed to one stream, per shard in push
  * order.
  */
final class Pushed {
  val seqs = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Long]]
  var closed = Set.empty[String]
  var n = 0L
  def add(shard: String, seq: Long): Unit = {
    seqs.getOrElseUpdate(shard, mutable.ArrayBuffer.empty) += seq
    n += 1
  }
}

/** Outcome of checking one stream's delivery against what was pushed. */
final case class Check(records: Long, missing: Long, duplicated: Long, outOfOrder: Long,
    extra: Long, badChecksum: Long, childBeforeParent: Long, saverWrong: Long) {
  def failed: Long = missing + duplicated + outOfOrder + extra + badChecksum +
    childBeforeParent + saverWrong
  def +(o: Check): Check = Check(records + o.records, missing + o.missing,
    duplicated + o.duplicated, outOfOrder + o.outOfOrder, extra + o.extra,
    badChecksum + o.badChecksum, childBeforeParent + o.childBeforeParent,
    saverWrong + o.saverWrong)
  def toJson: Json.Raw = Json.obj("records" -> records, "missing" -> missing,
    "duplicated" -> duplicated, "out_of_order" -> outOfOrder, "extra" -> extra,
    "bad_checksum" -> badChecksum, "child_before_parent" -> childBeforeParent,
    "saver_wrong" -> saverWrong)
}
object Check { val zero: Check = Check(0, 0, 0, 0, 0, 0, 0, 0) }

/** The consumer checker. `delivered` maps shard to (sequences in
  * delivery order, delivery ordinals); `saved` is the saver's final
  * entry per shard. Each pushed record must be delivered once, in
  * strictly increasing sequence order within its shard, after every
  * record of its parent shard; the saver must hold each open shard's
  * last sequence and nothing for a drained closed shard.
  */
object Checker {
  def check(pushed: Pushed, delivered: Map[String, (Array[Long], Array[Long])],
      saved: Map[String, Option[Long]], parents: Map[String, String],
      badChecksum: Long): Check = {
    var c = Check.zero.copy(records = pushed.n, badChecksum = badChecksum)
    (pushed.seqs.keySet ++ delivered.keySet).foreach { shard =>
      val want = pushed.seqs.get(shard).map(_.toSet).getOrElse(Set.empty[Long])
      val (got, _) = delivered.getOrElse(shard, (Array.empty[Long], Array.empty[Long]))
      val gotSet = got.toSet
      val disorder = got.indices.drop(1).count(i => got(i) <= got(i - 1))
      c = c.copy(missing = c.missing + (want -- gotSet).size,
        duplicated = c.duplicated + (got.length - gotSet.size),
        extra = c.extra + (gotSet -- want).size,
        outOfOrder = c.outOfOrder + disorder)
    }
    parents.foreach { case (child, parent) =>
      for ((_, pOrd) <- delivered.get(parent) if pOrd.nonEmpty;
           (_, cOrd) <- delivered.get(child)) {
        val parentLast = pOrd.max
        c = c.copy(childBeforeParent = c.childBeforeParent + cOrd.count(_ < parentLast))
      }
    }
    pushed.seqs.foreach { case (shard, seqs) =>
      val expect = if (pushed.closed(shard)) None else seqs.lastOption
      if (saved.getOrElse(shard, None) != expect) c = c.copy(saverWrong = c.saverWrong + 1)
    }
    c
  }

  /** Copies of a correct delivery with one injected fault each. */
  def mutations(d: Map[String, (Array[Long], Array[Long])])
      : Seq[(String, Map[String, (Array[Long], Array[Long])])] = {
    val (shard, (s, o)) = d.maxBy(_._2._1.length)
    val mid = s.length / 2
    def put(seqs: Array[Long], ords: Array[Long]) = d.updated(shard, (seqs, ords))
    Seq(
      "drop" -> put(s.patch(mid, Nil, 1), o.patch(mid, Nil, 1)),
      "dup" -> put(s.patch(mid, Seq(s(mid)), 0), o.patch(mid, Seq(o(mid)), 0)),
      "reorder" -> put(s.updated(mid, s(mid + 1)).updated(mid + 1, s(mid)), o))
  }

  def snapshot(stream: String): Map[String, (Array[Long], Array[Long])] =
    Delivered.logs.asScala.collect {
      case (k, l) if k.startsWith(stream + "/") => k.stripPrefix(stream + "/") -> l.snapshot
    }.toMap
}

/** One consumer drain over one fresh stream. */
final class StreamRun(val name: String, work: java.nio.file.Path, traced: Boolean) {
  val pushed = new Pushed
  val saver = new TracedSaver(new FileSequenceSaver(work.resolve("saver").toString))
  var parents = Map.empty[String, String]
  private val fake = new FakeKinesisClient()
  KinesisRegistry.clients.put(name, if (traced) new TracedClient(fake) else fake)
  KinesisRegistry.savers.put(name, saver)

  def create(shards: Int): Unit = FakeKinesisService.createStream(name, shards)

  def shardId(i: Int): String = f"shardId-$i%012d"

  /** Pushes record `i` of `load`, splitting first if it is the split point. */
  def push(load: Load, i: Int): Unit = {
    if (i == load.splitAt) {
      val parent = shardId(Load.SplitShard)
      val (c1, c2) = FakeKinesisService.splitShard(name, parent)
      parents ++= Map(c1 -> parent, c2 -> parent)
      pushed.closed += parent
    }
    val target =
      if (i >= load.splitAt && load.shard(i) == Load.SplitShard)
        shardId(load.shards + load.child(i))
      else shardId(load.shard(i))
    val seq = FakeKinesisService.push(name, target, load.keys(i), load.payloads(i))
    pushed.add(target, java.lang.Long.parseLong(seq))
  }

  /** The consumer under test, draining what is there (AvailableNow). */
  def consumer(): GraftConsumer =
    GraftConsumer(GraftOption().withStreamName(name))
      .handle(Handler.fn)
      .setSaver(saver)
      .checkpointLocation(work.resolve("checkpoint").toString)
      .availableNow()

  def options(maxFetch: Int): Map[String, String] =
    Map("clientName" -> name, "saverName" -> name, "maxRecordsPerFetch" -> maxFetch.toString)

  def queryName: String = s"graft-consumer-$name"

  def check(inject: Option[String] = None): Check = {
    val d0 = Checker.snapshot(name)
    val d = inject.fold(d0)(k => Checker.mutations(d0).toMap.apply(k))
    val saved = pushed.seqs.keys.map { sh =>
      sh -> saver.get(name, sh).map(java.lang.Long.parseLong)
    }.toMap
    Checker.check(pushed, d, saved, parents, Delivered.badChecksum.get())
  }

  def close(): Unit = {
    KinesisRegistry.clients.remove(name)
    KinesisRegistry.savers.remove(name)
  }
}

/** The consumer workload: repeated drains of a preloaded backlog. */
final class ConsumerBench(args: Args, out: Out) {
  private val BacklogShards = 8
  private val BacklogRecords = 60000
  private val BacklogFetch = 200000
  private val WarmShards = 4
  private val WarmRecords = 8000
  private var runs = 0
  private val progress = new ProgressLog
  private val sched = new SchedulerCounters
  private var check = Check.zero

  private def newRun(traced: Boolean): StreamRun = {
    runs += 1
    val name = f"s${args.seed}%d-r$runs%03d"
    new StreamRun(name, args.work.resolve(name), traced)
  }

  private def session(cores: Int): SparkSession = {
    val spark = Spark.start(cores, args.work)
    spark.streams.addListener(progress)
    spark.sparkContext.addSparkListener(sched)
    spark
  }

  /** One drain: seconds from query start to termination, generator push
    * seconds, and process CPU microseconds per record while draining.
    */
  private final case class Drain(run: StreamRun, secs: Double, pushS: Double, cpuUs: Double)

  /** Pushes `load` as a backlog, drains it with AvailableNow, checks it. */
  private def drain(spark: SparkSession, load: Load, shards: Int, traced: Boolean,
      inject: Option[String] = None): Drain = {
    val run = newRun(traced)
    Trace.label = run.name
    val p0 = System.nanoTime()
    run.create(shards)
    var i = 0
    while (i < load.size) { run.push(load, i); i += 1 }
    val p1 = System.nanoTime()
    val cpu0 = Stats.cpuNanos()
    val t0 = System.nanoTime()
    val q = run.consumer().start(spark, run.options(BacklogFetch))
    if (!q.awaitTermination(150000)) sys.error(s"${run.name}: drain did not finish")
    val t1 = System.nanoTime()
    val cpuUs = (Stats.cpuNanos() - cpu0) / 1e3 / load.size
    q.exception.foreach(e => throw e)
    check = check + run.check(inject)
    Drain(run, (t1 - t0) / 1e9, (p1 - p0) / 1e9, cpuUs)
  }

  /** Releases a finished run; the GC lets Spark's cleaner drop the
    * query's shuffle and broadcast state before the next one starts.
    */
  private def finish(run: StreamRun): Unit = {
    run.close()
    FakeKinesisService.reset()
    Delivered.clear()
    System.gc()
  }

  /** The JVM's first session start plus a small warm drain, timed once
    * (cold, as on the analytics workload). Returns the session and the
    * set-up seconds.
    */
  private def setup(): (SparkSession, Double) = {
    val warm = Load(args.seed ^ 0x5eed, WarmRecords, WarmShards, split = false)
    val t0 = System.nanoTime()
    val spark = session(args.cores)
    val sessionS = (System.nanoTime() - t0) / 1e9
    val d = drain(spark, warm, WarmShards, traced = false)
    finish(d.run)
    out.layer("setup.session_s", sessionS)
    out.layer("setup.warm_s", d.secs)
    (spark, sessionS + d.secs)
  }

  def backlog(): Unit = {
    val (spark, setupS) = setup()
    val load = Load(args.seed, BacklogRecords, BacklogShards, split = true)
    // one untimed drain of the full backlog first: JIT and codegen settle
    finish(drain(spark, load, BacklogShards, traced = false).run)
    val deadline = System.nanoTime() + (args.seconds * 1e9).toLong
    val rps = mutable.ArrayBuffer.empty[(Boolean, Double)]
    val cpu = mutable.ArrayBuffer.empty[Double]
    val lat = mutable.ArrayBuffer.empty[Double]
    val pushS = mutable.ArrayBuffer.empty[Double]
    val tracedRuns = mutable.ArrayBuffer.empty[StreamRun]
    var k = 0
    val minDrains = if (args.trace) 3 else 2
    while (k < minDrains || System.nanoTime() < deadline) {
      // the traced run alternates untraced and traced drains
      val traced = args.trace && k % 2 == 1
      Trace.on = traced
      val d = drain(spark, load, BacklogShards, traced)
      Trace.on = false
      rps += traced -> load.size / d.secs
      pushS += d.pushS
      if (traced) tracedRuns += d.run
      else {
        cpu += d.cpuUs
        lat += d.secs * 1000
      }
      finish(d.run)
      k += 1
    }
    if (args.selftest) selftest(spark, load)
    out.attempted += check.records
    out.failed += check.failed
    out.detail("check", check.toJson)
    out.detail("drain_rps", rps.map(_._2))
    out.e2e(setupS, Stats.median(rps.filterNot(_._1).map(_._2).toSeq), lat.toSeq,
      Stats.median(cpu.toSeq))
    if (args.trace) {
      val traced = rps.filter(_._1).map(_._2).toSeq
      val plain = rps.filterNot(_._1).map(_._2).toSeq
      streamLayers(spark, tracedRuns.toSeq)
      out.layer("gen.push_s", Stats.median(pushS.toSeq))
      out.layer("trace.overhead_frac", Stats.median(plain) / Stats.median(traced) - 1)
      spark.stop()
      // single-core baseline of the same drain
      val one = session(1)
      val d = drain(one, load, BacklogShards, traced = false)
      finish(d.run)
      out.layer("stream.drain_rps_1core", load.size / d.secs)
      one.stop()
    } else spark.stop()
  }

  /** Checker self-test: a real drain must pass, and each injected fault
    * (dropped, duplicated, reordered record) must be counted.
    */
  private def selftest(spark: SparkSession, load: Load): Unit = {
    val before = check
    Seq("none", "drop", "dup", "reorder").foreach { kind =>
      check = Check.zero
      finish(drain(spark, load, BacklogShards, traced = false,
        inject = Some(kind).filter(_ != "none")).run)
      out.detail(s"selftest_$kind", check.toJson)
    }
    check = before
  }

  /** Per-layer metrics of the traced runs: client calls and handler and
    * saver counters from the wrappers, micro-batch phases from progress.
    */
  private def streamLayers(spark: SparkSession, traced: Seq[StreamRun]): Unit = {
    Spark.drainEvents(spark)
    val ps = traced.flatMap(r => progress.of(r.queryName))
    def phase(k: String): Seq[Double] =
      ps.map(p => Option(p.durationMs.get(k)).map(_.doubleValue).getOrElse(0.0))
    val parts = Seq("latestOffset", "getBatch", "queryPlanning", "addBatch", "walCommit", "commitOffsets")
    ps.foreach { p =>
      val start = Stats.epochNanos(p.timestamp)
      val trig = Option(p.durationMs.get("triggerExecution")).map(_.longValue).getOrElse(0L)
      val parent = Trace.record("stream.trigger", start, start + trig * 1000000L, 0L,
        s"${p.name}/batch-${p.batchId}")
      var t = start
      parts.foreach { k =>
        val d = Option(p.durationMs.get(k)).map(_.longValue).getOrElse(0L) * 1000000L
        Trace.record(s"stream.$k", t, t + d, parent, s"${p.name}/batch-${p.batchId}")
        t += d
      }
    }
    val withRows = ps.filter(_.numInputRows > 0)
    val cover = withRows.map { p =>
      val trig = p.durationMs.get("triggerExecution").doubleValue
      parts.map(k => Option(p.durationMs.get(k)).map(_.doubleValue).getOrElse(0.0)).sum / trig
    }
    val jobs = withRows.map(p => sched.jobsByBatch.getOrElse(s"${p.id}/${p.batchId}", 0L).toDouble)
    val s = (k: String) => Trace.counter(k) / 1e9
    val c = (k: String) => Trace.counter(k).toDouble
    out.layer("client.get_records.calls", c("client.get_records.calls"))
    out.layer("client.get_records.s", s("client.get_records.ns"))
    out.layer("client.get_records.records", c("client.get_records.records"))
    out.layer("client.sequence_after.calls", c("client.sequence_after.calls"))
    out.layer("client.sequence_after.s", s("client.sequence_after.ns"))
    out.layer("client.get_shard_iterator.calls", c("client.get_shard_iterator.calls"))
    out.layer("client.list_shards.calls", c("client.list_shards.calls"))
    out.layer("source.records_fetched_per_delivered", c("client.get_records.records") / c("handler.calls"))
    out.layer("stream.latest_offset_ms", phase("latestOffset").sum)
    out.layer("stream.latest_offset_ms_p50", Stats.median(phase("latestOffset")))
    out.layer("stream.get_batch_ms", phase("getBatch").sum)
    out.layer("stream.get_batch_ms_p50", Stats.median(phase("getBatch")))
    out.layer("stream.batches", ps.size.toDouble)
    out.layer("stream.rows_per_batch_p50", Stats.median(withRows.map(_.numInputRows.toDouble)))
    out.layer("stream.add_batch_ms", phase("addBatch").sum)
    out.layer("stream.query_planning_ms", phase("queryPlanning").sum)
    out.layer("stream.wal_commit_ms", phase("walCommit").sum)
    out.layer("stream.commit_offsets_ms", phase("commitOffsets").sum)
    out.layer("stream.trigger_ms", phase("triggerExecution").sum)
    out.layer("stream.trigger_cover_min", if (cover.isEmpty) 0.0 else cover.min)
    out.layer("stream.jobs_per_batch", Stats.median(jobs))
    out.layer("handler.calls", c("handler.calls"))
    out.layer("handler.s", s("handler.ns"))
    out.layer("saver.set.calls", c("saver.set.calls"))
    out.layer("saver.set.s", s("saver.set.ns"))
    out.layer("saver.del.calls", c("saver.del.calls"))
  }
}
