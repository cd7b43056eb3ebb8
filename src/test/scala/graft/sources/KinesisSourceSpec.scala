package graft.sources

import scala.concurrent.duration._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.connector.read.streaming.ReadLimit
import org.apache.spark.sql.streaming.Trigger

import graft.SparkSuite
import graft.sources.kinesis._
import graft.streaming.{GraftConsumer, GraftOption, HandlerSink, InMemorySequenceSaver}

/** Static collector for the WAL-restart test: foreachBatch closures are
  * serialized into tasks, so observations must land in a static.
  */
object WalRestartSink {
  val seen = new java.util.concurrent.ConcurrentLinkedQueue[String]()
}

/** Static state for the crash-mid-batch test: delivered (seq, payload)
  * pairs plus a one-shot crash trigger the injected failure consumes.
  */
object CrashRestartSink {
  val seen = new java.util.concurrent.ConcurrentLinkedQueue[(String, String)]()
  @volatile var crashNext: Boolean = false
  val crashes = new java.util.concurrent.atomic.AtomicInteger(0)
  def reset(): Unit = { seen.clear(); crashNext = false; crashes.set(0) }
}

class KinesisSourceSpec extends SparkSuite {

  private def freshStream(name: String, nShards: Int): Unit = {
    FakeKinesisService.createStream(name, nShards)
    KinesisRegistry.clients.put("fake", new FakeKinesisClient())
  }

  private def readSource(stream: String, extra: Map[String, String] = Map.empty): DataFrame = {
    var r = spark.readStream.format("kinesis-graft")
      .option("streamName", stream)
      .option("clientName", extra.getOrElse("clientName", "fake"))
    (extra - "clientName").foreach { case (k, v) => r = r.option(k, v) }
    r.load()
  }

  /** Spark commits a batch's source offsets while constructing the
    * *next* batch, so saver state lags processAllAvailable by up to one
    * trigger — poll briefly instead of asserting immediately.
    */
  private def eventually(timeoutMs: Long = 5000)(cond: => Boolean): Boolean = {
    val deadline = System.currentTimeMillis() + timeoutMs
    while (System.currentTimeMillis() < deadline) {
      if (cond) return true
      Thread.sleep(50)
    }
    cond
  }

  private def runToMemory(df: DataFrame, queryName: String) = {
    val q = df.writeStream.format("memory").queryName(queryName)
      .trigger(Trigger.ProcessingTime(50)).start()
    q.processAllAvailable()
    q
  }

  test("reads all shards with envelope schema and per-shard sequence order") {
    freshStream("s1", 2)
    (1 to 5).foreach(i => FakeKinesisService.push("s1", "shardId-000000000000", s"pk$i", s"a$i".getBytes))
    (1 to 3).foreach(i => FakeKinesisService.push("s1", "shardId-000000000001", s"pk$i", s"b$i".getBytes))
    val q = runToMemory(readSource("s1"), "t_basic")
    try {
      val rows = spark.sql("SELECT * FROM t_basic").collect()
      assert(rows.length == 8)
      assert(rows.head.schema.fieldNames.toSeq ==
        Seq("data", "partitionKey", "sequenceNumber", "approximateArrivalTimestamp", "streamName", "shardId"))
      val byShard = rows.groupBy(_.getAs[String]("shardId"))
      assert(byShard.keySet == Set("shardId-000000000000", "shardId-000000000001"))
      byShard.values.foreach { rs =>
        val seqs = rs.map(_.getAs[String]("sequenceNumber")).toSeq
        assert(seqs == seqs.sorted, "per-shard order broken")
      }
      assert(rows.forall(_.getAs[String]("streamName") == "s1"))
      val payloads = rows.map(r => new String(r.getAs[Array[Byte]]("data"))).toSet
      assert(payloads == Set("a1", "a2", "a3", "a4", "a5", "b1", "b2", "b3"))
    } finally q.stop()
  }

  test("admission control: maxRecordsPerFetch caps each micro-batch (kinesis.go:182)") {
    freshStream("s2", 1)
    (1 to 10).foreach(i => FakeKinesisService.push("s2", "shardId-000000000000", "pk", s"r$i".getBytes))
    val q = runToMemory(readSource("s2", Map("maxRecordsPerFetch" -> "3")), "t_cap")
    try {
      assert(spark.sql("SELECT count(*) FROM t_cap").head.getLong(0) == 10)
      val batches = q.recentProgress.map(_.numInputRows).filter(_ > 0)
      assert(batches.forall(_ <= 3), s"batch exceeded cap: ${batches.mkString(",")}")
      assert(batches.length >= 4) // 10 rows at <=3/batch
    } finally q.stop()
  }

  test("resume from saver: AFTER_SEQUENCE_NUMBER start (sequence.go:74-89)") {
    freshStream("s3", 1)
    val seqs = (1 to 6).map(i =>
      FakeKinesisService.push("s3", "shardId-000000000000", "pk", s"r$i".getBytes))
    val saver = new InMemorySequenceSaver
    saver.set("s3", "shardId-000000000000", seqs(3)) // consumed through r4
    KinesisRegistry.savers.put("sv3", saver)
    val q = runToMemory(readSource("s3", Map("saverName" -> "sv3")), "t_resume")
    try {
      val got = spark.sql("SELECT data FROM t_resume").collect()
        .map(r => new String(r.getAs[Array[Byte]](0))).toSet
      assert(got == Set("r5", "r6"), s"expected only post-checkpoint records, got $got")
      // commit advanced the saver to the last consumed sequence (O5)
      assert(eventually()(saver.get("s3", "shardId-000000000000").contains(seqs.last)))
    } finally q.stop()
  }

  test("no saver: fresh start reads TRIM_HORIZON (sequence.go:27-29)") {
    freshStream("s4", 1)
    (1 to 3).foreach(i => FakeKinesisService.push("s4", "shardId-000000000000", "pk", s"r$i".getBytes))
    val q = runToMemory(readSource("s4"), "t_trim")
    try assert(spark.sql("SELECT count(*) FROM t_trim").head.getLong(0) == 3)
    finally q.stop()
  }

  test("reshard: parent drains first, checkpoint deleted, children then read (kinesis.go:203-210, O8/O9)") {
    freshStream("s5", 1)
    (1 to 4).foreach(i => FakeKinesisService.push("s5", "shardId-000000000000", "pk", s"p$i".getBytes))
    val saver = new InMemorySequenceSaver
    KinesisRegistry.savers.put("sv5", saver)
    val q = runToMemory(readSource("s5", Map("saverName" -> "sv5")), "t_reshard")
    try {
      assert(spark.sql("SELECT count(*) FROM t_reshard").head.getLong(0) == 4)
      // reshard mid-stream
      val (c1, c2) = FakeKinesisService.splitShard("s5", "shardId-000000000000")
      FakeKinesisService.push("s5", c1, "pk", "x1".getBytes)
      FakeKinesisService.push("s5", c2, "pk", "y1".getBytes)
      FakeKinesisService.push("s5", c1, "pk", "x2".getBytes)
      q.processAllAvailable()
      // run one more planning cycle so the drained parent is dropped
      q.processAllAvailable()
      val got = spark.sql("SELECT data FROM t_reshard").collect()
        .map(r => new String(r.getAs[Array[Byte]](0))).toSet
      assert(got == Set("p1", "p2", "p3", "p4", "x1", "x2", "y1"))
      // O8: closed+drained parent's checkpoint deleted; children tracked
      assert(eventually()(saver.get("s5", "shardId-000000000000").isEmpty),
        "parent checkpoint should be deleted after drain")
      assert(eventually()(saver.get("s5", c1).isDefined))
      assert(eventually()(saver.get("s5", c2).isDefined))
    } finally q.stop()
  }

  test("children never enter a batch before the parent's final records are committed") {
    freshStream("s7", 1)
    val pSeqs = (1 to 6).map(i =>
      FakeKinesisService.push("s7", "shardId-000000000000", "pk", s"p$i".getBytes))
    val (c1, c2) = FakeKinesisService.splitShard("s7", "shardId-000000000000")
    FakeKinesisService.push("s7", c1, "pk", "x1".getBytes)
    FakeKinesisService.push("s7", c2, "pk", "y1".getBytes)
    // parent needs 3 batches at 2 records each — children must wait
    val q = runToMemory(readSource("s7", Map("maxRecordsPerFetch" -> "2")), "t_gate")
    try {
      val got = spark.sql("SELECT data FROM t_gate").collect()
        .map(r => new String(r.getAs[Array[Byte]](0))).toSet
      assert(got == Set("p1", "p2", "p3", "p4", "p5", "p6", "x1", "y1"))
      val offsets = q.recentProgress.toSeq
        .flatMap(p => Option(p.sources.head.endOffset))
        .distinct.map(KinesisOffset.fromJson)
      // every offset that admits a child has the parent at its final
      // sequence — i.e. the parent's tail was planned in an EARLIER batch
      offsets.foreach { o =>
        val hasChild = o.positions.contains(c1) || o.positions.contains(c2)
        if (hasChild)
          assert(o.positions.get("shardId-000000000000").contains(pSeqs.last),
            s"child admitted before parent drained: ${o.positions}")
      }
      assert(offsets.exists(o => !o.positions.contains(c1) &&
        o.positions.get("shardId-000000000000").contains(pSeqs.last)),
        "expected an intermediate batch that drains the parent without children")
    } finally q.stop()
  }

  test("merge reshard: the child waits for BOTH parents (AWS MergeShards adjacent-parent gating)") {
    freshStream("s8", 2)
    val sh0 = "shardId-000000000000"
    val sh1 = "shardId-000000000001"
    val aSeqs = (1 to 2).map(i => FakeKinesisService.push("s8", sh0, "pk", s"a$i".getBytes))
    val bSeqs = (1 to 6).map(i => FakeKinesisService.push("s8", sh1, "pk", s"b$i".getBytes))
    // merge BEFORE the query starts: child lists sh0 as parent and sh1
    // as adjacent parent; at 2 records/shard/batch sh0 drains in one
    // batch, sh1 needs three — the child must wait for the SLOWER one
    val child = FakeKinesisService.mergeShards("s8", sh0, sh1)
    FakeKinesisService.push("s8", child, "pk", "m1".getBytes)
    FakeKinesisService.push("s8", child, "pk", "m2".getBytes)
    val q = runToMemory(readSource("s8", Map("maxRecordsPerFetch" -> "2")), "t_merge")
    try {
      val got = spark.sql("SELECT data FROM t_merge").collect()
        .map(r => new String(r.getAs[Array[Byte]](0)))
      assert(got.length == got.toSet.size, "duplicate delivery")
      assert(got.toSet == Set("a1", "a2", "b1", "b2", "b3", "b4", "b5", "b6", "m1", "m2"))
      val offsets = q.recentProgress.toSeq
        .flatMap(p => Option(p.sources.head.endOffset))
        .distinct.map(KinesisOffset.fromJson)
      // any offset admitting the child has BOTH parents at their final
      // sequences (committed in an earlier batch)
      offsets.filter(_.positions.contains(child)).foreach { o =>
        assert(o.positions.get(sh0).contains(aSeqs.last) &&
          o.positions.get(sh1).contains(bSeqs.last),
          s"merge child admitted before both parents drained: ${o.positions}")
      }
      // and the gate actually HELD on the adjacent parent: some batch
      // has the fast parent drained while the child is still absent
      assert(offsets.exists(o => o.positions.get(sh0).contains(aSeqs.last) &&
        !o.positions.contains(child)),
        "expected a batch with the fast parent drained and the child still gated")
    } finally q.stop()
  }

  test("reshard storm: seeded-random splits AND merges mid-stream deliver exactly-once, in order") {
    for (seed <- Seq(101, 202)) {
      val stream = s"storm$seed"
      val rnd = new scala.util.Random(seed)
      freshStream(stream, 2)
      val probe = new FakeKinesisClient()
      def openShards: Seq[String] =
        probe.listShards(stream).filterNot(_.closed).map(_.shardId)
      var n = 0
      var expected = Set.empty[String]
      def pushSome(k: Int): Unit = {
        val open = openShards
        (1 to k).foreach { _ =>
          n += 1; val pay = s"r$n"
          FakeKinesisService.push(stream, open(rnd.nextInt(open.size)),
            s"pk${rnd.nextInt(5)}", pay.getBytes)
          expected += pay
        }
      }
      pushSome(8)
      val q = runToMemory(
        readSource(stream, Map("maxRecordsPerFetch" -> "3")), s"t_$stream")
      try {
        for (_ <- 1 to 6) {
          q.processAllAvailable()
          val open = openShards
          val roll = rnd.nextInt(10)
          if (roll < 5 && open.nonEmpty)
            FakeKinesisService.splitShard(stream, open(rnd.nextInt(open.size)))
          else if (roll < 8 && open.size >= 2) {
            val Seq(a, b) = rnd.shuffle(open).take(2)
            FakeKinesisService.mergeShards(stream, a, b)
          }
          pushSome(3 + rnd.nextInt(10))
          q.processAllAvailable()
        }
        // drain: gated children admit one planning cycle after their
        // parents' drain commits, so give the trigger a few cycles
        assert(eventually(15000) {
          q.processAllAvailable()
          spark.sql(s"SELECT count(*) FROM t_$stream").head.getLong(0) == expected.size
        }, s"seed $seed: not all records delivered " +
          s"(${spark.sql(s"SELECT count(*) FROM t_$stream").head.getLong(0)} of ${expected.size})")
        val rows = spark.sql(s"SELECT data, shardId, sequenceNumber FROM t_$stream").collect()
        val payloads = rows.map(r => new String(r.getAs[Array[Byte]]("data")))
        assert(payloads.length == payloads.toSet.size, s"seed $seed: duplicate delivery")
        assert(payloads.toSet == expected, s"seed $seed: payload set mismatch")
        rows.groupBy(_.getAs[String]("shardId")).values.foreach { rs =>
          val seqs = rs.map(_.getAs[String]("sequenceNumber")).toSeq
          assert(seqs == seqs.sorted, s"seed $seed: per-shard order broken")
        }
      } finally q.stop()
    }
  }

  test("DSv2 source metrics surface planner state in query progress (O13)") {
    freshStream("s9", 2)
    (1 to 6).foreach(i => FakeKinesisService.push("s9",
      f"shardId-${i % 2}%012d", "pk", s"r$i".getBytes))
    val q = runToMemory(readSource("s9"), "t_metrics")
    try {
      q.processAllAvailable()
      val m = q.lastProgress.sources.head.metrics
      assert(m.get("streamStatus") == "ACTIVE", s"metrics: $m")
      assert(m.get("numShards") == "2" && m.get("numClosedShards") == "0")
      assert(m.containsKey("numProducingShards") && m.containsKey("admittedPerShard"))
      // a reshard is visible in the next batch's planner metrics,
      // including the gated merge/split children
      FakeKinesisService.splitShard("s9", "shardId-000000000000")
      q.processAllAvailable()
      Thread.sleep(150)
      q.processAllAvailable()
      val m2 = q.lastProgress.sources.head.metrics
      assert(m2.get("numShards") == "4" && m2.get("numClosedShards") == "1",
        s"post-reshard metrics: $m2")
    } finally q.stop()
  }

  test("iterator expiry is survived without loss or duplication (kinesis.go:184-191, O11)") {
    FakeKinesisService.createStream("s6", 1)
    KinesisRegistry.clients.put("flaky", new FakeKinesisClient(expireEvery = 3))
    (1 to 20).foreach(i => FakeKinesisService.push("s6", "shardId-000000000000", "pk", s"r$i".getBytes))
    val q = runToMemory(
      readSource("s6", Map("clientName" -> "flaky", "maxRecordsPerFetch" -> "4")), "t_expiry")
    try {
      val got = spark.sql("SELECT data FROM t_expiry").collect()
        .map(r => new String(r.getAs[Array[Byte]](0)))
      assert(got.length == 20, s"expected 20 records exactly once, got ${got.length}")
      assert(got.toSet == (1 to 20).map(i => s"r$i").toSet)
    } finally q.stop()
  }

  test("Trigger.AvailableNow drains the captured tail under the admission cap, then terminates") {
    freshStream("s11", 1)
    (1 to 10).foreach(i => FakeKinesisService.push("s11", "shardId-000000000000", "pk", s"r$i".getBytes))
    val q = readSource("s11", Map("maxRecordsPerFetch" -> "3"))
      .writeStream.format("memory").queryName("t_avnow")
      .trigger(Trigger.AvailableNow()).start()
    assert(q.awaitTermination(30000), "AvailableNow query did not self-terminate")
    assert(spark.sql("SELECT count(*) FROM t_avnow").head.getLong(0) == 10)
    val batches = q.recentProgress.map(_.numInputRows).filter(_ > 0)
    assert(batches.forall(_ <= 3), s"backfill batch exceeded cap: ${batches.mkString(",")}")
    assert(batches.length >= 4) // 10 rows at <=3/batch: cap respected across batches
  }

  test("crash mid-batch (offset WAL written, commit not): restart replays the SAME batch — at-least-once, no sequence gap, saver tracks only committed batches") {
    // The §2.1 replay contract under an UNCLEAN stop: the sink dies
    // after the batch's end offset reaches the offset WAL but before
    // commit. Restart must re-run that exact batch (duplicates allowed
    // — at-least-once, like the reference's restart-from-saved-sequence
    // replay), never skip it, and the user-visible saver must only ever
    // hold WAL-COMMITTED positions — the crashed batch must not leak
    // into it.
    freshStream("s13", 1)
    val shard = "shardId-000000000000"
    val saver = new InMemorySequenceSaver
    KinesisRegistry.savers.put("sv13", saver)
    val ckpt = java.nio.file.Files.createTempDirectory("kinesis-crash").toString
    CrashRestartSink.reset()
    def startQuery() =
      readSource("s13", Map("saverName" -> "sv13")).writeStream
        .option("checkpointLocation", ckpt)
        .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
          val rows = batch.select("sequenceNumber", "data").collect()
            .map(r => (r.getString(0), new String(r.getAs[Array[Byte]](1))))
          if (CrashRestartSink.crashNext && rows.nonEmpty) {
            // partial delivery, then die between plan and commit
            CrashRestartSink.seen.add(rows.head)
            CrashRestartSink.crashNext = false
            CrashRestartSink.crashes.incrementAndGet()
            throw new RuntimeException("injected sink crash before commit")
          }
          rows.foreach(CrashRestartSink.seen.add)
        }
        .trigger(Trigger.ProcessingTime(50)).start()

    // phase 1: two records land cleanly (committed batch)
    val seqs12 = (1 to 2).map(i =>
      FakeKinesisService.push("s13", shard, "pk", s"c$i".getBytes))
    val q1 = startQuery()
    try q1.processAllAvailable() finally q1.stop()
    assert(eventually()(saver.get("s13", shard).contains(seqs12.last)))

    // phase 2: two more records; the sink crashes mid-batch
    val seqs34 = (3 to 4).map(i =>
      FakeKinesisService.push("s13", shard, "pk", s"c$i".getBytes))
    CrashRestartSink.crashNext = true
    val q2 = startQuery()
    val died = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      q2.processAllAvailable(); q2.awaitTermination(10000); ()
    }
    assert(died.getMessage.contains("injected sink crash") ||
      Option(died.getCause).exists(_.getMessage.contains("injected sink crash")))
    assert(CrashRestartSink.crashes.get() == 1)
    // the crashed (planned-but-uncommitted) batch must NOT have advanced
    // the user-visible saver: it still holds the last COMMITTED position
    assert(saver.get("s13", shard).contains(seqs12.last),
      s"saver leaked an uncommitted batch: ${saver.get("s13", shard)}")

    // phase 3: restart from the same checkpoint + saver — Spark finds
    // the uncommitted batch in the offset log and re-executes it with
    // the SAME end offsets, then the saver catches up
    val q3 = startQuery()
    try {
      q3.processAllAvailable()
      assert(eventually()(saver.get("s13", shard).contains(seqs34.last)))
    } finally q3.stop()

    import scala.jdk.CollectionConverters._
    val delivered = CrashRestartSink.seen.asScala.toSeq
    val bySeq = delivered.groupBy(_._1)
    // no gap: every pushed sequence delivered at least once, in-order
    assert(bySeq.keySet == (seqs12 ++ seqs34).toSet,
      s"sequence gap or phantom: ${bySeq.keySet}")
    // at-least-once, not exactly-once: the partial pre-crash delivery
    // plus the replay means ≥ one sequence delivered twice…
    assert(delivered.size > 4, s"replay did not re-deliver: $delivered")
    // …but ONLY sequences of the crashed batch — the committed phase-1
    // batch is never replayed
    seqs12.foreach(s => assert(bySeq(s).size == 1,
      s"committed batch was replayed: $s delivered ${bySeq(s).size}x"))
    // payloads consistent per sequence across replays
    bySeq.foreach { case (s, rs) =>
      assert(rs.map(_._2).distinct.size == 1, s"inconsistent replay for $s")
    }
  }

  test("WAL restart: query resumes from checkpointed offsets via deserializeOffset") {
    freshStream("s10", 2)
    (1 to 3).foreach(i => FakeKinesisService.push("s10", "shardId-000000000000", "pk", s"a$i".getBytes))
    FakeKinesisService.push("s10", "shardId-000000000001", "pk", "b1".getBytes)
    val ckpt = java.nio.file.Files.createTempDirectory("kinesis-wal").toString
    WalRestartSink.seen.clear()
    // memory sink can't recover from a checkpoint — use foreachBatch,
    // which is recovery-capable, collecting into a static buffer
    def startQuery() =
      readSource("s10").writeStream
        .option("checkpointLocation", ckpt)
        .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
          batch.select("data").collect()
            .foreach(r => WalRestartSink.seen.add(new String(r.getAs[Array[Byte]](0))))
        }
        .trigger(Trigger.ProcessingTime(50)).start()
    val q1 = startQuery()
    try { q1.processAllAvailable() } finally q1.stop()
    assert(WalRestartSink.seen.size == 4)
    WalRestartSink.seen.clear()
    // new records while the query is DOWN; note shard-001 still at an
    // empty position is exactly the shape the old offset parser crashed on
    FakeKinesisService.push("s10", "shardId-000000000000", "pk", "a4".getBytes)
    FakeKinesisService.push("s10", "shardId-000000000001", "pk", "b2".getBytes)
    // restart from the same WAL: recovery parses the checkpointed
    // offsets (deserializeOffset) and must deliver ONLY the new records
    val q2 = startQuery()
    try {
      q2.processAllAvailable()
      val got = scala.jdk.CollectionConverters.CollectionHasAsScala(WalRestartSink.seen).asScala.toSet
      assert(got == Set("a4", "b2"), s"restart re-delivered or lost records: $got")
    } finally q2.stop()
  }

  test("offset json round-trips") {
    val o = KinesisOffset(Map("shardId-000000000000" -> f"${7}%021d", "shardId-000000000001" -> ""))
    assert(KinesisOffset.fromJson(o.json()) == o)
    assert(KinesisOffset.fromJson(KinesisOffset(Map.empty).json()) == KinesisOffset(Map.empty))
  }

  test("offset json round-trips with empty positions at every key position") {
    // "" = TRIM_HORIZON is routine for multi-shard streams (shards with
    // no data yet); checkpoint recovery must parse it wherever it falls
    // in sorted key order — including before non-empty entries.
    val shards = (0 to 3).map(i => f"shardId-$i%012d")
    for (emptySubset <- shards.toSet.subsets()) {
      val m = shards.map(s => s -> (if (emptySubset(s)) "" else f"${s.hashCode.abs}%021d")).toMap
      val o = KinesisOffset(m)
      assert(KinesisOffset.fromJson(o.json()) == o, s"failed for empty=$emptySubset json=${o.json()}")
    }
    // escapes survive too
    val weird = KinesisOffset(Map("sh\"ard\\1" -> "", "shard2" -> "42"))
    assert(KinesisOffset.fromJson(weird.json()) == weird)
  }

  test("sequence order is numeric across inconsistent zero padding") {
    assert(SequenceOrder.leq("0099", "100"))
    assert(!SequenceOrder.leq("100", "0099"))
    assert(SequenceOrder.leq("100", "100"))
    assert(SequenceOrder.leq("000", "0"))
    assert(SequenceOrder.leq("0", "000"))
    assert(SequenceOrder.leq("007", "7"))
    assert(SequenceOrder.leq("7", "0007"))
    assert(!SequenceOrder.leq("10", "0009"))
  }

  test("the empty TRIM_HORIZON sentinel is strictly below every real sequence") {
    assert(SequenceOrder.leq("", "0"))
    assert(!SequenceOrder.leq("0", ""))   // "" must NOT equal a real "0"
    assert(SequenceOrder.leq("", "000"))
    assert(!SequenceOrder.leq("000", ""))
    assert(SequenceOrder.leq("", ""))
  }

  test("the fake client's sequence lookups match a linear scan of the shard") {
    val name = "fake-lookup"
    FakeKinesisService.createStream(name, 3)
    val shards = (0 until 3).map(i => f"shardId-$i%012d")
    // One counter per stream: every third push goes to shard 1, so each
    // shard's sequences have gaps; shard 2 stays empty.
    val pushed = (1 to 12).map { i =>
      val sh = if (i % 3 == 0) shards(1) else shards(0)
      sh -> FakeKinesisService.push(name, sh, s"pk$i", Array.emptyByteArray)
    }.groupMap(_._1)(_._2).withDefaultValue(IndexedSeq.empty)
    FakeKinesisService.splitShard(name, shards(0))
    val client = new FakeKinesisClient()
    // Before the first record ("0"), every exact sequence, the absent
    // ones between a shard's records, one past the last (13), and each
    // as an unpadded and an over-padded form.
    val probes = "0" +: (1 to 13).flatMap(n => Seq(f"$n%021d", n.toString, f"$n%030d"))
    for (sh <- shards) {
      val seqs = pushed(sh)
      def linear(after: String): Int = seqs.indexWhere(s => !SequenceOrder.leq(s, after)) match {
        case -1 => seqs.length
        case i => i
      }
      def index(after: Option[String]): Int = client.getShardIterator(name, sh, after).split('|')(2).toInt
      assert(index(None) == 0)
      assert(client.sequenceAfter(name, sh, None, 2) == (seqs.take(2).lastOption, sh == shards(0)))
      for (p <- probes) {
        val from = linear(p)
        assert(index(Some(p)) == from, s"getShardIterator($sh, $p)")
        for (max <- Seq(1, 2, 100)) {
          val until = math.min(from + max, seqs.length)
          val want = (if (until > from) Some(seqs(until - 1)) else Some(p), sh == shards(0))
          assert(client.sequenceAfter(name, sh, Some(p), max) == want, s"sequenceAfter($sh, $p, $max)")
        }
      }
    }
  }

  test("a put after a split lands in an open child, never in the closed parent") {
    val name = "fake-put-split"
    FakeKinesisService.createStream(name, 1)
    val parent = "shardId-000000000000"
    val (c1, c2) = FakeKinesisService.splitShard(name, parent)
    val client = new FakeKinesisClient()
    val seqs = (1 to 8).map(i => client.putRecord(name, s"k$i", s"r$i".getBytes))
    def held(shard: String): Seq[String] =
      client.getRecords(client.getShardIterator(name, shard, None), 100).records.map(_.sequenceNumber)
    assert(held(parent).isEmpty)
    assert((held(c1) ++ held(c2)).sorted == seqs.sorted)
  }

  test("region/sts options reach the client factory (option.go:36-43 → kinesis.go:45-52)") {
    class ConfigurableFake extends FakeKinesisClient with ConfigurableKinesisClient {
      @volatile var received: Map[String, String] = Map.empty
      override def configure(options: Map[String, String]): Unit = received = options
    }
    FakeKinesisService.createStream("s9", 1)
    val cfgClient = new ConfigurableFake
    KinesisRegistry.clients.put("cfg", cfgClient)
    FakeKinesisService.push("s9", "shardId-000000000000", "pk", "r1".getBytes)
    // GraftOption → GraftConsumer.start → DSv2 options → configure()
    HandlerSink.clear()
    val consumer = GraftConsumer(GraftOption().withStreamName("s9")
        .withRegion("eu-west-1").withSts(true))
      .availableNow()
      .handle(r => HandlerSink.seen.add((r.shardId, r.sequenceNumber)))
    val q = consumer.start(spark, Map("clientName" -> "cfg"))
    try {
      assert(q.awaitTermination(60000))
      assert(HandlerSink.seen.size == 1)
      assert(cfgClient.received.get("region").contains("eu-west-1"),
        s"region did not reach the client: ${cfgClient.received}")
      assert(cfgClient.received.get("sts").contains("true"),
        s"sts did not reach the client: ${cfgClient.received}")
      assert(cfgClient.received.get("streamname").contains("s9"))
    } finally assert(consumer.shutdown(10.seconds))
  }

  test("volume: 1e5 records across staged reshards under admission control " +
      "(exactly-once, caps, offset monotonicity, one commit per advance)") {
    // The e2e scale check the small fixtures can't give: ~100k records,
    // TWO staged reshards (parent split mid-run, then a child split),
    // admission cap well below the backlog. Asserts the envelope the
    // reference promises at any volume: every record exactly once, no
    // batch over the cap, per-shard offsets never regress across
    // batches, and the saver sees exactly one write per (batch, shard)
    // ADVANCE (syncSaver dedupe) with drained parents deleted (O5/O8).
    class CountingSaver extends InMemorySequenceSaver {
      val sets = new java.util.concurrent.atomic.AtomicInteger
      val dels = new java.util.concurrent.atomic.AtomicInteger
      override def set(stream: String, shardId: String, seq: String): Unit = {
        sets.incrementAndGet(); super.set(stream, shardId, seq)
      }
      override def del(stream: String, shardId: String): Unit = {
        dels.incrementAndGet(); super.del(stream, shardId)
      }
    }
    freshStream("sv", 3)
    val saver = new CountingSaver
    KinesisRegistry.savers.put("svv", saver)
    val Seq(sh0, sh1, sh2) =
      (0 to 2).map(i => f"shardId-$i%012d")
    val pushed = scala.collection.mutable.Map.empty[String, Vector[String]]
      .withDefaultValue(Vector.empty)
    def push(shard: String, n: Int, tag: String): Unit =
      (1 to n).foreach { i =>
        pushed(shard) :+= FakeKinesisService.push("sv", shard, "pk", s"$tag$i".getBytes)
      }
    val cap = 4000
    push(sh0, 20000, "a"); push(sh1, 15000, "b"); push(sh2, 15000, "c")
    val q = runToMemory(
      readSource("sv", Map("saverName" -> "svv", "maxRecordsPerFetch" -> cap.toString)),
      "t_volume")
    try {
      // stage B: split shard 0, keep pushing to children AND a survivor
      val (c1, c2) = FakeKinesisService.splitShard("sv", sh0)
      push(c1, 10000, "d"); push(c2, 10000, "e"); push(sh1, 10000, "f")
      q.processAllAvailable(); q.processAllAvailable()
      // stage C: split a CHILD (second-generation reshard)
      val (d1, d2) = FakeKinesisService.splitShard("sv", c1)
      push(d1, 10000, "g"); push(sh2, 10000, "h")
      q.processAllAvailable(); q.processAllAvailable()

      val rows = spark.sql("SELECT shardId, sequenceNumber FROM t_volume").collect()
        .map(r => (r.getString(0), r.getString(1)))
      // exactly once, all 100k
      assert(rows.length == 100000, s"expected 100000 rows, got ${rows.length}")
      assert(rows.distinct.length == 100000, "duplicate (shard, sequence) delivered")
      // per-shard delivery is exactly the pushed sequence set
      val byShard = rows.groupBy(_._1).map { case (k, v) => k -> v.map(_._2).toSet }
      pushed.foreach { case (shard, seqs) =>
        assert(byShard.getOrElse(shard, Set.empty) == seqs.toSet,
          s"shard $shard delivered set diverged")
      }
      // admission: no batch above the total cap
      val prog = q.recentProgress.toSeq
      val sizes = prog.map(_.numInputRows).filter(_ > 0)
      assert(sizes.nonEmpty && sizes.forall(_ <= cap),
        s"batch exceeded cap $cap: ${sizes.max}")
      // per-shard offsets never regress across committed batches
      val offs = prog.flatMap(p => Option(p.sources.head.endOffset))
        .map(KinesisOffset.fromJson(_).positions)
      offs.sliding(2).foreach {
        case Seq(prev, next) =>
          prev.foreach { case (shard, s0) =>
            next.get(shard).foreach(s1 =>
              assert(SequenceOrder.leq(s0, s1), s"offset regressed on $shard"))
          }
        case _ => ()
      }
      // one commit per (batch, shard) advance: every saver write moved a
      // shard forward, so writes are bounded by data-batches × shards
      // (7 shards ever), and drained parents were deleted exactly once
      val dataBatches = sizes.length
      assert(saver.sets.get <= dataBatches * 7,
        s"saver writes ${saver.sets.get} exceed one-per-(batch,shard) bound " +
          s"($dataBatches batches)")
      assert(eventually()(saver.get("sv", sh0).isEmpty &&
        saver.get("sv", c1).isEmpty), "drained parents not deleted")
      assert(saver.dels.get == 2, s"expected exactly 2 deletes, got ${saver.dels.get}")
      // survivors carry their final sequences
      Seq(sh1, sh2, c2, d1).foreach { shard =>
        assert(eventually()(saver.get("sv", shard).contains(pushed(shard).last)),
          s"saver not at final sequence for $shard")
      }
      // d2 never got data: TRIM_HORIZON position, no saver entry required
      assert(saver.get("sv", d2).isEmpty)
    } finally q.stop()
  }

  test("stream-status gating: not-ACTIVE holds offsets, ACTIVE resumes (kinesis.go:84-93, O9)") {
    freshStream("s8", 1)
    (1 to 3).foreach(i => FakeKinesisService.push("s8", "shardId-000000000000", "pk", s"a$i".getBytes))
    val q = runToMemory(readSource("s8"), "t_status")
    try {
      assert(spark.sql("SELECT count(*) FROM t_status").head.getLong(0) == 3)
      // stream enters UPDATING (e.g. a reshard in progress): new records
      // must NOT be admitted while not ACTIVE
      FakeKinesisService.setStatus("s8", "UPDATING")
      (1 to 2).foreach(i => FakeKinesisService.push("s8", "shardId-000000000000", "pk", s"b$i".getBytes))
      q.processAllAvailable()
      q.processAllAvailable()
      assert(spark.sql("SELECT count(*) FROM t_status").head.getLong(0) == 3,
        "records admitted while stream not ACTIVE")
      // back to ACTIVE: consumption resumes from the held offsets —
      // exactly the new records, no replay
      FakeKinesisService.setStatus("s8", "ACTIVE")
      q.processAllAvailable()
      val got = spark.sql("SELECT data FROM t_status").collect()
        .map(r => new String(r.getAs[Array[Byte]](0))).toSet
      assert(got == Set("a1", "a2", "a3", "b1", "b2"))
    } finally q.stop()
  }

  test("one planning round probes each shard at most once per kind, and no shard it need not") {
    val name = "s-probes"
    FakeKinesisService.createStream(name, 4)
    val probes = scala.collection.mutable.ArrayBuffer.empty[(String, Int)]
    val client = new FakeKinesisClient() {
      override def sequenceAfter(streamName: String, shardId: String,
          afterSequence: Option[String], maxRecords: Int): (Option[String], Boolean) = {
        probes += ((shardId, maxRecords))
        super.sequenceAfter(streamName, shardId, afterSequence, maxRecords)
      }
    }
    def shard(i: Int) = f"shardId-$i%012d"
    def push(i: Int, n: Int): Seq[String] =
      (1 to n).map(k => FakeKinesisService.push(name, shard(i), s"pk$k", s"$i-$k".getBytes))
    val seqs = (0 until 4).map(push(_, 3))
    // split shard 1 (children 4, 5), merge shards 2 and 3 (child 6)
    FakeKinesisService.splitShard(name, shard(1))
    FakeKinesisService.mergeShards(name, shard(2), shard(3))
    (4 to 6).foreach(push(_, 2))
    // shard 0: open, nobody's parent, at TRIM_HORIZON; shard 1 part read;
    // shard 2 drained; shard 3 not yet read: every child waits
    val start = KinesisOffset(Map(shard(0) -> "", shard(1) -> seqs(1)(0),
      shard(2) -> seqs(2).last, shard(3) -> ""))
    val saver = new InMemorySequenceSaver
    val stream = new KinesisMicroBatchStream(name, client, Some(saver), 1000)
    val end = stream.latestOffset(start, ReadLimit.maxRows(90)).asInstanceOf[KinesisOffset]

    val m = stream.metrics(java.util.Optional.empty())
    assert(m.get("numGatedChildren") == "3" && m.get("numProducingShards") == "3", s"metrics: $m")
    val perShard = m.get("admittedPerShard").toInt
    assert(perShard == 30)
    assert(end.positions == Map(shard(0) -> seqs(0).last, shard(1) -> seqs(1).last,
      shard(2) -> seqs(2).last, shard(3) -> seqs(3).last))
    assert(saver.snapshot == Map((name, shard(1)) -> seqs(1)(0)), "shard 2 is drained: no entry")

    val byShard = probes.toList.groupBy(_._1)
    for ((sh, ps) <- byShard) {
      assert(ps.count(_._2 == 1) <= 1, s"$sh: more than one limit-1 probe: $ps")
      assert(ps.count(_._2 == perShard) <= 1, s"$sh: more than one admission probe: $ps")
    }
    assert(byShard(shard(0)).map(_._2) == List(perShard),
      "an open shard at TRIM_HORIZON that is nobody's parent gets no limit-1 probe")
    for (c <- 4 to 6) assert(!byShard.contains(shard(c)), s"gated ${shard(c)} was probed")

    // next round: shard 0 is open with a non-empty start, shards 1-3 are
    // drained, so the children 4-6 are no longer gated
    probes.clear()
    val end2 = stream.latestOffset(end, ReadLimit.maxRows(90)).asInstanceOf[KinesisOffset]
    val m2 = stream.metrics(java.util.Optional.empty())
    assert(m2.get("numGatedChildren") == "0" && m2.get("numProducingShards") == "4", s"metrics: $m2")
    val perShard2 = m2.get("admittedPerShard").toInt
    assert(perShard2 == 22)
    assert(end2.positions(shard(0)) == seqs(0).last)
    assert(saver.snapshot == Map((name, shard(0)) -> seqs(0).last), "shards 1-3 are drained")
    val byShard2 = probes.toList.groupBy(_._1)
    for ((sh, ps) <- byShard2) {
      assert(ps.count(_._2 == 1) <= 1, s"$sh: more than one limit-1 probe: $ps")
      assert(ps.count(_._2 == perShard2) <= 1, s"$sh: more than one admission probe: $ps")
    }
    for (o <- 0 +: (4 to 6)) assert(byShard2(shard(o)).map(_._2) == List(perShard2),
      s"open ${shard(o)} gets only its admission probe: ${byShard2(shard(o))}")
  }

  test("option errors: a missing streamName, an unknown clientName, an unknown saverName") {
    freshStream("sOpts", 1)
    FakeKinesisService.push("sOpts", "shardId-000000000000", "pk", "r1".getBytes)
    // the whole cause chain's messages: a scan-time error reaches the
    // caller wrapped in a StreamingQueryException
    def failure(queryName: String, opts: (String, String)*): String = {
      val e = intercept[Throwable] {
        val df = opts.foldLeft(spark.readStream.format("kinesis-graft")) {
          case (r, (k, v)) => r.option(k, v)
        }.load()
        val q = df.writeStream.format("memory").queryName(queryName).start()
        try q.processAllAvailable() finally q.stop()
      }
      Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
        .map(t => String.valueOf(t.getMessage)).mkString(" | ")
    }
    val noStream = failure("t_opt_stream", "clientName" -> "fake")
    assert(noStream.contains("option 'streamName' is required"), noStream)
    val badClient = failure("t_opt_client", "streamName" -> "sOpts", "clientName" -> "nope")
    assert(badClient.contains("no client registered as 'nope'"), badClient)
    val badSaver = failure("t_opt_saver", "streamName" -> "sOpts", "clientName" -> "fake",
      "saverName" -> "nope")
    assert(badSaver.contains("no saver registered as 'nope'"), badSaver)
  }
}
