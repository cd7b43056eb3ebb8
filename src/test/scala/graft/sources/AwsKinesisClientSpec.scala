package graft.sources

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.Trigger

import software.amazon.awssdk.services.kinesis.StubSdk

import graft.SparkSuite
import graft.sources.kinesis._

/** Exercises [[AwsKinesisClient]] — the reflection-bound production AWS
  * adapter — against the SDK-API-shaped stub (AwsSdkStubs.scala) backed
  * by [[FakeKinesisService]]. What this proves: the adapter builds SDK
  * requests via the real builder protocol, paginates ListShards,
  * translates SDK errors to the reader's exception surface, retries
  * throughput throttles with bounded backoff, and drives the FULL DSv2
  * micro-batch path (discovery → admission → reshard gating →
  * exactly-once delivery) purely through the SDK-shaped client — i.e.
  * the only untestable-offline piece left is AWS's wire protocol
  * itself.
  */
class AwsKinesisClientSpec extends SparkSuite {

  private def fresh(): Unit = { StubSdk.reset(); AwsKinesisClient.resetClientCache() }

  /** Adapter configured directly (keys lower-cased like DefaultSource). */
  private def adapter(extra: (String, String)*): AwsKinesisClient = {
    val c = new AwsKinesisClient
    c.configure(Map("region" -> "us-east-1", "throughputbackoffms" -> "1") ++ extra)
    c
  }

  private def readSource(stream: String, extra: Map[String, String]): DataFrame = {
    var r = spark.readStream.format("kinesis-graft")
      .option("streamName", stream)
      .option("clientClass", "graft.sources.kinesis.AwsKinesisClient")
      .option("region", "us-east-1")
      .option("throughputBackoffMs", "1")
    extra.foreach { case (k, v) => r = r.option(k, v) }
    r.load()
  }

  test("validate(): the stub satisfies the declared reflective surface 1:1") {
    fresh()
    val c = new AwsKinesisClient
    c.configure(Map("region" -> "us-east-1", "sts" -> "true")) // throws if validate() finds problems
    assert(c.validate().isEmpty,
      s"stub must satisfy the full surface: ${c.validate().mkString("; ")}")
    // every request class the RPC table implies is in the setter table
    assert(AwsKinesisAdapter.requestSetters.keySet ==
      Set("ListShardsRequest", "DescribeStreamSummaryRequest",
        "GetShardIteratorRequest", "GetRecordsRequest", "PutRecordRequest",
        "PutRecordsRequestEntry", "PutRecordsRequest"))
  }

  test("configure fails FAST with the complete problem list on version skew (missing classes reported all at once)") {
    fresh()
    val c = new AwsKinesisClient
    val e = intercept[IllegalStateException](
      c.configure(Map("sdkpackage" -> "graft.nosuch.sdk", "region" -> "us-east-1")))
    val msg = e.getMessage
    // ALL seven request classes + all response classes + the client are
    // reported in the single failure, not just the first miss
    Seq("ListShardsRequest", "GetShardIteratorRequest", "PutRecordsRequest",
      "GetRecordsResponse", "Record", "KinesisClient").foreach(n =>
      assert(msg.contains(n), s"expected '$n' in the aggregated report:\n$msg"))
    assert(msg.linesIterator.size > 10,
      s"skew report must aggregate every miss, got:\n$msg")
    // the escape hatch: a deliberately partial classpath can opt out
    val c2 = new AwsKinesisClient
    c2.configure(Map("sdkpackage" -> "graft.nosuch.sdk", "validate" -> "false"))
  }

  // ---- version-skew mutation matrix (SkewMutationStubs.scala): each
  // package is a complete SDK surface with ONE mutation; validate()
  // must report the complete and MINIMAL problem list — exactly the
  // mutated member, never a cascade, and nothing for benign overloads.
  private def skewProblems(pkg: String): Seq[String] = {
    val c = new AwsKinesisClient
    c.configure(Map("sdkpackage" -> pkg, "region" -> "us-east-1",
      "validate" -> "false"))
    c.validate()
  }

  test("skew matrix: renamed RPC (listShards → listShardsV2) is the one and only problem") {
    fresh()
    val ps = skewProblems("graft.skew.renamedrpc")
    assert(ps.size == 1, s"expected exactly one problem, got: $ps")
    assert(ps.head.contains("listShards") && ps.head.contains("KinesisClient"),
      s"diagnosis must name the RPC and the client: ${ps.head}")
  }

  test("skew matrix: removed accessor (Record.approximateArrivalTimestamp) is the one and only problem") {
    fresh()
    val ps = skewProblems("graft.skew.missingacc")
    assert(ps.size == 1, s"expected exactly one problem, got: $ps")
    assert(ps.head.contains("Record") &&
      ps.head.contains("approximateArrivalTimestamp"),
      s"diagnosis must name class and accessor: ${ps.head}")
  }

  test("skew matrix: renamed builder setter (GetRecordsRequest limit → recordLimit) is the one and only problem") {
    fresh()
    val ps = skewProblems("graft.skew.renamedsetter")
    assert(ps.size == 1, s"expected exactly one problem, got: $ps")
    assert(ps.head.contains("GetRecordsRequest") && ps.head.contains("limit"),
      s"diagnosis must name request class and setter: ${ps.head}")
  }

  test("skew matrix: changed return type (millisBehindLatest Long → String) is caught at validate, not first use") {
    fresh()
    val ps = skewProblems("graft.skew.rettype")
    assert(ps.size == 1, s"expected exactly one problem, got: $ps")
    assert(ps.head.contains("millisBehindLatest") &&
      ps.head.contains("java.lang.String") && ps.head.contains("java.lang.Long"),
      s"diagnosis must name accessor, found and expected types: ${ps.head}")
  }

  test("skew matrix: extra overloads (consumer-builder style) validate CLEAN") {
    fresh()
    val ps = skewProblems("graft.skew.extraoverload")
    assert(ps.isEmpty, s"benign overloads must not trip validate: $ps")
  }

  test("skew matrix: two simultaneous mutations are BOTH reported (complete list, no fail-fast-at-first)") {
    fresh()
    val ps = skewProblems("graft.skew.multi")
    assert(ps.size == 2, s"expected exactly two problems, got: $ps")
    assert(ps.exists(p => p.contains("listShards") && p.contains("KinesisClient")),
      s"renamed RPC missing from: $ps")
    assert(ps.exists(p => p.contains("Record") &&
      p.contains("approximateArrivalTimestamp")),
      s"removed accessor missing from: $ps")
  }

  test("listShards paginates nextToken pages and maps closed/parent fields") {
    fresh()
    FakeKinesisService.createStream("aws1", 5) // stub pages by 2 → 3 pages
    val (c1, _) = FakeKinesisService.splitShard("aws1", "shardId-000000000000")
    val merged = FakeKinesisService.mergeShards("aws1",
      "shardId-000000000001", "shardId-000000000002")
    val got = adapter().listShards("aws1")
    val viaFake = new FakeKinesisClient().listShards("aws1")
    assert(got == viaFake, "adapter listShards must match the fake client's view")
    assert(got.size == 8)
    assert(got.find(_.shardId == "shardId-000000000000").get.closed)
    assert(got.find(_.shardId == c1).get.parentShardId.contains("shardId-000000000000"))
    val mc = got.find(_.shardId == merged).get
    assert(mc.parentShardId.contains("shardId-000000000001") &&
      mc.adjacentParentShardId.contains("shardId-000000000002"),
      s"merge child must map BOTH parents through the SDK shape: $mc")
  }

  test("streamStatus, iterator init/resume, getRecords and putRecord round-trip") {
    fresh()
    FakeKinesisService.createStream("aws2", 1)
    val a = adapter()
    assert(a.streamStatus("aws2") == "ACTIVE")
    FakeKinesisService.setStatus("aws2", "UPDATING")
    assert(a.streamStatus("aws2") == "UPDATING")
    FakeKinesisService.setStatus("aws2", "ACTIVE")

    val seqs = (1 to 6).map(i => a.putRecord("aws2", "pk", s"r$i".getBytes))
    // TRIM_HORIZON: everything, in order, payloads/keys/sequences intact
    val it0 = a.getShardIterator("aws2", "shardId-000000000000", None)
    val all = a.getRecords(it0, 100)
    assert(all.records.map(r => new String(r.data)) == (1 to 6).map(i => s"r$i"))
    assert(all.records.map(_.sequenceNumber) == seqs)
    assert(all.records.forall(_.partitionKey == "pk"))
    assert(all.nextIterator.isDefined, "open shard keeps a next iterator")
    // AFTER_SEQUENCE_NUMBER resume
    val it1 = a.getShardIterator("aws2", "shardId-000000000000", Some(seqs(3)))
    assert(a.getRecords(it1, 100).records.map(r => new String(r.data)) == Seq("r5", "r6"))
  }

  test("sequenceAfter: parity with the fake client; capped scans stay prefix-correct") {
    fresh()
    FakeKinesisService.createStream("aws3", 1)
    val a = adapter()
    val seqs = (1 to 9).map(i =>
      FakeKinesisService.push("aws3", "shardId-000000000000", "pk", s"x$i".getBytes))
    val fake = new FakeKinesisClient()
    for (max <- Seq(1, 3, 9, 100); after <- Seq(None, Some(seqs(4)))) {
      val (gotLast, _) = a.sequenceAfter("aws3", "shardId-000000000000", after, max)
      val (expLast, _) = fake.sequenceAfter("aws3", "shardId-000000000000", after, max)
      assert(gotLast == expLast, s"max=$max after=$after")
    }
    // closed shard scanned to the tail reports closed (null next iterator)
    FakeKinesisService.splitShard("aws3", "shardId-000000000000")
    val (last, closed) = a.sequenceAfter("aws3", "shardId-000000000000", None, 100)
    assert(closed && last.contains(seqs.last))
  }

  test("ProvisionedThroughputExceededException: bounded backoff rides out a spike, then rethrows when exhausted") {
    fresh()
    FakeKinesisService.createStream("aws4", 1)
    FakeKinesisService.push("aws4", "shardId-000000000000", "pk", "v".getBytes)
    val a = adapter("throughputretries" -> "3")
    val it = a.getShardIterator("aws4", "shardId-000000000000", None)
    StubSdk.throttleNext.set(2) // < retries: recovered transparently
    assert(a.getRecords(it, 10).records.size == 1)
    StubSdk.throttleNext.set(10) // > retries: surfaces after 3 backoffs
    val e = intercept[RuntimeException](a.getRecords(it, 10))
    assert(e.getClass.getSimpleName == "ProvisionedThroughputExceededException")
    StubSdk.throttleNext.set(0)
  }

  test("expired SDK iterators translate to the reader's refresh path (kinesis.go:184-191)") {
    fresh()
    FakeKinesisService.createStream("aws5", 1)
    val a = adapter()
    val it = a.getShardIterator("aws5", "shardId-000000000000", None)
    StubSdk.expireEvery = 1 // next getRecords throws in the stub SDK
    intercept[ExpiredIteratorException](a.getRecords(it, 10))
    StubSdk.expireEvery = 0
  }

  test("putRecords: one RPC per batch, per-record partial failures, subset retry lands everything once") {
    fresh()
    FakeKinesisService.createStream("aws7", 2)
    val a = adapter()
    val recs = (1 to 10).map(i => (s"pk$i", s"v$i".getBytes))
    StubSdk.failFirstEntriesNext.set(3)
    val r1 = a.putRecords("aws7", recs)
    assert(StubSdk.putRecordsCalls.get() == 1, "10 records must be ONE RPC")
    assert(r1.take(3).forall(r => !r.succeeded &&
      r.errorCode.contains("ProvisionedThroughputExceededException")))
    assert(r1.drop(3).forall(_.succeeded))
    val failed = recs.zip(r1).collect { case (rec, r) if !r.succeeded => rec }
    assert(a.putRecords("aws7", failed).forall(_.succeeded))
    assert(StubSdk.putRecordsCalls.get() == 2)
    val payloads = a.listShards("aws7").flatMap { sh =>
      a.getRecords(a.getShardIterator("aws7", sh.shardId, None), 1000)
        .records.map(r => new String(r.data))
    }
    assert(payloads.length == 10 && payloads.toSet == (1 to 10).map(i => s"v$i").toSet,
      s"retry must land ONLY the failed subset, exactly once: $payloads")
  }

  test("KinesisBatchSink: buffered batch RPCs with subset retry through the foreach sink path") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    fresh()
    FakeKinesisService.createStream("aws8", 2)
    val ad = new AwsKinesisClient
    ad.configure(Map("region" -> "us-east-1", "throughputbackoffms" -> "1"))
    KinesisRegistry.clients.put("awssink", ad)
    val mem = MemoryStream[(String, Array[Byte])](spark)
    mem.addData((1 to 1200).map(i => (s"pk${i % 7}", s"d$i".getBytes)): _*)
    StubSdk.failFirstEntriesNext.set(4) // one mid-run partial failure
    val q = mem.toDF.toDF("partitionKey", "data")
      .writeStream
      .foreach(new KinesisBatchSink("aws8", "awssink",
        maxBatch = 100, retryBackoffMs = 1))
      .start()
    try q.processAllAvailable() finally q.stop()
    val payloads = ad.listShards("aws8").flatMap { sh =>
      ad.getRecords(ad.getShardIterator("aws8", sh.shardId, None), 5000)
        .records.map(r => new String(r.data))
    }
    assert(payloads.length == 1200 && payloads.toSet ==
      (1 to 1200).map(i => s"d$i").toSet,
      s"expected 1200 distinct payloads, got ${payloads.length}")
    val calls = StubSdk.putRecordsCalls.get()
    assert(calls > 0 && calls <= 30,
      s"1200 rows at maxBatch=100 must be ~12-20 RPCs, not per-row: $calls")
  }

  test("Trigger.AvailableNow backfill through the adapter: metadata scan captures the tail, drains, terminates") {
    import org.apache.spark.sql.streaming.Trigger
    fresh()
    FakeKinesisService.createStream("aws9", 2)
    (1 to 40).foreach(i => FakeKinesisService.push("aws9",
      f"shardId-${i % 2}%012d", "pk", s"b$i".getBytes))
    // metadatascanhops=1 with the planner's 10k-record limit per hop
    // still captures the full 20-record tails in one hop each; the cap
    // is exercised (not bypassed) because sequenceAfter loops hops
    val q = readSource("aws9", Map("metadataScanHops" -> "1"))
      .writeStream.format("memory").queryName("t_aws_an")
      .trigger(Trigger.AvailableNow()).start()
    assert(q.awaitTermination(30000), "AvailableNow did not self-terminate")
    // records pushed AFTER the capture are not part of the backfill
    FakeKinesisService.push("aws9", "shardId-000000000000", "pk", "late".getBytes)
    val got = spark.sql("SELECT data FROM t_aws_an").collect()
      .map(r => new String(r.getAs[Array[Byte]](0)))
    assert(got.length == 40 && got.toSet == (1 to 40).map(i => s"b$i").toSet,
      s"backfill must drain exactly the captured tail, got ${got.length}")
  }

  test("full DSv2 path through the reflective adapter: reshard + expiry, exactly-once, one cached SDK client") {
    fresh()
    FakeKinesisService.createStream("aws6", 2)
    (1 to 12).foreach(i => FakeKinesisService.push("aws6",
      f"shardId-${i % 2}%012d", s"pk$i", s"a$i".getBytes))
    StubSdk.expireEvery = 7 // every 7th SDK getRecords expires mid-run
    val q = readSource("aws6", Map("maxRecordsPerFetch" -> "5"))
      .writeStream.format("memory").queryName("t_aws")
      .trigger(Trigger.ProcessingTime(50)).start()
    try {
      q.processAllAvailable()
      // reshard while the query runs; children only admit after the
      // parent drains (O9 gating) — all through the SDK-shaped client
      FakeKinesisService.splitShard("aws6", "shardId-000000000000")
      (13 to 18).foreach(i => FakeKinesisService.push("aws6",
        "shardId-000000000002", s"pk$i", s"a$i".getBytes))
      q.processAllAvailable()
      Thread.sleep(200) // one extra trigger for post-drain child admission
      q.processAllAvailable()
      val rows = spark.sql("SELECT data, shardId, sequenceNumber FROM t_aws").collect()
      val payloads = rows.map(r => new String(r.getAs[Array[Byte]]("data")))
      assert(payloads.length == payloads.toSet.size, "duplicate delivery")
      assert(payloads.toSet == (1 to 18).map(i => s"a$i").toSet)
      rows.groupBy(_.getAs[String]("shardId")).values.foreach { rs =>
        val seqs = rs.map(_.getAs[String]("sequenceNumber")).toSeq
        assert(seqs == seqs.sorted, "per-shard order broken")
      }
      assert(StubSdk.builds.get() == 1,
        s"SDK client must be built once per (JVM, config), got ${StubSdk.builds.get()}")
    } finally { q.stop(); StubSdk.expireEvery = 0 }
  }
}
