package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.Trigger

import graft.SparkSuite

class StreamOpsSpec extends SparkSuite {

  private def rec(shard: String, n: Int, tsSec: Long, key: String): KinesisRecord =
    KinesisRecord(s"d$n".getBytes, key, f"$n%09d",
      new Timestamp(tsSec * 1000), "st", shard)

  test("streaming dedup within watermark keeps first per key") {
    import spark.implicits._
    val mem = MemoryStream[KinesisRecord](spark)
    val deduped = StreamOps.dedupWithinWatermark(
      mem.toDF(), "approximateArrivalTimestamp", "10 minutes", Seq("partitionKey"))
    val q = deduped.writeStream.format("memory").queryName("so_dedup")
      .outputMode("append").trigger(Trigger.ProcessingTime(50)).start()
    try {
      mem.addData(rec("s0", 1, 1000, "a"), rec("s0", 2, 1010, "a"),
        rec("s0", 3, 1020, "b"), rec("s0", 4, 1030, "a"))
      q.processAllAvailable()
      val keys = spark.sql("SELECT partitionKey FROM so_dedup").collect().map(_.getString(0))
      assert(keys.sorted.toSeq == Seq("a", "b"))
    } finally q.stop()
  }

  test("tumbling window counts finalize when watermark passes") {
    import spark.implicits._
    val mem = MemoryStream[KinesisRecord](spark)
    val counts = StreamOps.tumblingCounts(
      mem.toDF(), "approximateArrivalTimestamp", "1 minute", "1 minute", Seq("partitionKey"))
    val q = counts.writeStream.format("memory").queryName("so_win")
      .outputMode("append").trigger(Trigger.ProcessingTime(50)).start()
    try {
      // window [0,60): 2 of a, 1 of b; then advance event time past
      // watermark so the window closes
      mem.addData(rec("s0", 1, 10, "a"), rec("s0", 2, 20, "a"), rec("s0", 3, 30, "b"))
      q.processAllAvailable()
      mem.addData(rec("s0", 4, 300, "a"))
      q.processAllAvailable()
      mem.addData(rec("s0", 5, 301, "a")) // nudges watermark commit
      q.processAllAvailable()
      val rows = spark.sql("SELECT partitionKey, n FROM so_win").collect()
        .map(r => (r.getString(0), r.getLong(1))).toSet
      assert(rows.contains(("a", 2L)) && rows.contains(("b", 1L)),
        s"expected finalized first-minute windows, got ${rows.mkString(",")}")
    } finally q.stop()
  }

  test("session windows split on gap") {
    import spark.implicits._
    val mem = MemoryStream[KinesisRecord](spark)
    val sessions = StreamOps.sessionCounts(
      mem.toDF(), "approximateArrivalTimestamp", "1 minute", "30 seconds", Seq("partitionKey"))
    val q = sessions.writeStream.format("memory").queryName("so_sess")
      .outputMode("append").trigger(Trigger.ProcessingTime(50)).start()
    try {
      // two bursts for key a separated by > gap, then advance watermark
      mem.addData(rec("s0", 1, 10, "a"), rec("s0", 2, 15, "a"),
        rec("s0", 3, 100, "a"))
      q.processAllAvailable()
      mem.addData(rec("s0", 4, 500, "a"))
      q.processAllAvailable()
      mem.addData(rec("s0", 5, 501, "a"))
      q.processAllAvailable()
      val ns = spark.sql("SELECT n FROM so_sess").collect().map(_.getLong(0)).sorted.toSeq
      assert(ns.take(2) == Seq(1L, 2L), s"expected sessions of 2 and 1, got $ns")
    } finally q.stop()
  }

  test("stream-stream interval join matches within the window, drops outside") {
    import spark.implicits._
    // (key, left seq, right seq) of every joined pair
    def joined(left: DataFrame, right: DataFrame, queryName: String)(feed: => Unit) = {
      val q = StreamOps.intervalJoin(left, right,
          "partitionKey", "approximateArrivalTimestamp",
          within = "30 seconds", watermark = "1 minute")
        .writeStream.format("memory").queryName(queryName)
        .trigger(Trigger.ProcessingTime(50)).start()
      try {
        feed
        q.processAllAvailable()
        spark.sql(s"SELECT l_partitionKey, l_sequenceNumber, r_sequenceNumber FROM $queryName")
          .collect().map(r => (r.getString(0), r.getString(1), r.getString(2))).toSet
      } finally q.stop()
    }
    val lmem = MemoryStream[KinesisRecord](spark)
    val rmem = MemoryStream[KinesisRecord](spark)
    val rows = joined(lmem.toDF(), rmem.toDF(), "so_ij") {
      lmem.addData(rec("s0", 1, 100, "a"), rec("s0", 2, 100, "b"))
      rmem.addData(
        rec("s1", 10, 110, "a"), // within 30s of a@100 -> match
        rec("s1", 11, 200, "a"), // outside -> no match
        rec("s1", 12, 90, "b"))  // before left ts -> no match
    }
    assert(rows == Set(("a", f"${1}%09d", f"${10}%09d")), s"got $rows")

    // the same records on two kinesis-graft sources, arrival time as event time
    import graft.sources.kinesis._
    Seq("ij-left", "ij-right").foreach(FakeKinesisService.createStream(_, 1))
    KinesisRegistry.clients.put("ij-fake", new FakeKinesisClient())
    def push(stream: String, key: String, tsSec: Long): String =
      FakeKinesisService.push(stream, "shardId-000000000000", key, key.getBytes, tsSec * 1000)
    def source(stream: String) = spark.readStream.format("kinesis-graft")
      .option("streamName", stream).option("clientName", "ij-fake").load()
    val leftA = push("ij-left", "a", 100)
    push("ij-left", "b", 100)
    val rightA = push("ij-right", "a", 110)
    push("ij-right", "a", 200)
    push("ij-right", "b", 90)
    val kinesisRows = joined(source("ij-left"), source("ij-right"), "so_ij_kinesis")(())
    assert(kinesisRows == Set(("a", leftA, rightA)), s"got $kinesisRows")
  }

  test("left-outer interval join emits unmatched left rows with nulls after the watermark") {
    import spark.implicits._
    val lmem = MemoryStream[KinesisRecord](spark)
    val rmem = MemoryStream[KinesisRecord](spark)
    val joined = StreamOps.intervalJoin(lmem.toDF(), rmem.toDF(),
      "partitionKey", "approximateArrivalTimestamp",
      within = "30 seconds", watermark = "1 minute", joinType = "leftOuter")
    val q = joined.writeStream.format("memory").queryName("so_loj")
      .trigger(Trigger.ProcessingTime(50)).start()
    try {
      lmem.addData(rec("s0", 1, 100, "a"), rec("s0", 2, 100, "b"))
      rmem.addData(rec("s1", 10, 110, "a")) // matches a@100; nothing for b
      q.processAllAvailable()
      // advance both watermarks far past b@100's interval
      lmem.addData(rec("s0", 3, 600, "c"))
      rmem.addData(rec("s1", 11, 600, "c"))
      q.processAllAvailable()
      lmem.addData(rec("s0", 4, 650, "c"))
      rmem.addData(rec("s1", 12, 650, "c"))
      q.processAllAvailable()
      val rows = spark.sql(
        "SELECT l_partitionKey, r_sequenceNumber FROM so_loj").collect()
        .map(r => (r.getString(0), Option(r.getString(1))))
      assert(rows.contains(("a", Some(f"${10}%09d"))), s"matched row missing: ${rows.toSeq}")
      assert(rows.contains(("b", None)),
        s"unmatched left row not emitted with nulls: ${rows.toSeq}")
    } finally q.stop()
  }

  test("flatMapGroupsWithState running totals accumulate across batches") {
    import spark.implicits._
    val mem = MemoryStream[KinesisRecord](spark)
    val totals = StreamOps.runningTotals(mem.toDS())
    val q = totals.writeStream.format("memory").queryName("so_state")
      .outputMode("append").trigger(Trigger.ProcessingTime(50)).start()
    try {
      mem.addData(rec("s0", 1, 10, "a"), rec("s0", 2, 20, "a"), rec("s0", 3, 30, "b"))
      q.processAllAvailable()
      mem.addData(rec("s0", 4, 40, "a"))
      q.processAllAvailable()
      // latest emission per key reflects the full running total
      val last = spark.sql(
        "SELECT partitionKey, max(n_records) AS n FROM so_state GROUP BY 1")
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(last == Map("a" -> 3L, "b" -> 1L), s"got $last")
    } finally q.stop()
  }

  test("batch text operators run unchanged on a streaming DataFrame (one API, both modes)") {
    import org.apache.spark.sql.functions._
    val dir = sf("sf0.001")
    val docs = graft.Tables.documents(spark, dir)
    val tmp = java.nio.file.Files.createTempDirectory("qreplay").toString
    docs.write.mode("overwrite").parquet(tmp)
    val streamed = spark.readStream.schema(docs.schema).parquet(tmp)
    // stateless operator pipeline applied verbatim to the stream
    val q = graft.operators.TextOps.qualityScore(streamed)
      .writeStream.format("memory").queryName("so_quality_stream")
      .trigger(Trigger.ProcessingTime(50)).start()
    try {
      q.processAllAvailable()
      val stream = spark.sql("SELECT * FROM so_quality_stream")
        .orderBy("doc_id").collect()
      val batch = graft.operators.TextOps.qualityScore(docs)
        .orderBy("doc_id").collect()
      assert(stream.toSeq == batch.toSeq,
        "streaming and batch qualityScore results diverged")
    } finally q.stop()
  }

  test("batch d01 dedup ≡ streaming dedupWithinWatermark on a file-replay of the same corpus") {
    import org.apache.spark.sql.functions._
    // file-replay stream of the documents table (the deterministic
    // Kinesis stand-in, SURVEY.md §5), deduped by the same key d01 uses
    val dir = sf("sf0.01")
    val docs = graft.Tables.documents(spark, dir)
    val tmp = java.nio.file.Files.createTempDirectory("docreplay").toString
    docs.write.mode("overwrite").parquet(tmp)
    val streamed = spark.readStream.schema(docs.schema).parquet(tmp)
      .withColumn("event_ts", to_timestamp(lit("2026-01-01 00:00:00")))
    val deduped = StreamOps.dedupWithinWatermark(
      streamed, "event_ts", "10 minutes", Seq("text"))
    val q = deduped.writeStream.format("memory").queryName("so_batch_eq_stream")
      .outputMode("append").trigger(Trigger.ProcessingTime(50)).start()
    try {
      q.processAllAvailable()
      // same dedup partition: one survivor per distinct text, and the
      // set of surviving texts equals the batch answer's
      val streamTexts = spark.sql("SELECT text FROM so_batch_eq_stream")
        .collect().map(_.getString(0))
      assert(streamTexts.length == streamTexts.distinct.length, "stream emitted duplicate texts")
      val batchTexts = docs.select("text").distinct().collect().map(_.getString(0))
      assert(streamTexts.sorted.toSeq == batchTexts.sorted.toSeq,
        "stream dedup partition differs from batch dedup")
      // and d01 (the registered batch query) agrees on the group count
      val d01Rows = graft.SparkEntry.queries("d01_dedup_exact")(spark, dir).count()
      assert(d01Rows == streamTexts.length.toLong)
    } finally q.stop()
  }

  test("batch decontaminate ≡ streaming decontaminateStream on a file-replay of the same corpus") {
    import org.apache.spark.sql.functions._
    val dir = sf("sf0.001")
    val docs = graft.Tables.documents(spark, dir)
    val corpus = docs.filter(col("doc_id") % 10 =!= 0)
    val bench = docs.filter(col("doc_id") % 10 === 0)
    // replay the corpus as three file batches: the real docs at T0, then
    // two sentinel docs at later hours — the first advances the
    // watermark past T0's windows, the second triggers the batch in
    // which the (now-late) finalized windows are emitted (append-mode
    // emission runs one batch behind the watermark update)
    val tmp = java.nio.file.Files.createTempDirectory("deconreplay").toString
    val t0 = "2026-01-01 00:00:00"
    val withTs = corpus.select(col("doc_id"), col("text"))
      .withColumn("event_ts", to_timestamp(lit(t0)))
    // The file source orders batches by mtime. A sleep between writes
    // is NOT enough on filesystems with 1-second mtime granularity
    // (tied stamps could replay a sentinel BEFORE the corpus, advancing
    // the watermark so the corpus arrives late and is dropped) — stamp
    // each write's files with explicit, strictly increasing mtimes.
    val stamped = scala.collection.mutable.Set.empty[String]
    def stampNewFiles(epochMs: Long): Unit =
      new java.io.File(tmp).listFiles()
        .filter(f => f.isFile && !stamped.contains(f.getName))
        .foreach { f =>
          assert(f.setLastModified(epochMs), s"cannot set mtime on $f")
          stamped += f.getName
        }
    val base = (System.currentTimeMillis() / 1000) * 1000 - 3600000L
    withTs.write.mode("overwrite").parquet(tmp)
    stampNewFiles(base)
    for (h <- Seq(1, 2)) {
      withTs.sparkSession.createDataFrame(
          java.util.List.of(org.apache.spark.sql.Row(-900L - h, "watermark sentinel",
            java.sql.Timestamp.valueOf(s"2026-01-01 0$h:00:00"))),
          withTs.schema)
        .write.mode("append").parquet(tmp)
      stampNewFiles(base + h * 2000L)
    }
    val streamed = spark.readStream.schema(withTs.schema)
      .option("maxFilesPerTrigger", "1").parquet(tmp)
    val screened = StreamOps.decontaminateStream(
      streamed, bench, tsCol = "event_ts", watermark = "10 minutes")
    val q = screened.writeStream.format("memory").queryName("so_decon_stream")
      .outputMode("append").trigger(Trigger.ProcessingTime(50)).start()
    try {
      q.processAllAvailable()
      // the replay genuinely ran multiple micro-batches (one per file)
      assert(q.recentProgress.count(_.numInputRows > 0) >= 3,
        s"expected >=3 non-empty micro-batches, got: " +
          q.recentProgress.map(_.numInputRows).mkString(","))
      val stream = spark.sql(
          "SELECT doc_id, n_hits, n_grams, contamination FROM so_decon_stream")
        .orderBy("doc_id").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
      val batch = graft.operators.Dedup.decontaminate(corpus, bench)
        .orderBy("doc_id").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
      assert(batch.nonEmpty, "parity test is vacuous: batch screen found nothing")
      assert(stream.toSeq == batch.toSeq,
        s"stream=${stream.toSeq} batch=${batch.toSeq}")
    } finally q.stop()
  }

  test("attributeLastTouch: batch q62 ≡ streaming attribution on a chronological file-replay") {
    import org.apache.spark.sql.functions._
    val dir = sf("sf0.001")
    val ev = graft.Tables.events(spark, dir)
      .select("user_id", "event_id", "ts", "event_type")
    // three chronological chunks (event-time order across batches is
    // the operator's documented delivery requirement)
    val chunked = ev.withColumn("chunk", ntile(3).over(
      org.apache.spark.sql.expressions.Window.orderBy(col("ts"), col("event_id"))))
    val tmp = java.nio.file.Files.createTempDirectory("attrreplay").toString
    val stamped = scala.collection.mutable.Set.empty[String]
    def stampNewFiles(epochMs: Long): Unit =
      new java.io.File(tmp).listFiles()
        .filter(f => f.isFile && !stamped.contains(f.getName))
        .foreach { f =>
          assert(f.setLastModified(epochMs), s"cannot set mtime on $f")
          stamped += f.getName
        }
    val base = (System.currentTimeMillis() / 1000) * 1000 - 3600000L
    for (c <- 1 to 3) {
      chunked.filter(col("chunk") === c).drop("chunk")
        .coalesce(1).write.mode("append").parquet(tmp)
      stampNewFiles(base + c * 2000L)
    }
    val streamed = spark.readStream.schema(ev.schema)
      .option("maxFilesPerTrigger", "1").parquet(tmp)
    val q = StreamOps.attributeLastTouch(streamed)
      .writeStream.format("memory").queryName("so_attr_stream")
      .outputMode("append").trigger(Trigger.ProcessingTime(50)).start()
    try {
      q.processAllAvailable()
      assert(q.recentProgress.count(_.numInputRows > 0) >= 3,
        s"expected >=3 non-empty micro-batches, got: " +
          q.recentProgress.map(_.numInputRows).mkString(","))
      def key(r: org.apache.spark.sql.Row) =
        (r.getLong(0), r.getLong(1), r.getTimestamp(2),
          Option(r.get(3)), Option(r.get(4)), Option(r.get(5)), r.getBoolean(6))
      val stream = spark.sql(
          """SELECT user_id, event_id, ts, src_event_id, src_type, src_ts,
             attributed FROM so_attr_stream""")
        .orderBy("user_id", "event_id").collect().map(key)
      val batch = graft.operators.Relational.queries("q62_last_touch")(spark, dir)
        .collect().map(key)
      assert(batch.count(_._7) > 0 && batch.exists(!_._7),
        "parity test is vacuous: need both attributed and unattributed purchases")
      assert(stream.toSeq == batch.toSeq,
        s"stream/batch mismatch: stream=${stream.length} batch=${batch.length}")
    } finally q.stop()
  }

  test("transitionsStream: edge log aggregates to batch q71's matrix on a chronological file-replay") {
    import org.apache.spark.sql.functions._
    val dir = sf("sf0.001")
    val ev = graft.Tables.events(spark, dir)
      .select("user_id", "event_id", "ts", "event_type")
    val chunked = ev.withColumn("chunk", ntile(3).over(
      org.apache.spark.sql.expressions.Window.orderBy(col("ts"), col("event_id"))))
    val tmp = java.nio.file.Files.createTempDirectory("transreplay").toString
    val stamped = scala.collection.mutable.Set.empty[String]
    def stampNewFiles(epochMs: Long): Unit =
      new java.io.File(tmp).listFiles()
        .filter(f => f.isFile && !stamped.contains(f.getName))
        .foreach { f =>
          assert(f.setLastModified(epochMs), s"cannot set mtime on $f")
          stamped += f.getName
        }
    val base = (System.currentTimeMillis() / 1000) * 1000 - 3600000L
    for (c <- 1 to 3) {
      chunked.filter(col("chunk") === c).drop("chunk")
        .coalesce(1).write.mode("append").parquet(tmp)
      stampNewFiles(base + c * 2000L)
    }
    val streamed = spark.readStream.schema(ev.schema)
      .option("maxFilesPerTrigger", "1").parquet(tmp)
    val q = StreamOps.transitionsStream(streamed)
      .writeStream.format("memory").queryName("so_trans_stream")
      .outputMode("append").trigger(Trigger.ProcessingTime(50)).start()
    try {
      q.processAllAvailable()
      assert(q.recentProgress.count(_.numInputRows > 0) >= 3,
        "expected >=3 non-empty micro-batches")
      // a transition spanning two micro-batches must still be emitted
      // exactly once (state carries the from-event across the cut)
      val stream = spark.sql(
          """SELECT from_type, to_type, CAST(COUNT(*) AS BIGINT) AS n
             FROM so_trans_stream GROUP BY 1, 2""")
        .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSet
      val batch = graft.operators.Relational.queries("q71_transitions")(spark, dir)
        .select("from_type", "to_type", "n")
        .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSet
      assert(batch.nonEmpty, "parity test is vacuous: batch matrix is empty")
      assert(stream == batch,
        s"stream/batch matrix mismatch: ${stream.size} vs ${batch.size} cells; " +
          s"diff=${(stream diff batch).take(3)} / ${(batch diff stream).take(3)}")
    } finally q.stop()
  }

  test("ewmaStream: batch q66 ≡ streaming EWMA on a chronological file-replay") {
    import org.apache.spark.sql.functions._
    val dir = sf("sf0.001")
    val ev = graft.Tables.events(spark, dir)
      .select("user_id", "event_id", "ts", "value")
    // chronological chunks + mtime stamping: the operator's documented
    // per-key event-time-order delivery contract (as attributeLastTouch)
    val chunked = ev.withColumn("chunk", ntile(3).over(
      org.apache.spark.sql.expressions.Window.orderBy(col("ts"), col("event_id"))))
    val tmp = java.nio.file.Files.createTempDirectory("ewmareplay").toString
    val stamped = scala.collection.mutable.Set.empty[String]
    def stampNewFiles(epochMs: Long): Unit =
      new java.io.File(tmp).listFiles()
        .filter(f => f.isFile && !stamped.contains(f.getName))
        .foreach { f =>
          assert(f.setLastModified(epochMs), s"cannot set mtime on $f")
          stamped += f.getName
        }
    val base = (System.currentTimeMillis() / 1000) * 1000 - 3600000L
    for (c <- 1 to 3) {
      chunked.filter(col("chunk") === c).drop("chunk")
        .coalesce(1).write.mode("append").parquet(tmp)
      stampNewFiles(base + c * 2000L)
    }
    val streamed = spark.readStream.schema(ev.schema)
      .option("maxFilesPerTrigger", "1").parquet(tmp)
    val q = StreamOps.ewmaStream(streamed, alpha = 0.2)
      .writeStream.format("memory").queryName("so_ewma_stream")
      .outputMode("append").trigger(Trigger.ProcessingTime(50)).start()
    try {
      q.processAllAvailable()
      assert(q.recentProgress.count(_.numInputRows > 0) >= 3,
        "expected >=3 non-empty micro-batches")
      // each batch emits a running (n_events, ewma) per touched key;
      // the final state is the emission with max n_events
      val stream = spark.sql(
          """SELECT user_id, n_events, ewma FROM (
               SELECT user_id, n_events, ewma, row_number() OVER (
                 PARTITION BY user_id ORDER BY n_events DESC) AS rn
               FROM so_ewma_stream) WHERE rn = 1""")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      val batch = graft.operators.Relational.queries("q66_ewma")(spark, dir)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      assert(stream == batch,
        s"stream/batch EWMA mismatch: ${stream.size} vs ${batch.size} keys; " +
          s"diff=${(stream diff batch).take(3)} / ${(batch diff stream).take(3)}")
    } finally q.stop()
  }

  test("dailyDistinctSketches: streamed daily HLLs estimate identically to a batch build") {
    import org.apache.spark.sql.functions._
    val dir = sf("sf0.001")
    val ev = graft.Tables.events(spark, dir).select("ts", "user_id")
    // two file chunks → several micro-batches: the daily sketches must
    // absorb keys incrementally across batches (update mode) and still
    // match the one-pass batch sketches, because HLL union is
    // register-wise max — order- and batching-independent.
    val tmp = java.nio.file.Files.createTempDirectory("hllreplay").toString
    ev.filter(col("user_id") % 2 === 0).write.mode("overwrite").parquet(tmp)
    ev.filter(col("user_id") % 2 =!= 0).write.mode("append").parquet(tmp)
    val streamed = spark.readStream.schema(ev.schema)
      .option("maxFilesPerTrigger", "1").parquet(tmp)
    val q = StreamOps.dailyDistinctSketches(streamed, "ts", "1 day", "user_id")
      .writeStream.format("memory").queryName("so_hll_stream")
      .outputMode("update").trigger(Trigger.ProcessingTime(50)).start()
    try {
      q.processAllAvailable()
      assert(q.recentProgress.count(_.numInputRows > 0) >= 2,
        "expected >=2 non-empty micro-batches")
      // update mode re-emits a day on every batch that touches it; a
      // day's sketch only GROWS (union = register-wise max), so the
      // final state is the emission with the max estimate — an
      // order-independent selection (sink row order is not contracted)
      val finalSketches = spark.sql(
          "SELECT day, max_by(sk, hll_sketch_estimate(sk)) AS sk " +
          "FROM so_hll_stream GROUP BY day")
      val streamEst = finalSketches
        .select(col("day"), hll_sketch_estimate(col("sk")).as("est"))
        .collect().map(r => r.getDate(0).toString -> r.getLong(1)).toMap
      val batchEst = ev.groupBy(to_date(col("ts")).as("day"))
        .agg(hll_sketch_estimate(
          hll_sketch_agg(col("user_id"), 12)).as("est"))
        .collect().map(r => r.getDate(0).toString -> r.getLong(1)).toMap
      assert(streamEst == batchEst,
        s"stream/batch sketch estimates differ:\n$streamEst\nvs\n$batchEst")
      // and the trailing-window composition over the streamed sketches
      // equals the same composition over batch-built daily sketches
      // (the estimate branch the registered q65 certifies via flags)
      val slid = graft.operators.Relational
        .slidingDistinctApprox(finalSketches, windowDays = 7)
        .collect().map(r => (r.getDate(0).toString, r.getLong(1))).toSeq
      val batchSlid = graft.operators.Relational.slidingDistinctApprox(
          ev.groupBy(to_date(col("ts")).as("day"))
            .agg(expr("hll_sketch_agg(user_id, 12)").as("sk")), windowDays = 7)
        .collect().map(r => (r.getDate(0).toString, r.getLong(1))).toSeq
      assert(slid == batchSlid,
        s"sliding composition differs:\n$slid\nvs\n$batchSlid")
    } finally q.stop()
  }

  test("dailyDistinctKmvStream: streamed daily bottom-k == batch kmvSketch BIT-FOR-BIT") {
    import org.apache.spark.sql.functions._
    val dir = sf("sf0.001")
    val ev = graft.Tables.events(spark, dir).select("ts", "user_id")
    // two chunks → keys arrive split across micro-batches; bottom-k of
    // a set is order-, batching-, and duplicate-independent, so unlike
    // the HLL twin (estimate parity) this asserts the sketch ARRAYS
    val tmp = java.nio.file.Files.createTempDirectory("kmvreplay").toString
    ev.filter(col("user_id") % 2 === 0).write.mode("overwrite").parquet(tmp)
    ev.filter(col("user_id") % 2 =!= 0).write.mode("append").parquet(tmp)
    val streamed = spark.readStream.schema(ev.schema)
      .option("maxFilesPerTrigger", "1").parquet(tmp)
    val q = StreamOps.dailyDistinctKmvStream(streamed, k = 64)
      .writeStream.format("memory").queryName("so_kmv_stream")
      .outputMode("append").trigger(Trigger.ProcessingTime(50)).start()
    try {
      q.processAllAvailable()
      assert(q.recentProgress.count(_.numInputRows > 0) >= 2,
        "expected >=2 non-empty micro-batches")
      // n_seen grows strictly per day → max_by picks the final sketch
      val stream = spark.sql(
          "SELECT day, max_by(ks, n_seen) AS ks FROM so_kmv_stream GROUP BY day")
        .collect().map(r => r.getString(0) -> r.getSeq[Long](1).toList).toMap
      val pairs = ev.select(to_date(col("ts")).cast("string").as("day"),
        col("user_id").cast("string").as("u"))
      val batch = graft.operators.Sketch.kmvSketch(pairs, Seq("day"), "u", k = 64)
        .collect().map(r => r.getString(0) -> r.getSeq[Long](1).toList).toMap
      assert(stream.keySet == batch.keySet,
        s"day sets differ: ${stream.keySet} vs ${batch.keySet}")
      val bad = stream.keys.filter(d => stream(d) != batch(d))
      assert(bad.isEmpty,
        s"sketch arrays differ on days $bad: " +
          bad.take(1).map(d => s"${stream(d).take(5)}... vs ${batch(d).take(5)}...").mkString)
    } finally q.stop()
  }

  test("p02/p04 content-hash filters: batch ≡ stream on a file-replay (stateless pipelines)") {
    import org.apache.spark.sql.functions._
    import graft.operators.Pipeline
    // The sample/split decisions are pure functions of the text bytes
    // (md5-prefix thresholds) — no watermark, no state, no RNG — so
    // running the SAME transformation over readStream micro-batches
    // must select the same rows and assign the same splits as one
    // batch pass, regardless of how the files are batched.
    val dir = sf("sf0.001")
    val docs = graft.Tables.documents(spark, dir).select("doc_id", "text", "lang")
    val tmp = java.nio.file.Files.createTempDirectory("hashreplay").toString
    // two file writes + maxFilesPerTrigger=1 → >1 micro-batch, whatever
    // the files' mtimes are (the assertions are order-insensitive, so
    // batch ORDER doesn't matter here — only that several batches ran,
    // asserted on query progress below)
    docs.filter(col("doc_id") % 2 === 0).write.mode("overwrite").parquet(tmp)
    docs.filter(col("doc_id") % 2 =!= 0).write.mode("append").parquet(tmp)
    val streamed = spark.readStream.schema(docs.schema)
      .option("maxFilesPerTrigger", "1").parquet(tmp)
    val rates = Map("en" -> 16384)
    val q1 = Pipeline.sampleStratified(streamed, rates, defaultRate = 32768,
        strataCol = "lang")
      .writeStream.format("memory").queryName("so_p02_stream")
      .outputMode("append").trigger(Trigger.ProcessingTime(50)).start()
    val q2 = Pipeline.splitAssign(streamed, testRate = 3277, valRate = 3277)
      .writeStream.format("memory").queryName("so_p04_stream")
      .outputMode("append").trigger(Trigger.ProcessingTime(50)).start()
    try {
      q1.processAllAvailable()
      q2.processAllAvailable()
      assert(q1.recentProgress.count(_.numInputRows > 0) >= 2,
        "p02 replay should run >1 non-empty micro-batch")
      assert(q2.recentProgress.count(_.numInputRows > 0) >= 2,
        "p04 replay should run >1 non-empty micro-batch")
      val sStream = spark.sql("SELECT doc_id, lang, bucket FROM so_p02_stream")
        .orderBy("doc_id").collect().map(r => (r.getLong(0), r.getString(1), r.getString(2)))
      val sBatch = Pipeline.sampleStratified(docs, rates, defaultRate = 32768,
          strataCol = "lang")
        .orderBy("doc_id").collect().map(r => (r.getLong(0), r.getString(1), r.getString(2)))
      assert(sBatch.nonEmpty && sBatch.length < docs.count(),
        "parity test is vacuous: sample kept nothing or everything")
      assert(sStream.toSeq == sBatch.toSeq,
        s"p02 stream sample differs from batch (${sStream.length} vs ${sBatch.length} rows)")
      val aStream = spark.sql("SELECT doc_id, bucket, split FROM so_p04_stream")
        .orderBy("doc_id").collect().map(r => (r.getLong(0), r.getString(1), r.getString(2)))
      val aBatch = Pipeline.splitAssign(docs, testRate = 3277, valRate = 3277)
        .orderBy("doc_id").collect().map(r => (r.getLong(0), r.getString(1), r.getString(2)))
      assert(aStream.toSeq == aBatch.toSeq, "p04 stream split assignment differs from batch")
      assert(aStream.map(_._3).distinct.sorted.toSeq == Seq("test", "train", "val"),
        "parity test is vacuous: not all three splits present")
    } finally { q1.stop(); q2.stop() }
  }

  test("dailyFreqCmsStream: streamed daily CMS counters == per-day batch sketch BIT-FOR-BIT") {
    import org.apache.spark.sql.functions._
    import graft.operators.Sketch
    val dir = sf("sf0.001")
    val ev = graft.Tables.events(spark, dir).select("ts", "event_type")
    val tmp = java.nio.file.Files.createTempDirectory("cmsreplay").toString
    ev.limit(250).write.mode("overwrite").parquet(tmp)
    ev.exceptAll(ev.limit(250)).write.mode("append").parquet(tmp)
    val streamed = spark.readStream.schema(ev.schema)
      .option("maxFilesPerTrigger", "1").parquet(tmp)
    val q = StreamOps.dailyFreqCmsStream(streamed)
      .writeStream.format("memory").queryName("so_cms_stream")
      .outputMode("append").trigger(Trigger.ProcessingTime(50)).start()
    try {
      q.processAllAvailable()
      assert(q.recentProgress.count(_.numInputRows > 0) >= 2,
        "expected >=2 non-empty micro-batches")
      // final sketch per day = the emission set at that day's max n_seen
      val stream = spark.sql(
          """SELECT day, row, bucket, cnt FROM so_cms_stream s
             WHERE n_seen = (SELECT max(n_seen) FROM so_cms_stream m
                             WHERE m.day = s.day)""")
        .collect().map(r => (r.getString(0), r.getInt(1), r.getLong(2), r.getLong(3))).toSet
      // batch twin through the SAME shared cell helpers
      val batch = ev
        .select(to_date(col("ts")).cast("string").as("day"),
          Sketch.cmsHashColumn(col("event_type").cast("string")).as("__h"))
        .select(col("day"), explode(Sketch.cmsCellsOnHash(col("__h"))).as("rb"))
        .groupBy(col("day"), col("rb.row").as("row"), col("rb.bucket").as("bucket"))
        .agg(count(lit(1)).as("cnt"))
        .collect().map(r => (r.getString(0), r.getInt(1), r.getLong(2), r.getLong(3))).toSet
      assert(batch.nonEmpty && stream == batch,
        s"stream/batch CMS counters differ: ${stream.size} vs ${batch.size} cells; " +
          s"diff=${(stream diff batch).take(3)} / ${(batch diff stream).take(3)}")
    } finally q.stop()
  }

  test("chunkOverlap: batch ≡ stream on a file-replay (stateless per-row explode)") {
    import org.apache.spark.sql.functions._
    import graft.operators.Pipeline
    // Chunking is a pure per-row fan-out (tokenize, explode, slice) —
    // no state, no watermark — so streaming a corpus through it must
    // emit exactly the batch chunk set, however the files are batched.
    val dir = sf("sf0.001")
    val docs = graft.Tables.documents(spark, dir).select("doc_id", "text")
    val tmp = java.nio.file.Files.createTempDirectory("chunkreplay").toString
    docs.filter(col("doc_id") % 2 === 0).write.mode("overwrite").parquet(tmp)
    docs.filter(col("doc_id") % 2 =!= 0).write.mode("append").parquet(tmp)
    val streamed = spark.readStream.schema(docs.schema)
      .option("maxFilesPerTrigger", "1").parquet(tmp)
    val q = Pipeline.chunkOverlap(streamed, chunkSize = 32, overlap = 8)
      .writeStream.format("memory").queryName("so_p14_stream")
      .outputMode("append").trigger(Trigger.ProcessingTime(50)).start()
    try {
      q.processAllAvailable()
      assert(q.recentProgress.count(_.numInputRows > 0) >= 2,
        "p14 replay should run >1 non-empty micro-batch")
      def key(r: org.apache.spark.sql.Row) =
        (r.getLong(0), r.getInt(1), r.getInt(2), r.getInt(3), r.getString(4))
      val stream = spark.sql(
          "SELECT doc_id, chunk_idx, start_tok, chunk_tokens, chunk_text FROM so_p14_stream")
        .collect().map(key).sortBy(k => (k._1, k._2))
      val batch = Pipeline.chunkOverlap(docs, chunkSize = 32, overlap = 8)
        .collect().map(key).sortBy(k => (k._1, k._2))
      assert(batch.length > docs.count(), "parity test is vacuous: no doc multi-chunked")
      assert(stream.toSeq == batch.toSeq,
        s"p14 stream chunks differ from batch (${stream.length} vs ${batch.length})")
    } finally q.stop()
  }

  test("redactPii: batch ≡ stream on a file-replay (stateless per-row scrub)") {
    import org.apache.spark.sql.functions._
    import graft.operators.TextOps
    // The scrub is a pure per-row map (regex replaces + counts) — no
    // state, no watermark — so the same call over readStream
    // micro-batches must produce byte-identical clean text and counts.
    val dir = sf("sf0.001")
    val docs = graft.Tables.documents(spark, dir).select("doc_id", "text")
      .withColumn("text",
        when(col("doc_id") % 5 === 0,
          concat(col("text"), lit(" mail me@site.org or +1 555 867 5309")))
          .otherwise(col("text")))
    val tmp = java.nio.file.Files.createTempDirectory("piireplay").toString
    docs.filter(col("doc_id") % 2 === 0).write.mode("overwrite").parquet(tmp)
    docs.filter(col("doc_id") % 2 =!= 0).write.mode("append").parquet(tmp)
    val streamed = spark.readStream.schema(docs.schema)
      .option("maxFilesPerTrigger", "1").parquet(tmp)
    val q = TextOps.redactPii(streamed)
      .writeStream.format("memory").queryName("so_t08_stream")
      .outputMode("append").trigger(Trigger.ProcessingTime(50)).start()
    try {
      q.processAllAvailable()
      assert(q.recentProgress.count(_.numInputRows > 0) >= 2,
        "t08 replay should run >1 non-empty micro-batch")
      val stream = spark.sql(
          "SELECT doc_id, clean, n_emails, n_ips, n_phones FROM so_t08_stream")
        .orderBy("doc_id").collect()
        .map(r => (r.getLong(0), r.getString(1), r.getInt(2), r.getInt(3), r.getInt(4)))
      val batch = TextOps.redactPii(docs).orderBy("doc_id").collect()
        .map(r => (r.getLong(0), r.getString(1), r.getInt(2), r.getInt(3), r.getInt(4)))
      assert(batch.exists(_._3 > 0), "parity test is vacuous: nothing redacted")
      assert(stream.toSeq == batch.toSeq, "stream scrub differs from batch")
    } finally q.stop()
  }

  test("gopherRules: batch ≡ stream on a file-replay (stateless quality gate)") {
    import org.apache.spark.sql.functions._
    import graft.operators.TextOps
    // The Gopher filter is per-row expression arithmetic — the same
    // call gates an ingest stream with identical verdicts, the shape
    // of a quality firewall in front of a training-data lake.
    val dir = sf("sf0.001")
    val docs = graft.Tables.documents(spark, dir).select("doc_id", "text")
      .withColumn("text",
        when(col("doc_id") % 4 === 0,
          concat(col("text"), lit("\n- bullet\n- bullet\n- bullet")))
          .otherwise(col("text")))
    val tmp = java.nio.file.Files.createTempDirectory("gopherreplay").toString
    docs.filter(col("doc_id") % 2 === 0).write.mode("overwrite").parquet(tmp)
    docs.filter(col("doc_id") % 2 =!= 0).write.mode("append").parquet(tmp)
    val streamed = spark.readStream.schema(docs.schema)
      .option("maxFilesPerTrigger", "1").parquet(tmp)
    val q = TextOps.gopherRules(streamed)
      .writeStream.format("memory").queryName("so_t09_stream")
      .outputMode("append").trigger(Trigger.ProcessingTime(50)).start()
    try {
      q.processAllAvailable()
      assert(q.recentProgress.count(_.numInputRows > 0) >= 2,
        "t09 replay should run >1 non-empty micro-batch")
      val cols = "doc_id, n_words, mean_word_len, alpha_frac, symbol_ratio, " +
        "n_lines, bullet_frac, ellipsis_frac, stop_count, gopher_pass"
      val stream = spark.sql(s"SELECT $cols FROM so_t09_stream")
        .orderBy("doc_id").collect().map(_.toSeq)
      val batch = TextOps.gopherRules(docs).orderBy("doc_id")
        .collect().map(_.toSeq)
      assert(batch.exists(r => r(6).asInstanceOf[Double] > 0),
        "parity test is vacuous: no bullet lines landed")
      assert(stream.toSeq == batch.toSeq, "stream verdicts differ from batch")
    } finally q.stop()
  }

  test("cmsBuild runs unchanged on a stream: complete-mode counters equal the batch sketch") {
    import org.apache.spark.sql.functions._
    // The count-min sketch is a pure streaming aggregate — same code
    // path as batch (one API, both modes), counters maintained
    // incrementally across micro-batches.
    val dir = sf("sf0.001")
    val docs = graft.Tables.documents(spark, dir).select("doc_id", "text")
    val tmp = java.nio.file.Files.createTempDirectory("cmsreplay").toString
    // order-insensitive (complete-mode counters): batch COUNT is what
    // matters, and maxFilesPerTrigger=1 splits per file regardless of
    // mtime ties — asserted on query progress below
    docs.filter(col("doc_id") % 2 === 0).write.mode("overwrite").parquet(tmp)
    docs.filter(col("doc_id") % 2 =!= 0).write.mode("append").parquet(tmp)
    def toks(df: org.apache.spark.sql.DataFrame) = df
      .select(explode(split(trim(lower(col("text"))), "\\s+")).as("tok"))
      .filter(col("tok") =!= "")
    val streamed = spark.readStream.schema(docs.schema)
      .option("maxFilesPerTrigger", "1").parquet(tmp)
    val q = graft.operators.Sketch.cmsBuild(toks(streamed), "tok")
      .writeStream.format("memory").queryName("so_cms_stream")
      .outputMode("complete").trigger(Trigger.ProcessingTime(50)).start()
    try {
      q.processAllAvailable()
      assert(q.recentProgress.count(_.numInputRows > 0) >= 2,
        "CMS replay should run >1 non-empty micro-batch")
      val stream = spark.sql("SELECT row, bucket, cnt FROM so_cms_stream")
        .orderBy("row", "bucket").collect()
        .map(r => (r.getInt(0), r.getLong(1), r.getLong(2)))
      val batch = graft.operators.Sketch.cmsBuild(toks(docs), "tok")
        .orderBy("row", "bucket").collect()
        .map(r => (r.getInt(0), r.getLong(1), r.getLong(2)))
      assert(batch.nonEmpty)
      assert(stream.toSeq == batch.toSeq, "streaming CMS counters differ from batch")
    } finally q.stop()
  }

  test("transformWithState sequence monitor flags duplicates and reordering per shard") {
    import spark.implicits._
    // transformWithState needs the RocksDB state store (multiple column
    // families); the provider is captured at query start, so setting it
    // here doesn't affect the already-running/default-provider queries
    val providerKey = "spark.sql.streaming.stateStore.providerClass"
    val prevProvider = spark.conf.getOption(providerKey)
    spark.conf.set(providerKey,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    val mem = MemoryStream[KinesisRecord](spark)
    val anomalies = StreamOps.sequenceAnomalies(mem.toDS())
    val q = anomalies.writeStream.format("memory").queryName("so_seqmon")
      .outputMode("append").trigger(Trigger.ProcessingTime(50)).start()
    try {
      mem.addData(rec("s0", 1, 10, "a"), rec("s0", 2, 20, "a"),
        rec("s1", 5, 30, "b"))
      q.processAllAvailable()
      // next batch: a duplicate of seq 2 on s0, a reordered seq 3 on s1
      // (< last 5), and a legitimate advance on s0
      mem.addData(rec("s0", 2, 40, "a"), rec("s1", 3, 50, "b"), rec("s0", 7, 60, "a"))
      q.processAllAvailable()
      val got = spark.sql("SELECT shardId, sequenceNumber, kind FROM so_seqmon")
        .collect().map(r => (r.getString(0), r.getString(1), r.getString(2))).toSet
      assert(got == Set(
        ("s0", f"${2}%09d", "duplicate"),
        ("s1", f"${3}%09d", "reordered")), s"got $got")
      // state survived across batches: a later legit record is NOT flagged
      mem.addData(rec("s0", 8, 70, "a"))
      q.processAllAvailable()
      assert(spark.sql("SELECT count(*) FROM so_seqmon").head.getLong(0) == 2)
    } finally {
      q.stop()
      prevProvider match {
        case Some(p) => spark.conf.set(providerKey, p)
        case None => spark.conf.unset(providerKey)
      }
    }
  }

  test("kinesis sink round-trips through the source (produce then consume)") {
    import graft.sources.kinesis._
    import spark.implicits._
    FakeKinesisService.createStream("sink-rt", 2)
    KinesisRegistry.clients.put("sink-fake", new FakeKinesisClient())
    val mem = MemoryStream[(Array[Byte], String)](spark)
    val wq = mem.toDF().toDF("data", "partitionKey")
      .writeStream.foreach(new KinesisBatchSink("sink-rt", "sink-fake"))
      .trigger(Trigger.ProcessingTime(50)).start()
    try {
      mem.addData(("one".getBytes, "k1"), ("two".getBytes, "k2"), ("three".getBytes, "k3"),
        ("four".getBytes, "k1"))
      wq.processAllAvailable()
    } finally wq.stop()
    def consumed = spark.readStream.format("kinesis-graft")
      .option("streamName", "sink-rt").option("clientName", "sink-fake").load()
    val rq = consumed.writeStream.format("memory").queryName("so_sink_rt")
      .trigger(Trigger.ProcessingTime(50)).start()
    try {
      rq.processAllAvailable()
      val got = spark.sql("SELECT data FROM so_sink_rt").collect()
        .map(r => new String(r.getAs[Array[Byte]](0))).toSet
      assert(got == Set("one", "two", "three", "four"))
    } finally rq.stop()
    // the consumed records' running totals: k1 holds "one" and "four"
    val tq = StreamOps.runningTotals(consumed.as[KinesisRecord])
      .writeStream.format("memory").queryName("so_sink_totals")
      .outputMode("append").trigger(Trigger.ProcessingTime(50)).start()
    try {
      tq.processAllAvailable()
      val totals = spark.sql(
          "SELECT partitionKey, max(n_records), max(n_bytes) FROM so_sink_totals GROUP BY 1")
        .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
      assert(totals == Map("k1" -> (2L, 7L), "k2" -> (1L, 3L), "k3" -> (1L, 5L)), s"got $totals")
    } finally tq.stop()
  }

  test("query listener tracks progress like the reference's registry (O13)") {
    import spark.implicits._
    val listener = new GraftQueryListener
    spark.streams.addListener(listener)
    try {
      val mem = MemoryStream[KinesisRecord](spark)
      val q = mem.toDF().writeStream.format("memory").queryName("so_listener")
        .trigger(Trigger.ProcessingTime(50)).start()
      mem.addData(rec("s0", 1, 10, "a"), rec("s0", 2, 20, "b"))
      q.processAllAvailable()
      q.stop()
      q.awaitTermination(10000)
      val deadline = System.currentTimeMillis() + 5000
      var s = listener.snapshot.get("so_listener")
      while ((s.isEmpty || s.exists(_.running)) && System.currentTimeMillis() < deadline) {
        Thread.sleep(50); s = listener.snapshot.get("so_listener")
      }
      assert(s.isDefined, "listener missed the query")
      assert(s.get.inputRows == 2, s"expected 2 input rows, got ${s.get}")
      assert(!s.get.running, "termination not recorded")
    } finally spark.streams.removeListener(listener)
  }
}
