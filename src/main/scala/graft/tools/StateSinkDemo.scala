package graft.tools

import org.apache.spark.sql.streaming.Trigger

import graft.sources.kinesis._
import graft.streaming._

/** End-to-end drive of the producer sink + custom-state operator:
  * memory rows → KinesisBatchSink (putRecords) → fake stream →
  * kinesis-graft source → flatMapGroupsWithState running totals →
  * memory sink.
  */
object StateSinkDemo {
  def main(args: Array[String]): Unit = {
    val spark = ProbeSession.fixedCores(4, logLevel = "ERROR")
    import spark.implicits._

    FakeKinesisService.createStream("rt", 2)
    KinesisRegistry.clients.put("rtc", new FakeKinesisClient())

    // produce: 6 records, 2 keys, via the foreach sink
    val producer = Seq(("alpha", "k1"), ("beta", "k2"), ("gamma", "k1"),
      ("delta", "k2"), ("epsilon", "k1"), ("zeta", "k2"))
      .toDF("payload", "partitionKey")
      .selectExpr("CAST(payload AS BINARY) AS data", "partitionKey")
    val memIn = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Array[Byte], String)](spark)
    val wq = memIn.toDF().toDF("data", "partitionKey")
      .writeStream.foreach(new KinesisBatchSink("rt", "rtc"))
      .trigger(Trigger.ProcessingTime(50)).start()
    memIn.addData(producer.collect().map(r =>
      (r.getAs[Array[Byte]]("data"), r.getAs[String]("partitionKey"))).toSeq: _*)
    wq.processAllAvailable(); wq.stop()

    // consume: source → typed → running totals
    val src = spark.readStream.format("kinesis-graft")
      .option("streamName", "rt").option("clientName", "rtc").load()
      .as[KinesisRecord]
    val rq = StreamOps.runningTotals(src)
      .writeStream.format("memory").queryName("rt_totals")
      .outputMode("append").trigger(Trigger.ProcessingTime(50)).start()
    rq.processAllAvailable()
    spark.sql("SELECT partitionKey, max(n_records) n, max(n_bytes) b FROM rt_totals GROUP BY 1 ORDER BY 1")
      .collect().foreach(r => println(s"TOTAL ${r.getString(0)} n=${r.getLong(1)} bytes=${r.getLong(2)}"))
    rq.stop()
    // probe: sink against a stream with no open shards
    FakeKinesisService.createStream("empty", 1)
    FakeKinesisService.splitShard("empty", "shardId-000000000000") // children open
    FakeKinesisService.createStream("allclosed", 1)
    val st = FakeKinesisService
    try {
      val c = new FakeKinesisClient()
      // close the only shard, then put
      FakeKinesisService.splitShard("allclosed", "shardId-000000000000")
      // children are open, so route succeeds:
      val seq = c.putRecord("allclosed", "kX", "x".getBytes)
      println("PUT_AFTER_RESHARD=" + (seq.nonEmpty))
    } catch { case e: Throwable => println("PUT_ERR=" + e.getMessage) }
    spark.stop()
  }
}
