package graft.tools

import org.apache.spark.sql.streaming.Trigger
import graft.sources.kinesis._
import graft.streaming.{InMemorySequenceSaver, SequenceSaver}

object SourceDemo {
  class ProbeSaver extends SequenceSaver {
    val inner = new InMemorySequenceSaver
    @volatile var sets = 0L
    @volatile var dels = 0L
    def get(st: String, sh: String): Option[String] = inner.get(st, sh)
    def set(st: String, sh: String, sq: String): Unit = { sets += 1; inner.set(st, sh, sq) }
    def del(st: String, sh: String): Unit = { dels += 1; inner.del(st, sh) }
  }

  def main(args: Array[String]): Unit = {
    val spark = ProbeSession.fixedCores(4, logLevel = "ERROR")
    FakeKinesisService.createStream("demo", 2)
    KinesisRegistry.clients.put("fake", new FakeKinesisClient())
    val saver = new ProbeSaver
    KinesisRegistry.savers.put("probe", saver)
    (1 to 6).foreach(i => FakeKinesisService.push("demo", "shardId-000000000000", "pk", s"a$i".getBytes))
    (1 to 2).foreach(i => FakeKinesisService.push("demo", "shardId-000000000001", "pk", s"b$i".getBytes))
    val df = spark.readStream.format("kinesis-graft")
      .option("streamName", "demo").option("clientName", "fake")
      .option("saverName", "probe").load()
    val q = df.writeStream.format("memory").queryName("demo_out")
      .trigger(Trigger.ProcessingTime(50)).start()
    q.processAllAvailable()
    println("ROWS=" + spark.sql("SELECT count(*) FROM demo_out").head.getLong(0))
    Thread.sleep(1000)
    println("SETS=" + saver.sets + " DELS=" + saver.dels)
    println("SAVED=" + saver.inner.snapshot)
    q.stop()
    spark.stop()
  }
}
