package graft.sources.kinesis

import org.apache.spark.sql.{ForeachWriter, Row}

/** Write-back side: a ForeachWriter pushing rows into a Kinesis-style
  * stream (the producer twin of the source — the reference library is
  * consume-only, so this extends its surface the way a Spark user
  * expects: `df.writeStream.foreach(new KinesisBatchSink(...)).start()`).
  *
  * Rows need `data: binary` and `partitionKey: string` columns; the
  * client routes each record to a shard by partition key. Rows are
  * buffered and flushed through the batch `putRecords` RPC (≤500
  * records or ~`maxBytes` per call — the AWS PutRecords envelope)
  * instead of one RPC per row. Partial failures are retried as a
  * SUBSET — succeeded entries are never resent within an attempt
  * cycle — with bounded backoff; records still failing after
  * `maxRetries` fail the task, which Spark retries whole. Delivery is
  * at-least-once, per Spark's foreach contract.
  *
  * At 1000 executors this is the difference between rows/500 and rows
  * RPCs against a 1000-records/s/shard service limit.
  */
class KinesisBatchSink(streamName: String, clientName: String,
    maxBatch: Int = 500, maxBytes: Long = 4L << 20,
    maxRetries: Int = 3, retryBackoffMs: Long = 100)
  extends ForeachWriter[Row] {

  require(maxBatch >= 1 && maxBatch <= 500,
    s"maxBatch must be in [1, 500], got $maxBatch")

  @transient private var client: KinesisLikeClient = _
  @transient private var buf: scala.collection.mutable.ArrayBuffer[(String, Array[Byte])] = _
  @transient private var bufBytes: Long = 0L

  override def open(partitionId: Long, epochId: Long): Boolean = {
    client = KinesisRegistry.clients.getOrElse(clientName,
      throw new IllegalArgumentException(s"no client registered as '$clientName'"))
    buf = scala.collection.mutable.ArrayBuffer.empty
    bufBytes = 0L
    true
  }

  override def process(row: Row): Unit = {
    val key = row.getAs[String]("partitionKey")
    val data = row.getAs[Array[Byte]]("data")
    // AWS sizes the envelope in UTF-8 bytes (key chars ≠ bytes), and a
    // flush AFTER appending could exceed maxBytes by a full record
    // (4 MiB default + an up-to-1 MiB record brushes the 5 MB
    // PutRecords request cap) — so flush BEFORE the record that would
    // cross the line
    val recBytes = data.length.toLong +
      key.getBytes(java.nio.charset.StandardCharsets.UTF_8).length
    if (buf.nonEmpty && bufBytes + recBytes > maxBytes) flush()
    buf += ((key, data))
    bufBytes += recBytes
    if (buf.size >= maxBatch) flush()
  }

  private def flush(): Unit = {
    var pending: Seq[(String, Array[Byte])] = buf.toSeq
    buf.clear(); bufBytes = 0L
    var attempt = 0
    while (pending.nonEmpty) {
      val results = client.putRecords(streamName, pending)
      pending = pending.zip(results).collect {
        case (rec, r) if !r.succeeded => rec
      }
      if (pending.nonEmpty) {
        if (attempt >= maxRetries)
          throw new RuntimeException(
            s"${pending.size} record(s) still failing after $maxRetries retries")
        Thread.sleep(retryBackoffMs << attempt)
        attempt += 1
      }
    }
  }

  override def close(errorOrNull: Throwable): Unit =
    // only flush a cleanly-finished epoch: on task failure Spark
    // replays the whole epoch, and flushing the partial buffer here
    // would just duplicate rows the retry is about to resend anyway
    if (errorOrNull == null && buf != null && buf.nonEmpty) flush()
}
