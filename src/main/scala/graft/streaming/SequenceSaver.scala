package graft.streaming

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}

import scala.collection.concurrent.TrieMap

/** Pluggable per-shard checkpoint store — the Spark mirror of the
  * reference's `SequenceSaver` interface (sequence.go:20-24):
  * `Get`/`Set`/`Del` keyed by (streamName, shardId), values are opaque
  * sequence-number strings.
  *
  * In Spark the authoritative offset log is the Structured Streaming
  * checkpoint WAL; a SequenceSaver is the *user-visible* twin the
  * reference exposes (resume-from-saved-sequence, delete-on-shard-close
  * — sequence.go:26-36, 46-53). Each saver has one writer. The DSv2
  * source (graft.sources.kinesis) consults it for initial offsets,
  * writes each shard's last WAL-committed sequence (so the saver never
  * leads the WAL) and deletes drained closed shards from it.
  */
trait SequenceSaver {
  def get(streamName: String, shardId: String): Option[String]
  def set(streamName: String, shardId: String, sequence: String): Unit
  def del(streamName: String, shardId: String): Unit
}

/** Thread-safe in-memory saver (test/default, ≈ running the reference
  * with no saver — except the reference then always restarts from
  * TRIM_HORIZON, sequence.go:27-29; here the offsets simply don't
  * survive the JVM).
  */
class InMemorySequenceSaver extends SequenceSaver {
  private val m = TrieMap.empty[(String, String), String]
  override def get(streamName: String, shardId: String): Option[String] =
    m.get((streamName, shardId))
  override def set(streamName: String, shardId: String, sequence: String): Unit =
    m.put((streamName, shardId), sequence)
  override def del(streamName: String, shardId: String): Unit =
    m.remove((streamName, shardId))
  def snapshot: Map[(String, String), String] = m.toMap
}

/** File-backed saver: one file per (stream, shard) under `root`.
  * Durable across restarts; the stand-in for the Redis/DynamoDB savers
  * a reference user would plug in. Writes are atomic (tmp + move).
  */
class FileSequenceSaver(root: String) extends SequenceSaver {
  private def p(streamName: String, shardId: String): Path =
    Paths.get(root, streamName, shardId)
  override def get(streamName: String, shardId: String): Option[String] = {
    val f = p(streamName, shardId)
    if (Files.exists(f)) Some(new String(Files.readAllBytes(f), StandardCharsets.UTF_8))
    else None
  }
  override def set(streamName: String, shardId: String, sequence: String): Unit = {
    val f = p(streamName, shardId)
    Files.createDirectories(f.getParent)
    val tmp = f.resolveSibling(f.getFileName.toString + ".tmp")
    Files.write(tmp, sequence.getBytes(StandardCharsets.UTF_8))
    Files.move(tmp, f, java.nio.file.StandardCopyOption.REPLACE_EXISTING,
      java.nio.file.StandardCopyOption.ATOMIC_MOVE)
  }
  override def del(streamName: String, shardId: String): Unit =
    Files.deleteIfExists(p(streamName, shardId))
}

/** Retry wrapper ≈ `Sequence.sync` (sequence.go:55-72, default 3 tries
  * at sequence.go:98) — but *fixed*: the reference's inner `err :=`
  * shadows the outer error so sync returns nil even when every retry
  * failed (SURVEY.md §2.1 "known bugs"). Here the final failure
  * propagates.
  */
class RetryingSaver(underlying: SequenceSaver, retries: Int = 3) extends SequenceSaver {
  private def withRetry[T](f: => T): T = {
    var attempt = 0
    var last: Throwable = null
    while (attempt < retries) {
      try return f
      catch { case e: Throwable => last = e; attempt += 1 }
    }
    throw last
  }
  override def get(streamName: String, shardId: String): Option[String] =
    withRetry(underlying.get(streamName, shardId))
  override def set(streamName: String, shardId: String, sequence: String): Unit =
    withRetry(underlying.set(streamName, shardId, sequence))
  override def del(streamName: String, shardId: String): Unit =
    withRetry(underlying.del(streamName, shardId))
}
