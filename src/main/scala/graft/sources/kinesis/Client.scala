package graft.sources.kinesis

import java.sql.Timestamp

import scala.collection.concurrent.TrieMap
import scala.collection.mutable

/** Client-side view of a shard (subset of AWS `types.Shard` the
  * reference uses via ListShards, kinesis.go:121-139).
  *
  * `adjacentParentShardId` is set on the child of a MERGE reshard (two
  * parents → one child, AWS `Shard.AdjacentParentShardId`); split
  * children carry only `parentShardId`. The planner gates a child until
  * EVERY parent it lists is drained — the reference's monitor treats
  * both reshard kinds with the same stop-the-world restart
  * (kinesis.go:84-93), so per-shard gating must cover both too.
  */
case class ShardInfo(shardId: String, parentShardId: Option[String],
    closed: Boolean, adjacentParentShardId: Option[String] = None)

/** One record as returned by the service (AWS `types.Record` fields the
  * reference touches — kinesis.go:34, 199; kinesis_test.go:22).
  */
case class ClientRecord(
    data: Array[Byte],
    partitionKey: String,
    sequenceNumber: String,
    arrival: Timestamp)

/** GetRecords response: a batch plus the next iterator; `nextIterator
  * == None` means the shard is closed and fully drained — the signal
  * the reference uses to delete the checkpoint and stop the reader
  * (kinesis.go:203-210).
  */
case class GetRecordsResult(records: Seq[ClientRecord], nextIterator: Option[String])

/** One record's outcome from a batch put: the assigned sequence on
  * success, an error code on failure (AWS PutRecords semantics —
  * partial failure is data, not an exception, so callers retry ONLY
  * the failed subset).
  */
case class PutResult(sequenceNumber: Option[String], errorCode: Option[String]) {
  def succeeded: Boolean = sequenceNumber.isDefined
}

/** Thrown when a shard iterator has gone stale; the reader re-acquires
  * one from its last sequence — the reference's error-path refresh
  * (kinesis.go:184-191), minus the nil-deref bug (SURVEY.md §2.1).
  */
class ExpiredIteratorException(msg: String) extends RuntimeException(msg)

/** The service interface the source depends on — the injectable twin of
  * the reference's concrete `NewClient` (kinesis.go:45-52, which is
  * constructed inside doHandle/goShard/monitor and therefore untestable;
  * SURVEY.md §5). [[AwsKinesisClient]] implements it over the v2 SDK
  * (bound by reflection, so the build stays offline);
  * [[FakeKinesisClient]] implements it deterministically for tests.
  *
  * Iterator semantics mirror sequence.go:74-89: TRIM_HORIZON to read a
  * shard from the start, AFTER_SEQUENCE_NUMBER to resume past a saved
  * checkpoint.
  */
trait KinesisLikeClient extends Serializable {
  /** ≈ ListShards (kinesis.go:121-128). */
  def listShards(streamName: String): Seq[ShardInfo]
  /** ≈ DescribeStreamSummary status (kinesis.go:71-77). */
  def streamStatus(streamName: String): String
  /** ≈ GetShardIterator (kinesis.go:164-171, sequence.go:74-89).
    * `afterSequence=None` → TRIM_HORIZON, else AFTER_SEQUENCE_NUMBER.
    */
  def getShardIterator(streamName: String, shardId: String,
      afterSequence: Option[String]): String
  /** ≈ GetRecords with Limit (kinesis.go:180-183). */
  def getRecords(iterator: String, limit: Int): GetRecordsResult
  /** ≈ PutRecord: append to the shard the partition key routes to;
    * returns the assigned sequence number. (Producer side — beyond the
    * consume-only reference, but expected of the engine's sink.)
    */
  def putRecord(streamName: String, partitionKey: String, data: Array[Byte]): String
  /** ≈ PutRecords — the BATCH producer API (up to 500 records per call
    * on AWS; one RPC per record is the wrong producer shape at scale).
    * Returns per-record outcomes in input order; failures don't throw.
    * The default is a per-record [[putRecord]] loop — correct for any
    * client; adapters with a native batch RPC override it
    * ([[AwsKinesisClient]] does).
    */
  def putRecords(streamName: String,
      records: Seq[(String, Array[Byte])]): Seq[PutResult] =
    records.map { case (key, data) =>
      try PutResult(Some(putRecord(streamName, key, data)), None)
      catch { case e: Exception => PutResult(None, Some(e.getClass.getSimpleName)) }
    }
  /** Planning helper: the sequence of the record `maxRecords` after
    * `afterSequence` (or the shard's last sequence if fewer remain),
    * plus whether the shard is closed. Lets the micro-batch planner cut
    * deterministic, admission-controlled end offsets. An AWS adapter
    * implements this with a metadata-only iterator scan.
    */
  def sequenceAfter(streamName: String, shardId: String,
      afterSequence: Option[String], maxRecords: Int): (Option[String], Boolean)
}

/** A client that accepts connection configuration before first use —
  * the path [[graft.streaming.GraftOption]]'s `region`/`sts` travel to
  * reach client construction, mirroring the reference's
  * `Option.GetConfig` feeding `NewClient` (option.go:36-43,
  * kinesis.go:45-52). The DSv2 factory calls [[configure]] with ALL
  * source options (lower-cased keys: `region`, `sts`, `streamname`, …)
  * right after instantiating/resolving the client.
  */
trait ConfigurableKinesisClient extends KinesisLikeClient {
  def configure(options: Map[String, String]): Unit
}

/** JVM-local deterministic Kinesis stand-in. Tests drive it directly:
  * create a stream, push records, split shards (reshard), flip status.
  * State lives in a static registry so serialized clients/readers in
  * local-mode executors see the same service.
  */
object FakeKinesisService {
  // All mutators hold THIS object's monitor — the same one
  // FakeKinesisClient's readers take — so a concurrent push can never
  // mutate a shard's record buffer mid-iteration (the volume spec
  // pushes tens of thousands of records while the query is running).
  final class ShardState(val shardId: String, val parent: Option[String],
      val adjacentParent: Option[String] = None) {
    var closed: Boolean = false
    val records: mutable.ArrayBuffer[ClientRecord] = mutable.ArrayBuffer.empty
  }
  final class StreamState {
    var status: String = "ACTIVE"
    val shards: mutable.LinkedHashMap[String, ShardState] = mutable.LinkedHashMap.empty
    var seqCounter: Long = 0L
  }

  private val streams = TrieMap.empty[String, StreamState]

  def reset(): Unit = streams.clear()

  def createStream(name: String, nShards: Int): Unit = this.synchronized {
    val st = new StreamState
    (0 until nShards).foreach { i =>
      val id = f"shardId-$i%012d"
      st.shards(id) = new ShardState(id, None)
    }
    streams(name) = st
  }

  /** Returns the assigned sequence number (monotonic per stream,
    * zero-padded so lexicographic order == numeric order). Records are
    * only ever appended, so each shard's records stay in increasing
    * sequence order; [[FakeKinesisClient]]'s lookups binary-search on it.
    */
  def push(name: String, shardId: String, partitionKey: String,
      data: Array[Byte], arrivalMs: Long = 1700000000000L): String = this.synchronized {
    val st = streams(name)
    val sh = st.shards(shardId)
    require(!sh.closed, s"cannot push to closed shard $shardId")
    st.seqCounter += 1
    val seq = f"${st.seqCounter}%021d"
    sh.records += ClientRecord(data, partitionKey, seq, new Timestamp(arrivalMs + st.seqCounter))
    seq
  }

  /** Reshard: close the parent, open two child shards (the scenario the
    * reference's monitor loop exists for — kinesis.go:58-98, README.md:6).
    */
  def splitShard(name: String, parentId: String): (String, String) = this.synchronized {
    val st = streams(name)
    val parent = st.shards(parentId)
    parent.closed = true
    val base = st.shards.size
    val c1 = f"shardId-$base%012d"
    val c2 = f"shardId-${base + 1}%012d"
    st.shards(c1) = new ShardState(c1, Some(parentId))
    st.shards(c2) = new ShardState(c2, Some(parentId))
    (c1, c2)
  }

  /** MERGE reshard: close BOTH parents, open one child that lists the
    * first as parent and the second as adjacent parent — AWS
    * MergeShards semantics (the child may only be read once both
    * parents are drained).
    */
  def mergeShards(name: String, parentId: String, adjacentId: String): String =
    this.synchronized {
      val st = streams(name)
      require(parentId != adjacentId, "merge needs two distinct parents")
      st.shards(parentId).closed = true
      st.shards(adjacentId).closed = true
      val c = f"shardId-${st.shards.size}%012d"
      st.shards(c) = new ShardState(c, Some(parentId), Some(adjacentId))
      c
    }

  def setStatus(name: String, status: String): Unit =
    this.synchronized { streams(name).status = status }

  // ---- accessors used by the fake client ----
  private[kinesis] def stream(name: String): StreamState =
    streams.getOrElse(name, throw new IllegalArgumentException(s"no such stream: $name"))
}

/** Deterministic client over [[FakeKinesisService]].
  *
  * @param expireEvery if > 0, every Nth getRecords call throws
  *        [[ExpiredIteratorException]] instead of serving — exercises
  *        the reader's iterator-refresh path (kinesis.go:184-191).
  */
class FakeKinesisClient(expireEvery: Int = 0) extends KinesisLikeClient {
  import FakeKinesisService._

  override def listShards(streamName: String): Seq[ShardInfo] =
    FakeKinesisService.synchronized {
      stream(streamName).shards.values.toSeq
        .map(s => ShardInfo(s.shardId, s.parent, s.closed, s.adjacentParent))
    }

  override def streamStatus(streamName: String): String =
    FakeKinesisService.synchronized { stream(streamName).status }

  // Iterator token: stream|shard|recordIndex|epoch. The epoch makes old
  // tokens detectably stale when expiry simulation is on.
  override def getShardIterator(streamName: String, shardId: String,
      afterSequence: Option[String]): String = FakeKinesisService.synchronized {
    val sh = stream(streamName).shards(shardId)
    val idx = afterSequence.fold(0)(FakeKinesisClient.firstAfter(sh.records, _))
    s"$streamName|$shardId|$idx|${FakeKinesisClient.epoch.get()}"
  }

  override def getRecords(iterator: String, limit: Int): GetRecordsResult =
    FakeKinesisService.synchronized {
      if (expireEvery > 0 &&
        FakeKinesisClient.calls.incrementAndGet() % expireEvery == 0) {
        FakeKinesisClient.epoch.incrementAndGet()
        throw new ExpiredIteratorException(s"iterator expired: $iterator")
      }
      val Array(streamName, shardId, idxStr, epochStr) = iterator.split('|')
      if (epochStr.toLong < FakeKinesisClient.epoch.get())
        throw new ExpiredIteratorException(s"iterator stale: $iterator")
      val sh = stream(streamName).shards(shardId)
      val idx = idxStr.toInt
      val end = math.min(idx + limit, sh.records.length)
      val recs = sh.records.slice(idx, end).toSeq
      val next =
        if (sh.closed && end >= sh.records.length) None // kinesis.go:203-210
        else Some(s"$streamName|$shardId|$end|${FakeKinesisClient.epoch.get()}")
      GetRecordsResult(recs, next)
    }

  override def putRecord(streamName: String, partitionKey: String,
      data: Array[Byte]): String = FakeKinesisService.synchronized {
    val open = stream(streamName).shards.values.filterNot(_.closed).toSeq
    require(open.nonEmpty, s"stream $streamName has no open shards")
    val shard = open(math.floorMod(partitionKey.hashCode, open.size))
    FakeKinesisService.push(streamName, shard.shardId, partitionKey, data)
  }

  override def sequenceAfter(streamName: String, shardId: String,
      afterSequence: Option[String], maxRecords: Int): (Option[String], Boolean) =
    FakeKinesisService.synchronized {
      val sh = stream(streamName).shards(shardId)
      val from = afterSequence.fold(0)(FakeKinesisClient.firstAfter(sh.records, _))
      val until = math.min(from + maxRecords, sh.records.length)
      val last = if (until > from) Some(sh.records(until - 1).sequenceNumber)
                 else afterSequence
      (last, sh.closed)
    }
}

object FakeKinesisClient {
  private[kinesis] val calls = new java.util.concurrent.atomic.AtomicLong(0)
  private[kinesis] val epoch = new java.util.concurrent.atomic.AtomicLong(0)

  /** Index of the first of a shard's `records` whose sequence is after
    * `seq` (`records.length` if none). A binary search, valid because a
    * shard's records are in increasing sequence order:
    * [[FakeKinesisService.push]] only appends, with sequences from one
    * counter per stream.
    */
  private def firstAfter(records: mutable.ArrayBuffer[ClientRecord], seq: String): Int = {
    var lo = 0
    var hi = records.length
    while (lo < hi) {
      val mid = (lo + hi) >>> 1
      if (SequenceOrder.leq(records(mid).sequenceNumber, seq)) lo = mid + 1 else hi = mid
    }
    lo
  }
}
