package graft.sources.kinesis

import scala.collection.concurrent.TrieMap
import scala.collection.mutable

import org.apache.spark.internal.Logging
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.catalyst.util.DateTimeUtils
import org.apache.spark.sql.connector.read.{InputPartition, PartitionReader, PartitionReaderFactory}
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset, ReadLimit, ReadMaxRows, ReportsSourceMetrics, SupportsAdmissionControl, SupportsTriggerAvailableNow}
import org.apache.spark.unsafe.types.UTF8String

import graft.streaming.SequenceSaver

/** Test/DI registry for savers and clients referenced by name in
  * DataSource options (reflection can't carry constructor args).
  * `GraftConsumer.start` registers the consumer's saver here under its
  * query name, `graft-consumer-<streamName>`, so that the source it
  * builds is that saver's one writer.
  */
object KinesisRegistry {
  val savers: TrieMap[String, SequenceSaver] = TrieMap.empty
  val clients: TrieMap[String, KinesisLikeClient] = TrieMap.empty
}

/** Numeric order for opaque digit-string sequence numbers of any
  * length: leading zeros are stripped before the (length, value)
  * compare, so "100" vs "0099" orders numerically (100 > 99). AWS
  * sequences are fixed-width so plain string order would happen to
  * work, but custom clients (clientClass option) may pad
  * inconsistently — the exact case this ordering exists to handle.
  */
object SequenceOrder {
  private def firstNonZero(s: String): Int = {
    var i = 0
    while (i < s.length && s.charAt(i) == '0') i += 1
    i
  }
  /** `""` (the TRIM_HORIZON "nothing consumed yet" sentinel) is kept
    * STRICTLY minimal: `"" leq x` for every x, and `x leq ""` only for
    * x == "" — it must never compare equal to a real sequence number
    * "0" (stripping zeros would otherwise map both to ""). Current call
    * sites filter the sentinel before comparing; this ordering makes a
    * future caller that forgets safe too. Runs per record, so it
    * compares in place instead of allocating stripped copies.
    */
  def leq(a: String, b: String): Boolean = {
    if (a.isEmpty) true
    else if (b.isEmpty) false
    else {
      val ia = firstNonZero(a)
      val ib = firstNonZero(b)
      val n = a.length - ia
      if (n != b.length - ib) n < b.length - ib
      else {
        var k = 0
        while (k < n && a.charAt(ia + k) == b.charAt(ib + k)) k += 1
        k == n || a.charAt(ia + k) < b.charAt(ib + k)
      }
    }
  }
}

/** One micro-batch work unit: a shard slice (start, end] by sequence. */
case class KinesisInputPartition(
    streamName: String,
    shardId: String,
    afterSequence: Option[String],
    endSequence: String,
    fetchSize: Int) extends InputPartition

/** The micro-batch stream — the Spark re-expression of the reference's
  * whole runtime (SURVEY.md §2 operator map):
  *
  *  - O1 shard discovery + O9 reshard recovery → [[latestOffset]]
  *    re-lists shards every batch (no monitor thread needed; children
  *    are gated until their parent is drained, preserving Kinesis
  *    parent-before-child order — stronger than the reference, which
  *    pauses the whole stream until all parents close, kinesis.go:84-93)
  *  - one drained-shard rule → `Round`: each planning round decides,
  *    at its start positions and its shard listing, with at most one
  *    probe per shard and none for a shard listed open,
  *    which shards are drained (closed, nothing after the start) and
  *    which children are gated; gating, admission, metrics and the
  *    saver sync (O5/O8/O9) all read that one view
  *  - O3/O7 start-position resolution → [[initialOffset]]: saved
  *    sequence from the SequenceSaver if present (AFTER_SEQUENCE_NUMBER),
  *    else TRIM_HORIZON (sequence.go:74-89, 26-36); a drained parent of
  *    a resumed child starts at its end
  *  - O2/O11 per-shard poll + iterator refresh → [[KinesisPartitionReader]]
  *  - O5 batch-granularity checkpoint → [[latestOffset]] writes each
  *    shard's last WAL-committed sequence to the saver
  *    (kinesis.go:198-201); the source is the saver's only writer
  *  - O8 closed-shard checkpoint delete → the same write deletes the
  *    entry of a shard the round finds drained (kinesis.go:203-210,
  *    sequence.go:51-53)
  *  - O10 admission control → per-shard maxRecordsPerFetch cap
  *    (kinesis.go:182's Limit: 1000), integrated with Spark's
  *    ReadLimit/maxRows
  */
class KinesisMicroBatchStream(
    streamName: String,
    client: KinesisLikeClient,
    saver: Option[SequenceSaver],
    maxRecordsPerFetch: Int)
  extends MicroBatchStream with SupportsAdmissionControl
  with SupportsTriggerAvailableNow with ReportsSourceMetrics with Logging {

  // O13 observability, DSv2-native: per-batch planner state surfaced
  // into StreamingQueryProgress.sources[].metrics — the queryable twin
  // of the reference's 20s shard-registry log lines (kinesis.go:100-108)
  // and of [[graft.streaming.GraftQueryListener]]'s query-level stats.
  // Updated by [[latestOffset]] (planning), read by the progress
  // reporter; Strings per the DSv2 metrics contract.
  @volatile private var metricsSnapshot: Map[String, String] = Map.empty

  override def metrics(latestConsumedOffset: java.util.Optional[Offset]): java.util.Map[String, String] = {
    val m = new java.util.HashMap[String, String]()
    metricsSnapshot.foreach { case (k, v) => m.put(k, v) }
    m
  }

  override def getDefaultReadLimit: ReadLimit = ReadLimit.maxRows(maxRecordsPerFetch.toLong)

  // Trigger.AvailableNow (backfill mode): the stream tail is captured
  // once at query start; every batch still honors the admission cap,
  // ends are clamped to the captured tail, and shards created after the
  // capture are not admitted — so the query drains exactly the data
  // that existed at start and terminates. Caveat: if the stream leaves
  // ACTIVE mid-backfill, the status gate below holds offsets (empty
  // batches) until it is ACTIVE again — a stream DELETED mid-backfill
  // therefore idles until the query's own timeout/stop, the same
  // stop-the-world behavior the reference's monitor applies
  // (kinesis.go:84-93); deliberate, since emitting a partial backfill
  // as "complete" would be worse.
  @volatile private var availableNowTarget: Option[Map[String, String]] = None

  override def prepareForTriggerAvailableNow(): Unit = {
    val shards = client.listShards(streamName)
    val target = shards.map { sh =>
      val (lastOpt, _) =
        client.sequenceAfter(streamName, sh.shardId, None, Int.MaxValue)
      sh.shardId -> lastOpt.getOrElse("")
    }.toMap
    availableNowTarget = Some(target)
    logInfo(s"AvailableNow: captured tail for ${target.size} shard(s) of $streamName")
  }

  /** O3/O7: resolve each live shard's start position. A drained closed
    * shard has no saver entry (O8), so a closed shard with no entry but
    * with a descendant that has one was drained before that descendant
    * was read: it starts at its last sequence. From TRIM_HORIZON it would
    * be read again, and would hold back its children (gating) until then.
    */
  override def initialOffset(): Offset = {
    val shards = client.listShards(streamName)
    val saved = shards.flatMap(sh =>
      saver.flatMap(_.get(streamName, sh.shardId)).map(sh.shardId -> _)).toMap
    val children = shards
      .flatMap(sh => (sh.parentShardId.toSeq ++ sh.adjacentParentShardId).map(_ -> sh.shardId))
      .groupMap(_._1)(_._2)
    def resumed(shardId: String): Boolean =
      saved.contains(shardId) || children.getOrElse(shardId, Nil).exists(resumed)
    val positions = shards.map { sh =>
      val drained = sh.closed && !saved.contains(sh.shardId) && resumed(sh.shardId)
      val start =
        if (drained) client.sequenceAfter(streamName, sh.shardId, None, Int.MaxValue)._1
        else saved.get(sh.shardId)
      sh.shardId -> start.getOrElse("") // "" = TRIM_HORIZON (sequence.go:83-86)
    }.toMap
    // gate against the same (pre-batch) positions: nothing consumed yet
    KinesisOffset(positions -- new Round(positions, shards).gated(shards))
  }

  override def latestOffset(): Offset =
    throw new UnsupportedOperationException(
      "latestOffset(start, limit) is used via SupportsAdmissionControl")

  /** O1 + O9 + O10: discover shards, advance each shard's end position
    * by at most the per-shard cap, hold back gated children.
    */
  override def latestOffset(start: Offset, limit: ReadLimit): Offset = {
    val startPos = start.asInstanceOf[KinesisOffset].positions
    // `start` is the last WAL-committed offset: each round mirrors it
    // into the user-visible saver (syncSaver), the saver's one write
    // site. So the saver never leads the WAL, and in tail mode trails it
    // by at most one trigger (the reference writes after every batch,
    // kinesis.go:198-201).
    // O9 (status half): while the stream is not ACTIVE (UPDATING /
    // DELETING / CREATING), hold the offsets — an empty batch, no new
    // admission — and resume from the same positions once ACTIVE again.
    // The reference's monitor stops all readers while the stream is not
    // active and restarts them when it is (kinesis.go:84-93, README.md:6).
    // A held round lists no shards (on AWS, ListShards can fail while a
    // stream is CREATING or DELETING), so its saver sync probes.
    val status = client.streamStatus(streamName)
    if (status != "ACTIVE") {
      syncSaver(new Round(startPos, Nil))
      logInfo(s"stream $streamName status=$status: holding offsets (no admission)")
      metricsSnapshot = Map("streamStatus" -> status, "holdingOffsets" -> "true")
      return KinesisOffset(startPos)
    }
    val shards = client.listShards(streamName)
    val round = new Round(startPos, shards)
    syncSaver(round)
    // Children are gated against the START positions: a child may only
    // enter the offset map once its parent was fully consumed by a
    // PREVIOUS (committed) batch — never in the same batch that reads
    // the parent's tail, which would let a downstream observer see
    // child records before the parent's final ones.
    val gated = round.gated(shards)
    // Admission cap divides over shards that can actually produce rows
    // THIS batch: closed drained parents linger in listShards forever,
    // and gated children wait for their parents — neither may dilute
    // live shards' share. An open shard counts without a probe.
    val producing = shards.count(sh => !gated(sh.shardId) && !round.drained(sh.shardId))
    val perShard = limit match {
      case r: ReadMaxRows =>
        math.max(1, (r.maxRows() / math.max(1, producing)).toInt)
      case _ => maxRecordsPerFetch
    }
    admittedPerShard = Some(perShard)
    metricsSnapshot = Map(
      "streamStatus" -> status,
      "holdingOffsets" -> "false",
      "numShards" -> shards.size.toString,
      "numClosedShards" -> shards.count(_.closed).toString,
      "numGatedChildren" -> gated.size.toString,
      "numProducingShards" -> producing.toString,
      "admittedPerShard" -> perShard.toString)
    val known = startPos.keySet ++ shards.map(_.shardId) -- gated
    val positions = known.map { shardId =>
      val after = startPos.get(shardId).filter(_.nonEmpty)
      val (lastOpt, _) = client.sequenceAfter(streamName, shardId, after, perShard)
      // Drained closed shards KEEP their final position in the offset
      // map — dropping them would let the next shard discovery
      // resurrect them at TRIM_HORIZON and re-read the whole shard.
      // (Their saver entry is still deleted by syncSaver, O8.)
      shardId -> lastOpt.getOrElse("")
    }.toMap
    // AvailableNow: clamp every shard's end to the captured tail; drop
    // shards born after the capture (they're outside the backfill's
    // target); shards tracked in startPos but absent from the capture
    // (e.g. a tombstoned drained shard the client stopped listing) keep
    // their start position unchanged — dropping them would discard the
    // drained-shard guard and re-read the shard on the next discovery.
    val clamped = availableNowTarget match {
      case None => positions
      case Some(target) =>
        positions.flatMap { case (shardId, seq) =>
          target.get(shardId) match {
            case Some(cap) =>
              Some(shardId -> (if (cap.isEmpty || (seq.nonEmpty && !seqLeq(seq, cap))) cap
                               else seq))
            case None =>
              startPos.get(shardId).map(shardId -> _)
          }
        }
    }
    KinesisOffset(clamped)
  }

  private def seqLeq(a: String, b: String): Boolean = SequenceOrder.leq(a, b)

  /** One planning round's view of the shards at its start positions
    * `basis` (shardId → last consumed sequence, "" = TRIM_HORIZON) and
    * its shard `listing` (empty in a held round, which lists none).
    * Every drained-shard decision of the round reads it, so a shard is
    * probed at most once per round (`sequenceAfter(start, 1)`, a
    * GetRecords call on AWS), and only when a decision needs it.
    */
  private final class Round(val basis: Map[String, String], listing: Seq[ShardInfo]) {
    private val probes = mutable.HashMap.empty[String, (Option[String], Boolean)]
    private val listedOpen = listing.filterNot(_.closed).map(_.shardId).toSet

    /** Closed, with nothing after its start position: the shard has been
      * read to its end (kinesis.go:203-210). A shard absent from `basis`
      * starts at TRIM_HORIZON, so it is drained only if it is empty. A
      * shard the listing reports open is not drained, without a probe;
      * one the listing does not hold is probed.
      */
    def drained(shardId: String): Boolean = !listedOpen(shardId) && {
      val after = basis.get(shardId).filter(_.nonEmpty)
      val (lastOpt, closed) = probes.getOrElseUpdate(shardId,
        client.sequenceAfter(streamName, shardId, after, 1))
      closed && lastOpt.forall(l => after.exists(seqLeq(l, _)))
    }

    /** The listed children with a listed parent that is not drained:
      * they must wait, to preserve Kinesis parent-before-child order. A
      * split child lists one parent; a MERGE child lists two (parent +
      * adjacent parent) and waits for BOTH — reading it after only one
      * parent drained could surface post-merge records before the other
      * parent's final ones.
      */
    def gated(shards: Seq[ShardInfo]): Set[String] = {
      val listed = shards.map(_.shardId).toSet
      shards.filter(sh => (sh.parentShardId.toSeq ++ sh.adjacentParentShardId)
        .exists(p => listed(p) && !drained(p))).map(_.shardId).toSet
    }
  }

  // Per-shard admission of the last planning round: no slice it cut
  // holds more records, so no reader needs to fetch more. None until
  // [[latestOffset]] has run, e.g. for a batch replayed from the WAL.
  @volatile private var admittedPerShard: Option[Int] = None

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val s = start.asInstanceOf[KinesisOffset].positions
    val e = end.asInstanceOf[KinesisOffset].positions
    val fetchSize = admittedPerShard.fold(maxRecordsPerFetch)(math.min(maxRecordsPerFetch, _))
    e.toSeq.sorted.flatMap { case (shardId, endSeq) =>
      val startSeq = s.get(shardId).filter(_.nonEmpty)
      if (endSeq.nonEmpty && !startSeq.contains(endSeq))
        Some(KinesisInputPartition(streamName, shardId, startSeq, endSeq, fetchSize))
      else None // nothing new in this shard this batch
    }.toArray
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new KinesisPartitionReaderFactory(client)

  /** Does nothing: [[latestOffset]] has already synced these positions.
    * Spark 4.1.2's MicroBatchExecution calls `commit(end of batch N-1)`
    * from inside batch N's `walCommit`, after `latestOffset(start = end
    * of N-1)` has written the same positions to the saver. Syncing again
    * would write nothing (`lastSynced` dedupes it) yet would still probe
    * `sequenceAfter` once per shard, a GetRecords call on AWS.
    */
  override def commit(end: Offset): Unit = ()

  // Last (sequence, drained) state pushed to the saver per shard —
  // dedupes saver writes across triggers. Drained-ness is part of the
  // key: a shard's sequence stops moving when it closes, but the
  // set→del transition (O8) must still fire.
  private var lastSynced: Map[String, (String, Boolean)] = Map.empty

  /** O5 + O8: batch-granularity saver maintenance. Open (or partially
    * read) shards get their last sequence written (kinesis.go:198-201);
    * a shard the round finds drained gets its entry *deleted*
    * (kinesis.go:203-210, sequence.go:51-53). A saver-only restart
    * resumes each shard from its entry and skips a drained parent once a
    * child has an entry ([[initialOffset]]); a parent whose children have
    * none yet is read again from TRIM_HORIZON, like the reference's
    * at-least-once restart.
    */
  private def syncSaver(round: Round): Unit = saver.foreach { sv =>
    round.basis.foreach { case (shardId, seq) =>
      if (seq.nonEmpty) {
        val drained = round.drained(shardId)
        if (!lastSynced.get(shardId).contains((seq, drained))) {
          if (drained) sv.del(streamName, shardId)
          else sv.set(streamName, shardId, seq)
          lastSynced += (shardId -> ((seq, drained)))
        }
      }
    }
  }

  override def deserializeOffset(json: String): Offset = KinesisOffset.fromJson(json)
  override def stop(): Unit = ()
}

class KinesisPartitionReaderFactory(client: KinesisLikeClient)
  extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] =
    new KinesisPartitionReader(partition.asInstanceOf[KinesisInputPartition], client)
}

/** O2: the per-shard poll loop (kinesis.go:156-214) as a partition
  * reader. Reads (afterSequence, endSequence] exactly: records past the
  * batch's end offset are not emitted (they belong to the next batch,
  * keeping replay deterministic). O11: on iterator expiry the reader
  * re-acquires from the last consumed sequence and continues —
  * the reference's refresh (kinesis.go:184-191) without its ignored
  * error/nil-deref.
  */
class KinesisPartitionReader(p: KinesisInputPartition, client: KinesisLikeClient)
  extends PartitionReader[InternalRow] with Logging {

  private var iterator: Option[String] =
    Some(client.getShardIterator(p.streamName, p.shardId, p.afterSequence))
  private var lastConsumed: Option[String] = p.afterSequence
  private var buffer: Iterator[ClientRecord] = Iterator.empty
  private var current: ClientRecord = _
  private var done = false
  // Consecutive expiry refreshes without a successful fetch. A
  // permanently invalid iterator (e.g. a slice aged past the stream's
  // retention) must fail the task for Spark to retry/surface it —
  // not busy-spin the refresh loop forever.
  private var refreshes = 0
  private val maxRefreshes = 10

  private val stream = UTF8String.fromString(p.streamName)
  private val shard = UTF8String.fromString(p.shardId)

  override def next(): Boolean = {
    while (!done) {
      if (buffer.hasNext) {
        val rec = buffer.next()
        if (SequenceOrder.leq(rec.sequenceNumber, p.endSequence)) {
          current = rec
          lastConsumed = Some(rec.sequenceNumber)
          if (rec.sequenceNumber == p.endSequence) done = true
          return true
        } else { done = true; return false }
      }
      if (lastConsumed.contains(p.endSequence)) { done = true; return false }
      iterator match {
        case None => done = true; return false // shard closed mid-slice
        case Some(it) =>
          try {
            val res = client.getRecords(it, p.fetchSize)
            refreshes = 0
            buffer = res.records.iterator
            iterator = res.nextIterator
            if (res.records.isEmpty && res.nextIterator.isEmpty) done = true
          } catch {
            case e: ExpiredIteratorException =>
              refreshes += 1
              if (refreshes > maxRefreshes)
                throw new IllegalStateException(
                  s"shard ${p.shardId}: iterator still expired after $maxRefreshes refreshes", e)
              logInfo(s"refreshing expired iterator for ${p.shardId} " +
                s"(attempt $refreshes/$maxRefreshes): ${e.getMessage}")
              // Linear backoff: expiry right after a refresh means the
              // service keeps invalidating us; don't hammer it.
              if (refreshes > 1) Thread.sleep(50L * refreshes)
              iterator = Some(client.getShardIterator(p.streamName, p.shardId, lastConsumed))
          }
      }
    }
    false
  }

  override def get(): InternalRow = {
    val r = new GenericInternalRow(6)
    r.update(0, current.data)
    r.update(1, UTF8String.fromString(current.partitionKey))
    r.update(2, UTF8String.fromString(current.sequenceNumber))
    r.setLong(3, DateTimeUtils.fromJavaTimestamp(current.arrival))
    r.update(4, stream)
    r.update(5, shard)
    r
  }

  override def close(): Unit = ()
}
