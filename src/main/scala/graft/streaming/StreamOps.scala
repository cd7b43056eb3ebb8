package graft.streaming

import scala.collection.concurrent.TrieMap

import org.apache.spark.sql.{DataFrame, KeyValueGroupedDataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQueryListener

/** Streaming transforms over the record envelope — the event-time
  * operator set the reference cannot express (its payloads are opaque
  * and it never compares timestamps, SURVEY.md §2.2) but a Spark-native
  * engine gets from Structured Streaming. All operators take and
  * return streaming DataFrames so they compose with the kinesis-graft
  * source and the GraftConsumer sink side.
  *
  * State sizing at scale: every operator here bounds its state with a
  * watermark — without one, streaming dedup/windows grow state forever
  * at 100 TB/day ingest.
  */
object StreamOps {

  /** Streaming exact dedup: keeps the first record per key, with state
    * bounded by the watermark horizon (late duplicates beyond it are
    * not caught — the standard trade).
    */
  def dedupWithinWatermark(df: DataFrame, tsCol: String, watermark: String,
      keys: Seq[String]): DataFrame =
    df.withWatermark(tsCol, watermark)
      .dropDuplicatesWithinWatermark(keys.head, keys.tail: _*)

  /** Tumbling event-time window counts per key (append mode capable —
    * emits only finalized windows once the watermark passes).
    */
  def tumblingCounts(df: DataFrame, tsCol: String, watermark: String,
      windowDuration: String, keys: Seq[String]): DataFrame =
    df.withWatermark(tsCol, watermark)
      .groupBy(window(col(tsCol), windowDuration) +: keys.map(col): _*)
      .agg(count(lit(1)).as("n"))

  /** Gap-based session windows per key (the streaming twin of the
    * batch q22_sessionize operator).
    */
  def sessionCounts(df: DataFrame, tsCol: String, watermark: String,
      gap: String, keys: Seq[String]): DataFrame =
    df.withWatermark(tsCol, watermark)
      .groupBy(session_window(col(tsCol), gap) +: keys.map(col): _*)
      .agg(count(lit(1)).as("n"))

  /** Stream-stream interval join: each left record matched to right
    * records with the same key whose event time falls in
    * [left.ts, left.ts + within]. Both sides carry watermarks so the
    * join state is bounded (Spark drops buffered rows once the
    * watermark passes the interval). Works on any pair of streams
    * sharing `keyCol`/`tsCol`; ALL columns of both sides are carried
    * through, prefixed l_/r_ to avoid name collisions.
    */
  def intervalJoin(left: DataFrame, right: DataFrame, keyCol: String,
      tsCol: String, within: String, watermark: String,
      joinType: String = "inner"): DataFrame = {
    def prefixed(df: DataFrame, p: String): DataFrame =
      df.select(df.columns.map(c => col(c).as(p + c)).toSeq: _*)
    val l = prefixed(left, "l_").withWatermark(s"l_$tsCol", watermark)
    val r = prefixed(right, "r_").withWatermark(s"r_$tsCol", watermark)
    // joinType "leftOuter"/"rightOuter": unmatched rows are emitted with
    // nulls once the watermark passes their interval (the event-time
    // bound in the condition is what makes outer emission legal).
    l.join(r, expr(
      s"l_$keyCol = r_$keyCol AND r_$tsCol >= l_$tsCol " +
        s"AND r_$tsCol <= l_$tsCol + interval $within"), joinType)
  }

  /** Streaming decontamination screen — the streaming twin of
    * `Dedup.decontaminate`, sharing its n-gram generator (stateless by
    * construction: per-doc gram distinctness is computed in-row, so no
    * streaming dedup state). Each arriving document is screened against
    * a STATIC benchmark n-gram set (built once per benchmark release
    * via `Dedup.benchmarkGramSet`, broadcast — eval suites are KBs–MBs)
    * through a stream-static left join, which is stateless; the only
    * streaming state is the per-(doc, event-time window) aggregate,
    * bounded by the watermark. In append mode a contaminated document
    * emits exactly one row — (doc_id, n_hits, n_grams, contamination),
    * the batch operator's schema — once the watermark passes its
    * 1-second event-time window; a doc_id re-sent in a later window is
    * screened again as a new row.
    */
  def decontaminateStream(stream: DataFrame, benchmark: DataFrame,
      tsCol: String, watermark: String,
      idCol: String = "doc_id", textCol: String = "text",
      benchTextCol: String = "text", n: Int = 8): DataFrame = {
    // watermark BEFORE the gram generator: a document shorter than n
    // tokens yields zero gram rows, and if the watermark node sat after
    // the explode such documents would never advance event time (a
    // batch of short docs would stall every downstream window).
    val wm = stream
      .select(col(idCol).as("doc_id"), col(textCol).as("text"), col(tsCol))
      .withWatermark(tsCol, watermark)
    val grams = graft.operators.Dedup.ngramHashesOf(wm, n, carry = Seq(tsCol))
    val bench = broadcast(
      graft.operators.Dedup.benchmarkGramSet(benchmark, benchTextCol, n)
        .withColumn("__bench", lit(1)))
    grams
      .join(bench, Seq("h"), "left")
      .groupBy(col("doc_id"), window(col(tsCol), "1 second"))
      .agg(count(lit(1)).as("n_grams"), count(col("__bench")).as("n_hits"))
      .filter(col("n_hits") > 0)
      .select(col("doc_id"), col("n_hits"), col("n_grams"),
        (col("n_hits") / col("n_grams")).as("contamination"))
  }

  /** Streaming EWMA — the streaming twin of the batch q66
    * `Relational.ewma` fold: per key, acc ← α·x + (1−α)·acc over the
    * event-time-ordered value series. State per key is the PAIR
    * (acc, n) — constant size, no history, no watermark needed for
    * boundedness — where the batch form materializes each key's full
    * series in-row; a decayed average is the canonical
    * state-smaller-than-window streaming statistic.
    *
    * Within a micro-batch rows are sorted by (ts, event_id) before
    * folding (iterator order ≠ event-time order); cross-batch
    * correctness needs per-key event-time-ordered delivery, the same
    * documented contract as [[attributeLastTouch]] (true for the
    * kinesis-graft source: per-shard order, keys sticky to shards).
    * Each batch emits the key's updated (n_events, ewma); the latest
    * emission (max n_events) is the current value. The per-step
    * arithmetic `(1−α)·acc + α·x` is literally the batch fold's, so a
    * chronological replay reproduces batch q66 bit-for-bit (asserted
    * in StreamOpsSpec).
    */
  def ewmaStream(events: DataFrame, alpha: Double,
      keyCol: String = "user_id", tsCol: String = "ts",
      idCol: String = "event_id", valCol: String = "value"): DataFrame = {
    require(alpha > 0.0 && alpha <= 1.0, s"alpha must be in (0, 1], got $alpha")
    import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode}
    val s = events.sparkSession
    import s.implicits._
    val ds = events.select(col(keyCol).cast("long"), col(idCol).cast("long"),
        col(tsCol), col(valCol).cast("double"))
      .as[(Long, Long, java.sql.Timestamp, Double)]
    ds.groupByKey(_._1)
      .flatMapGroupsWithState[(Double, Long), (Long, Long, Double)](
        OutputMode.Append, GroupStateTimeout.NoTimeout()) {
        (key, rows, state) =>
          var (acc, n) = state.getOption.getOrElse((0.0, 0L))
          chronological(rows).foreach { r =>
            acc = if (n == 0L) r._4 else (1.0 - alpha) * acc + alpha * r._4
            n += 1
          }
          state.update((acc, n))
          Iterator.single((key, n, acc))
      }
      .toDF(keyCol, "n_events", "ewma")
      .withColumn("ewma", round(col("ewma"), 6))
  }

  /** Per-day distinct-key HLL sketches over a stream — the streaming
    * half of the sliding-distinct pair (batch exact form: q64
    * `Relational.slidingDistinctUsers`; batch sketch form:
    * `Relational.slidingDistinctApprox`). Each day's sketch is a
    * mergeable Datasketches HLL built incrementally as micro-batches
    * arrive (update mode); state per day is one fixed-size sketch
    * (2^lgConfigK registers), NOT the key set — a day with a billion
    * distinct users costs the same few KiB as a day with a thousand.
    *
    * Downstream, any trailing window is `hll_union_agg` over the
    * window's daily sketches — so the stream never recounts: the
    * sketches are the ingest artifact, the window query is a
    * |days|-row merge. Union is register-wise max: associative,
    * commutative, replay-safe, so the stream's sketches estimate
    * IDENTICALLY to a batch build over the same rows (asserted in
    * StreamOpsSpec).
    *
    * Output: (day, sk) — one updating row per event-time day.
    */
  def dailyDistinctSketches(df: DataFrame, tsCol: String, watermark: String,
      keyCol: String, lgConfigK: Int = 12): DataFrame =
    df.withWatermark(tsCol, watermark)
      .groupBy(window(col(tsCol), "1 day"))
      .agg(hll_sketch_agg(col(keyCol), lit(lgConfigK)).as("sk"))
      .select(to_date(col("window.start")).as("day"), col("sk"))

  /** Per-day KMV bottom-k distinct sketches over a stream — the
    * hash-EXACT streaming twin of [[graft.operators.Sketch.kmvSketch]]
    * (where [[dailyDistinctSketches]] is the HLL form whose parity is
    * "estimates identically", the KMV form's parity is bit-for-bit:
    * bottom-k of a set is order-, batching-, and duplicate-independent,
    * so the stream's final per-day sketch EQUALS the one-pass batch
    * sketch exactly — asserted in StreamOpsSpec). State per day is ≤ k
    * longs (the current bottom-k distinct hash set); a day with a
    * billion distinct keys costs the same 2 KiB as a day with a
    * thousand. Downstream trailing windows merge daily sketches by
    * bottom-k-of-union ([[graft.operators.Sketch.kmvMerge]] /
    * `slidingDistinctKmv`) without recounting the stream.
    *
    * Output (append mode): (day, n_seen, ks) per updated day per
    * micro-batch; `n_seen` (total hashes observed) grows strictly, so
    * the current sketch is the row with max n_seen per day.
    */
  def dailyDistinctKmvStream(events: DataFrame, k: Int = 256,
      tsCol: String = "ts", keyCol: String = "user_id"): DataFrame = {
    require(k >= 2, s"k must be >= 2, got $k")
    import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode}
    val s = events.sparkSession
    import s.implicits._
    val ds = events.select(
        to_date(col(tsCol)).cast("string").as("day"),
        graft.operators.Sketch.kmvHashColumn(col(keyCol).cast("string")).as("h"))
      .as[(String, Long)]
    ds.groupByKey(_._1)
      .flatMapGroupsWithState[(Long, Array[Long]), (String, Long, Seq[Long])](
        OutputMode.Append, GroupStateTimeout.NoTimeout()) {
        (day, rows, state) =>
          val (n0, cur) = state.getOption.getOrElse((0L, Array.empty[Long]))
          var n = n0
          val incoming = rows.map { r => n += 1; r._2 }
          val merged = (cur.iterator ++ incoming)
            .toArray.distinct.sorted.take(k)
          state.update((n, merged))
          Iterator.single((day, n, merged.toSeq))
      }
      .toDF("day", "n_seen", "ks")
  }

  /** Per-day count-min frequency sketches over a stream — the
    * streaming third of the mergeable-sketch trio (HLL distincts:
    * [[dailyDistinctSketches]], estimate parity; KMV distincts:
    * [[dailyDistinctKmvStream]], bit-exact; CMS frequencies: this,
    * also bit-exact, because counter ADDITION is order-, batching-
    * and replay-partition-independent). State per day is one dense
    * d×w long array (32 KiB at the family's 4×1024) whatever the key
    * cardinality; cells hash with the same affine family as the batch
    * [[graft.operators.Sketch.cmsBuild]] — via the SHARED
    * `cmsHashColumn`/`cmsCellsOnHash` — so the streamed counters equal
    * the batch sketch exactly (asserted in StreamOpsSpec), and any
    * trailing window merges daily sketches by counter addition
    * ([[graft.operators.Sketch.cmsMerge]]) without recounting.
    *
    * Output (append mode): one row per NON-EMPTY cell per updated day
    * per micro-batch — (day, n_seen, row, bucket, cnt); `n_seen`
    * grows strictly, so a day's current sketch is its max-n_seen
    * emission set.
    */
  def dailyFreqCmsStream(events: DataFrame, tsCol: String = "ts",
      keyCol: String = "event_type"): DataFrame = {
    import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode}
    import graft.operators.Sketch
    val (d, w) = Sketch.cmsDims
    val s = events.sparkSession
    import s.implicits._
    val ds = events
      .select(to_date(col(tsCol)).cast("string").as("day"),
        Sketch.cmsHashColumn(col(keyCol).cast("string")).as("__h"))
      .select(col("day"), explode(Sketch.cmsCellsOnHash(col("__h"))).as("rb"))
      .select(col("day"), col("rb.row").as("row"), col("rb.bucket").as("bucket"))
      .as[(String, Int, Long)]
    ds.groupByKey(_._1)
      .flatMapGroupsWithState[(Long, Array[Long]), (String, Long, Int, Long, Long)](
        OutputMode.Append, GroupStateTimeout.NoTimeout()) {
        (day, rows, state) =>
          val (n0, counters) = state.getOption
            .getOrElse((0L, new Array[Long](d * w)))
          var n = n0
          rows.foreach { r => counters(r._2 * w + r._3.toInt) += 1; n += 1 }
          state.update((n, counters))
          counters.iterator.zipWithIndex.collect {
            case (cnt, i) if cnt > 0 =>
              (day, n, i / w, (i % w).toLong, cnt)
          }
      }
      .toDF("day", "n_seen", "row", "bucket", "cnt")
  }

  /** Each user's events as (user_id, event_id, ts, event_type), grouped
    * by user: the input of the per-user event-time folds below.
    */
  private def eventsByUser(events: DataFrame)
      : KeyValueGroupedDataset[Long, (Long, Long, java.sql.Timestamp, String)] = {
    val s = events.sparkSession
    import s.implicits._
    events.select(
        col("user_id").cast("long"), col("event_id").cast("long"),
        col("ts"), col("event_type"))
      .as[(Long, Long, java.sql.Timestamp, String)]
      .groupByKey(_._1)
  }

  /** A group's rows of one micro-batch in (ts, event_id) order: the
    * iterator's order is not the event-time order that the per-key
    * folds replay.
    */
  private def chronological[A](rows: Iterator[(Long, Long, java.sql.Timestamp, A)])
      : Array[(Long, Long, java.sql.Timestamp, A)] =
    rows.toArray.sortWith { (a, b) =>
      val c = a._3.compareTo(b._3)
      c < 0 || (c == 0 && a._2 < b._2)
    }

  /** Streaming last-touch attribution — the streaming twin of the
    * batch q62 window: each `targetType` event (purchase) is credited
    * to the user's most recent PRECEDING `touchTypes` event
    * (view/click), unattributed targets emit with nulls. State per
    * user is ONE touch (ts, event_id, type) — constant size, no
    * watermark needed for boundedness (users scale horizontally) —
    * where the batch form needs the whole history sorted under a
    * window.
    *
    * Within a micro-batch the group's rows are sorted by
    * (ts, event_id) before folding (the iterator's order is not the
    * event-time order), so a touch and a purchase arriving in the
    * same batch attribute exactly like the batch window's 1-PRECEDING
    * frame. Cross-batch correctness requires the replay/source to
    * deliver each user's events in event-time order across batches —
    * true for the kinesis-graft source (per-shard order, users
    * sticky to shards by partition key) and asserted by the
    * chronological file-replay parity test.
    *
    * Output: (user_id, event_id, ts, src_event_id, src_type, src_ts,
    * attributed) — one row per target event, the batch schema.
    */
  def attributeLastTouch(events: DataFrame,
      touchTypes: Seq[String] = Seq("view", "click"),
      targetType: String = "purchase"): DataFrame = {
    import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode}
    val s = events.sparkSession
    import s.implicits._
    val touches = touchTypes.toSet
    eventsByUser(events)
      .flatMapGroupsWithState[
          (java.sql.Timestamp, Long, String),
          (Long, Long, java.sql.Timestamp, Option[Long], Option[String],
            Option[java.sql.Timestamp], Boolean)](
        OutputMode.Append, GroupStateTimeout.NoTimeout()) {
        (user, rows, state) =>
          var last = state.getOption
          val out = Seq.newBuilder[(Long, Long, java.sql.Timestamp,
            Option[Long], Option[String], Option[java.sql.Timestamp], Boolean)]
          chronological(rows).foreach { r =>
            if (r._4 == targetType)
              out += ((user, r._2, r._3, last.map(_._2), last.map(_._3),
                last.map(_._1), last.isDefined))
            if (touches.contains(r._4)) last = Some((r._3, r._2, r._4))
          }
          last.foreach(state.update)
          out.result().iterator
      }
      .toDF("user_id", "event_id", "ts", "src_event_id", "src_type",
        "src_ts", "attributed")
  }

  /** Streaming transition log — the streaming twin of the batch q71
    * transition matrix: each arriving event closes the (from → to)
    * edge from the user's previous event and emits it. State per user
    * is ONE event (ts, event_id, type) — constant size, exactly
    * [[attributeLastTouch]]'s footprint and delivery contract
    * (per-key event-time order across batches; rows are sorted by
    * (ts, event_id) within a micro-batch). The matrix is then a plain
    * aggregate over the emitted edge log — the stream never holds
    * counts, so the log is replayable into any downstream grouping
    * (per-hour matrices, per-cohort matrices) without re-reading the
    * source.
    *
    * Output: (user_id, event_id, ts, from_type, to_type) — one row
    * per closed edge; a user's first-ever event emits nothing.
    */
  def transitionsStream(events: DataFrame): DataFrame = {
    import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode}
    val s = events.sparkSession
    import s.implicits._
    eventsByUser(events)
      .flatMapGroupsWithState[
          (java.sql.Timestamp, Long, String),
          (Long, Long, java.sql.Timestamp, String, String)](
        OutputMode.Append, GroupStateTimeout.NoTimeout()) {
        (user, rows, state) =>
          var last = state.getOption
          val out = Seq.newBuilder[(Long, Long, java.sql.Timestamp, String, String)]
          chronological(rows).foreach { r =>
            last.foreach { l => out += ((user, r._2, r._3, l._3, r._4)) }
            last = Some((r._3, r._2, r._4))
          }
          last.foreach(state.update)
          out.result().iterator
      }
      .toDF("user_id", "event_id", "ts", "from_type", "to_type")
  }

  /** Per-shard sequence monitoring via Spark 4's transformWithState
    * (the successor arbitrary-state API): keeps each shard's last-seen
    * sequence in a ValueState and emits one anomaly row per record that
    * arrives at or below it — duplicates and reordering, the ingestion
    * QA the reference's per-shard ordering guarantee
    * (kinesis.go:173-212) makes detectable. State per key is one
    * string. Requires the RocksDB state store provider
    * (`spark.sql.streaming.stateStore.providerClass` =
    * `...state.RocksDBStateStoreProvider`) — transformWithState uses
    * multiple column families, which the HDFS-backed store lacks.
    */
  def sequenceAnomalies(ds: org.apache.spark.sql.Dataset[KinesisRecord]): DataFrame = {
    import org.apache.spark.sql.streaming.{OutputMode, TimeMode}
    import ds.sparkSession.implicits._
    ds.groupByKey(r => r.streamName + "|" + r.shardId)
      .transformWithState(new SequenceMonitor, TimeMode.None(), OutputMode.Append())
      .toDF("shardId", "sequenceNumber", "lastSequence", "kind")
  }

  /** Custom arbitrary state via flatMapGroupsWithState: per-key running
    * totals emitted on every update — the API surface for state that
    * windows/dedup can't express (the Spark analog of what a reference
    * user would hand-roll inside their Handler with an external store).
    * State per key is two longs; keys scale horizontally.
    */
  def runningTotals(ds: org.apache.spark.sql.Dataset[KinesisRecord]): DataFrame = {
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    import ds.sparkSession.implicits._
    ds.groupByKey(_.partitionKey)
      .flatMapGroupsWithState[(Long, Long), (String, Long, Long)](
        OutputMode.Append, GroupStateTimeout.NoTimeout()) {
        (key: String, records: Iterator[KinesisRecord], state: GroupState[(Long, Long)]) =>
          val (n0, bytes0) = state.getOption.getOrElse((0L, 0L))
          var n = n0
          var bytes = bytes0
          records.foreach { r => n += 1; bytes += r.data.length }
          state.update((n, bytes))
          Iterator.single((key, n, bytes))
      }
      .toDF("partitionKey", "n_records", "n_bytes")
  }
}

/** StatefulProcessor for [[StreamOps.sequenceAnomalies]]: tracks the
  * max sequence per shard, emitting (shardId, seq, lastSeq, kind) for
  * every duplicate (== last) or reordered (< last) arrival.
  */
class SequenceMonitor
  extends org.apache.spark.sql.streaming.StatefulProcessor[
    String, KinesisRecord, (String, String, String, String)] {
  import org.apache.spark.sql.streaming.{OutputMode, TimeMode, TimerValues, TTLConfig, ValueState}

  @transient private var lastSeq: ValueState[String] = _

  override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
    lastSeq = getHandle.getValueState[String]("lastSeq",
      org.apache.spark.sql.Encoders.STRING, TTLConfig.NONE)

  override def handleInputRows(key: String, rows: Iterator[KinesisRecord],
      timerValues: TimerValues): Iterator[(String, String, String, String)] =
    rows.flatMap { r =>
      val prev = if (lastSeq.exists()) Option(lastSeq.get()) else None
      prev match {
        case Some(p) if r.sequenceNumber == p =>
          Some((r.shardId, r.sequenceNumber, p, "duplicate"))
        case Some(p) if graft.sources.kinesis.SequenceOrder.leq(r.sequenceNumber, p) =>
          Some((r.shardId, r.sequenceNumber, p, "reordered"))
        case _ =>
          lastSeq.update(r.sequenceNumber)
          None
      }
    }
}

/** O13 observability — the Spark-native replacement for the
  * reference's shard registry + pluggable Logger (kinesis.go:100-108,
  * 16-19, 79-83): a StreamingQueryListener that tracks per-query
  * progress (rows/sec, batch sizes) in a queryable registry, the
  * way the reference's monitor logs running shards every 20s.
  */
class GraftQueryListener extends StreamingQueryListener {
  case class QueryStats(name: String, batches: Long, inputRows: Long,
      lastInputRows: Long, running: Boolean)

  private val stats = TrieMap.empty[java.util.UUID, QueryStats]

  def snapshot: Map[String, QueryStats] =
    stats.values.map(s => s.name -> s).toMap

  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit =
    stats.put(e.id, QueryStats(Option(e.name).getOrElse(e.id.toString), 0, 0, 0, running = true))

  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
    val p = e.progress
    stats.updateWith(p.id) {
      case Some(s) => Some(s.copy(batches = s.batches + 1,
        inputRows = s.inputRows + p.numInputRows, lastInputRows = p.numInputRows))
      case None => Some(QueryStats(Option(p.name).getOrElse(p.id.toString),
        1, p.numInputRows, p.numInputRows, running = true))
    }
  }

  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit =
    stats.updateWith(e.id)(_.map(_.copy(running = false)))
}
