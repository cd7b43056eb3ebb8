package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Join helpers for skew that AQE can't always fix (e.g. one hot key
  * dominating a shuffle partition when the small side is too big to
  * broadcast outright).
  */
object Joins {

  /** Keys whose left-side row count reaches `threshold` — the keys that
    * would overwhelm a single shuffle partition. One count aggregate
    * with map-side partial combine: the shuffle carries one row per
    * distinct key per input partition, not the fact rows, so detection
    * stays cheap at any fact size. The full (not sampled) count keeps
    * the plan deterministic and replay-safe. At 100 TB this is the kind
    * of key-frequency stat an ingest pipeline materializes once and
    * reuses — compute it ahead of time and pass it to the
    * [[saltedInnerJoin]] overload that accepts it.
    */
  def hotKeys(left: DataFrame, keys: Seq[String], threshold: Long): DataFrame =
    left.groupBy(keys.map(col): _*)
      .agg(count(lit(1)).as("__cnt"))
      .filter(col("__cnt") >= threshold)
      .select(keys.map(col): _*)

  /** The right side with its per-row salt fan-out: rows with a hot key
    * are replicated once per salt value; every other row rides salt 0
    * alone. Total size is |right| + |hot right rows| × (salts − 1) —
    * O(hot keys × salts) overhead, never O(|right| × salts). Exposed
    * for the JoinsSpec replication-accounting test.
    */
  private[operators] def saltedRight(right: DataFrame, keys: Seq[String],
      salts: Int, hot: DataFrame): DataFrame =
    right.join(broadcast(hot.withColumn("__hot", lit(true))), keys, "left")
      .withColumn("__salt", explode(
        when(col("__hot"),
          expr(s"sequence(CAST(0 AS BIGINT), CAST(${salts - 1} AS BIGINT))"))
          .otherwise(array(lit(0L)))))
      .drop("__hot")

  /** Two-phase skew-aware equi-join: identical results to
    * `left.join(right, keys, "inner")`, but each detected hot key is
    * spread over `salts` shuffle partitions instead of landing on one.
    *
    * Phase 1 detects hot keys (left-side row count ≥ `hotKeyThreshold`,
    * see [[hotKeys]]). Phase 2 is ONE shuffled join on (keys, salt):
    * left rows with a hot key get a deterministic salt in [0, salts)
    * from `saltSource` (xxhash64 — stable across retries/replays) while
    * cold rows ride salt 0; on the right, ONLY hot-key rows are
    * replicated across all salt values ([[saltedRight]]), cold rows
    * stay single. The hot-key set is broadcast to both sides (it is
    * small by definition — keys above a count threshold), so the whole
    * thing costs the plain join plus one count aggregate, one
    * broadcast, and O(hot right rows × salts) replication. With no hot
    * keys it degenerates to exactly the plain join.
    *
    * NOTE: this overload runs hot-key detection EAGERLY — a full count
    * aggregate over `left` executes as a Spark job at call time (plan
    * construction), serially per call site, before the joined frame is
    * ever submitted. Fine for one-off queries; for repeated use or a
    * 100 TB fact, materialize the key-frequency stats once at ingest
    * and pass them to the precomputed-`hot` overload, which defers
    * everything but a head(1) emptiness probe.
    */
  def saltedInnerJoin(left: DataFrame, right: DataFrame, keys: Seq[String],
      salts: Int, saltSource: Column, hotKeyThreshold: Long): DataFrame = {
    require(hotKeyThreshold > 0, "hotKeyThreshold must be positive")
    saltedInnerJoin(left, right, keys, salts, saltSource,
      hotKeys(left, keys, hotKeyThreshold))
  }

  /** [[saltedInnerJoin]] with a precomputed hot-key set — the 100 TB
    * form, where key-frequency stats are an ingest artifact (like the
    * dedup family's shingle/signature tables) rather than a per-query
    * scan. `hot` must contain exactly the `keys` columns.
    */
  def saltedInnerJoin(left: DataFrame, right: DataFrame, keys: Seq[String],
      salts: Int, saltSource: Column, hot: DataFrame): DataFrame =
    saltedEquiJoin(left, right, keys, salts, saltSource, hot, "inner", None)

  /** [[saltedInnerJoin]] with the hot set's emptiness ALREADY KNOWN —
    * an ingest-stats caller materialized the table and counted it, so
    * the per-call head(1) emptiness probe (one Spark job per query)
    * is redundant (r17; the registered q36 passes the cached bit).
    */
  def saltedInnerJoin(left: DataFrame, right: DataFrame, keys: Seq[String],
      salts: Int, saltSource: Column, hot: DataFrame,
      hotNonEmpty: Boolean): DataFrame =
    saltedEquiJoin(left, right, keys, salts, saltSource, hot, "inner",
      Some(hotNonEmpty))

  /** Skew-aware LEFT OUTER equi-join: identical results to
    * `left.join(right, keys, "left")` — the common production shape
    * (enrich a skewed fact against a dimension too big to broadcast,
    * keeping unmatched facts). Same two-phase machinery as
    * [[saltedInnerJoin]]: each left row carries exactly ONE salt value
    * (hot keys → deterministic hash salt, cold keys → 0) while only
    * hot-key RIGHT rows replicate across all salts, so an unmatched
    * left row — hot or cold — survives exactly once with nulls: its
    * single (keys, salt) probe finds either all of that key's right
    * rows or nothing.
    *
    * NOTE: like [[saltedInnerJoin]]'s threshold overload, detection
    * runs a Spark job eagerly at call time; prefer the precomputed-
    * `hot` overload when the stats are an ingest artifact.
    */
  def saltedLeftJoin(left: DataFrame, right: DataFrame, keys: Seq[String],
      salts: Int, saltSource: Column, hotKeyThreshold: Long): DataFrame = {
    require(hotKeyThreshold > 0, "hotKeyThreshold must be positive")
    saltedLeftJoin(left, right, keys, salts, saltSource,
      hotKeys(left, keys, hotKeyThreshold))
  }

  /** [[saltedLeftJoin]] with a precomputed hot-key set (the ingest-
    * artifact form — see [[saltedInnerJoin]]'s stats overload).
    */
  def saltedLeftJoin(left: DataFrame, right: DataFrame, keys: Seq[String],
      salts: Int, saltSource: Column, hot: DataFrame): DataFrame =
    saltedEquiJoin(left, right, keys, salts, saltSource, hot, "left", None)

  /** [[saltedLeftJoin]] with the hot set's emptiness already known
    * (see [[saltedInnerJoin]]'s hotNonEmpty overload — q48's form).
    */
  def saltedLeftJoin(left: DataFrame, right: DataFrame, keys: Seq[String],
      salts: Int, saltSource: Column, hot: DataFrame,
      hotNonEmpty: Boolean): DataFrame =
    saltedEquiJoin(left, right, keys, salts, saltSource, hot, "left",
      Some(hotNonEmpty))

  private def saltedEquiJoin(left: DataFrame, right: DataFrame,
      keys: Seq[String], salts: Int, saltSource: Column, hot: DataFrame,
      joinType: String, hotNonEmpty: Option[Boolean]): DataFrame = {
    require(salts > 0, "salts must be positive")
    // No detected skew → the literal plain join: the salt machinery
    // (two broadcast probes + the right-side generator + a composite
    // join key) costs ~2× the plain join even when it replicates
    // nothing (measured, Q36Probe@059cb1a), so an unskewed dataset shouldn't
    // pay it. The emptiness probe is one head(1) job — trivial against
    // a materialized ingest-time stats table, and subsumed by the
    // detection aggregate in the threshold overload; callers whose
    // ingest stats already counted the table pass the known bit and
    // skip even that (hotNonEmpty, r17).
    if (!hotNonEmpty.getOrElse(!hot.isEmpty)) return left.join(right, keys, joinType)
    saltedLeft(left, keys, salts, saltSource, hot)
      .join(saltedRight(right, keys, salts, hot), keys :+ "__salt", joinType)
      .drop("__salt")
  }

  /** The left side with its single deterministic salt per row: hot-key
    * rows get hash(saltSource) mod salts, cold rows ride salt 0.
    * Exposed for the JoinsSpec skew-evidence test, which measures the
    * max shuffle-partition size of (keys, __salt) vs plain (keys).
    */
  private[operators] def saltedLeft(left: DataFrame, keys: Seq[String],
      salts: Int, saltSource: Column, hot: DataFrame): DataFrame =
    left.join(broadcast(hot.withColumn("__hot", lit(true))), keys, "left")
      .withColumn("__salt",
        when(col("__hot"), pmod(xxhash64(saltSource), lit(salts.toLong)))
          .otherwise(lit(0L)))
      .drop("__hot")

  /** Bucketed range (interval) join: every left row whose `leftPoint`
    * falls inside a right row's `[rightLo, rightHi]` (both inclusive),
    * WITHOUT the BroadcastNestedLoopJoin Spark plans for a raw
    * BETWEEN predicate — the plan that dies when both sides are big.
    *
    * The rewrite is the standard bucketization: each right interval is
    * exploded to the `bucketWidth`-sized buckets it overlaps, each
    * left point falls in exactly ONE bucket, and the join becomes an
    * EQUI-join on the bucket id plus a residual BETWEEN filter. Since
    * a left row has one bucket, each qualifying (left, right) pair
    * meets exactly once — no post-join dedup. Right-side replication
    * is span/bucketWidth + 1 rows per interval, so pick bucketWidth
    * near the TYPICAL interval span: the equi-join then shuffles both
    * sides by bucket (or broadcasts the smaller), partition-parallel
    * at any scale, while candidate pairs per bucket stay bounded by
    * the data that genuinely overlaps in time.
    *
    * `leftPoint` / `rightLo` / `rightHi` are expressions over the
    * respective side's columns, already mapped to a common long axis
    * (e.g. `datediff(col("d"), lit("1970-01-01"))` for dates,
    * `unix_timestamp(...)` for timestamps). Values may be negative
    * (floor division, not truncation, assigns buckets).
    *
    * `maxBucketsPerInterval` fails FAST (a clear per-row error, not an
    * executor OOM) on pathological intervals: one open-ended sentinel
    * bound (hi = year 9999 on a seconds axis) would otherwise ask
    * `sequence()` for billions of elements and kill the whole job on
    * one bad row. Raise it deliberately for genuinely huge spans, or
    * better, pick a bucketWidth near the typical span.
    */
  def rangeJoin(left: DataFrame, right: DataFrame, leftPoint: Column,
      rightLo: Column, rightHi: Column, bucketWidth: Long,
      maxBucketsPerInterval: Long = 100000L): DataFrame = {
    require(bucketWidth > 0, s"bucketWidth must be positive, got $bucketWidth")
    require(maxBucketsPerInterval > 0, "maxBucketsPerInterval must be positive")
    // Bucket id = the bucket's LOWER EDGE (c - pmod(c, w)), computed in
    // exact long arithmetic: a double floor-division quotient rounds
    // above 2^53 (a nanosecond epoch axis lives there) and can land a
    // point outside its interval's exploded bucket set — a silent
    // false NEGATIVE the residual filter can't repair. pmod is exact
    // over the full long range and floors correctly for negatives; the
    // right side explodes edges with a stride-w sequence, so no
    // division happens anywhere.
    def edge(c: Column): Column = c - pmod(c, lit(bucketWidth))
    val l = left
      .withColumn("__pt", leftPoint.cast("long"))
      .withColumn("__bkt", edge(col("__pt")))
    // The bucket-count guard only gates explosion size, so double
    // arithmetic is fine HERE (a ~1-ulp error against a count
    // threshold, vs exactness for the join keys above) and avoids
    // long overflow when lo and hi sit at opposite extremes.
    // Inverted intervals (hi < lo — dirty data) match NOTHING, the
    // same result a raw BETWEEN predicate gives: dropped here, before
    // the positive-stride sequence() below would reject stop < start
    // with an opaque runtime error on the whole job.
    val r = right
      .withColumn("__lo", rightLo.cast("long"))
      .withColumn("__hi", rightHi.cast("long"))
      .filter(col("__hi") >= col("__lo"))
      .withColumn("__nb",
        ((col("__hi").cast("double") - col("__lo").cast("double"))
          / lit(bucketWidth.toDouble)).cast("long") + 1)
    val rExp = r
      .withColumn("__bkt", explode(
        when(col("__nb") > maxBucketsPerInterval,
          raise_error(concat(lit("rangeJoin: interval spans "), col("__nb"),
            lit(s" buckets > maxBucketsPerInterval=$maxBucketsPerInterval; " +
              "widen bucketWidth or raise the limit"))))
          .otherwise(sequence(edge(col("__lo")), edge(col("__hi")),
            lit(bucketWidth)))))
    l.join(rExp, Seq("__bkt"))
      .filter(col("__pt") >= col("__lo") && col("__pt") <= col("__hi"))
      .drop("__bkt", "__pt", "__lo", "__hi", "__nb")
  }

  /** Bucketed interval-OVERLAP join: every (left, right) pair whose
    * inclusive intervals [leftLo, leftHi] and [rightLo, rightHi]
    * intersect — the interval×interval sibling of [[rangeJoin]]'s
    * point×interval, and the same escape from the
    * BroadcastNestedLoopJoin a raw `llo <= rhi AND rlo <= lhi`
    * predicate plans.
    *
    * Both sides explode to the `bucketWidth`-sized buckets they
    * overlap and meet in an EQUI-join on the bucket id. A pair that
    * shares several buckets would meet several times, so exactly one
    * meeting is kept — the canonical bucket containing
    * max(leftLo, rightLo), the later interval's start, which both
    * intervals cover whenever they overlap at all. No post-join
    * dedup aggregate, just a filter that rides the joined row.
    *
    * Same contracts as [[rangeJoin]]: bounds are expressions already
    * mapped to a common long axis, negatives fine (exact long edge
    * arithmetic, no division), inverted intervals match nothing,
    * `maxBucketsPerInterval` fails fast per row on pathological spans.
    * Replication is span/bucketWidth + 1 per row ON EACH SIDE — pick
    * bucketWidth near the typical span of the LONGER side so the
    * equi-join shuffles both sides by bucket, partition-parallel at
    * any scale.
    */
  def overlapJoin(left: DataFrame, right: DataFrame,
      leftLo: Column, leftHi: Column, rightLo: Column, rightHi: Column,
      bucketWidth: Long, maxBucketsPerInterval: Long = 100000L): DataFrame = {
    require(bucketWidth > 0, s"bucketWidth must be positive, got $bucketWidth")
    require(maxBucketsPerInterval > 0, "maxBucketsPerInterval must be positive")
    def edge(c: Column): Column = c - pmod(c, lit(bucketWidth))
    // one exploded side; p distinguishes left/right internals so user
    // columns are untouched and the join's residual can see both
    def exploded(df: DataFrame, lo: Column, hi: Column, p: String): DataFrame =
      df.withColumn(s"__${p}lo", lo.cast("long"))
        .withColumn(s"__${p}hi", hi.cast("long"))
        .filter(col(s"__${p}hi") >= col(s"__${p}lo"))
        .withColumn("__nb",
          ((col(s"__${p}hi").cast("double") - col(s"__${p}lo").cast("double"))
            / lit(bucketWidth.toDouble)).cast("long") + 1)
        .withColumn("__bkt", explode(
          when(col("__nb") > maxBucketsPerInterval,
            raise_error(concat(lit("overlapJoin: interval spans "), col("__nb"),
              lit(s" buckets > maxBucketsPerInterval=$maxBucketsPerInterval; " +
                "widen bucketWidth or raise the limit"))))
            .otherwise(sequence(edge(col(s"__${p}lo")), edge(col(s"__${p}hi")),
              lit(bucketWidth)))))
        .drop("__nb")
    exploded(left, leftLo, leftHi, "l")
      .join(exploded(right, rightLo, rightHi, "r"), Seq("__bkt"))
      .filter(col("__llo") <= col("__rhi") && col("__rlo") <= col("__lhi"))
      // exactly-once: keep the meeting in the bucket of max(lo, lo)
      .filter(col("__bkt") ===
        edge(greatest(col("__llo"), col("__rlo"))))
      .drop("__bkt", "__llo", "__lhi", "__rlo", "__rhi")
  }

  /** As-of join: every left row paired with the temporally closest
    * right row in its `byCols` group — the most recent right row with
    * `rightTs` ≤ `leftTs` (`direction = "backward"`, inclusive, the
    * DuckDB/pandas ASOF convention) or the earliest with ≥
    * (`"forward"`). Output is every left column plus one struct column
    * (`asofCol`, default "asof") holding the matched right row, null
    * when the group has no qualifying right row.
    *
    * Composed from built-ins per the custom-operator ladder — no custom
    * plan node: both sides union into one event timeline (left rows
    * carry a null right-struct and vice versa), and a running
    * `last(right_struct, ignoreNulls)` over a (ts, side) window pulls
    * each left row's match. ONE shuffle on `byCols`, no range
    * explosion, no per-row subquery — at 100 TB this is a keyed window
    * whose state is one right-row struct per group, the same plan
    * family as q22's sessionizer. Ties: a right row at exactly
    * `leftTs` is visible to that left row (inclusive); multiple right
    * rows at the same timestamp resolve deterministically to the
    * greatest by struct order — which requires the right side's
    * columns to be orderable (no map columns).
    */
  def asofJoin(left: DataFrame, right: DataFrame, byCols: Seq[String],
      leftTs: String, rightTs: String, direction: String = "backward",
      asofCol: String = "asof"): DataFrame = {
    require(direction == "backward" || direction == "forward",
      s"direction must be backward|forward, got $direction")
    val lStruct = struct(left.columns.map(col): _*)
    val rStruct = struct(right.columns.map(col): _*)
    val lType = left.select(lStruct.as("s")).schema("s").dataType
    val rType = right.select(rStruct.as("s")).schema("s").dataType
    val lSide = left.select(byCols.map(col) ++ Seq(
      col(leftTs).as("__ts"), lit(1).as("__side"),
      lStruct.as("__l"), lit(null).cast(rType).as("__r")): _*)
    val rSide = right.select(byCols.map(col) ++ Seq(
      col(rightTs).as("__ts"), lit(0).as("__side"),
      lit(null).cast(lType).as("__l"), rStruct.as("__r")): _*)
    // at equal timestamps the right row sorts first (__side 0 < 1), so
    // it is already visible inside the left row's frame — inclusive
    val ord: Seq[Column] =
      if (direction == "backward")
        Seq(col("__ts").asc, col("__side").asc, col("__r").asc)
      else
        Seq(col("__ts").desc, col("__side").asc, col("__r").desc)
    val w = Window.partitionBy(byCols.map(col): _*).orderBy(ord: _*)
      .rowsBetween(Window.unboundedPreceding, 0)
    lSide.unionByName(rSide)
      .withColumn("__match", last(col("__r"), ignoreNulls = true).over(w))
      .filter(col("__side") === 1)
      .select(col("__l.*"), col("__match").as(asofCol))
  }

  /** Driver-built Bloom filter over a key set: `words(i)` holds bits
    * [64·i, 64·i+64) of a `bits`-bit filter, each key setting `hashes`
    * positions derived by double hashing (see [[bloomPositions]]).
    * A few KiB of longs —
    * small enough to ride the query plan as a literal to every
    * executor, the way Spark's own runtime row-level filters travel.
    * No false negatives ever; false-positive rate is the standard
    * (1 − e^(−hashes·n/bits))^hashes.
    */
  case class BloomFilter(words: Array[Long], bits: Int, hashes: Int)

  /** The `hashes` bit positions of `key` in a `bits`-bit filter —
    * shared by build and probe so the layouts can never diverge.
    * Kirsch–Mitzenmacher double hashing: TWO xxhash64 evaluations
    * derive all k positions as h1 + i·stride (mod bits), instead of k
    * independent hashes — this is what Guava/Parquet Bloom filters do,
    * and it keeps probe-side expression count (and codegen size)
    * constant as k grows. The stride is forced ODD, hence coprime with
    * any power-of-two `bits`, so a key's k positions are pairwise
    * DISTINCT when bits is a power of 2 — strictly better load
    * behavior than k independent hashes, which collide with
    * probability ~k²/2m. All values stay below 5·bits: no ANSI
    * overflow on the full long-range hash outputs (they are reduced
    * mod bits before any addition or multiplication).
    */
  private def bloomPositions(key: Column, bits: Int, hashes: Int): Seq[Column] = {
    val m = lit(bits.toLong)
    val h1 = pmod(xxhash64(lit(0), key), m)
    val stride = pmod(xxhash64(lit(1), key), m) * lit(2L) + lit(1L)
    (0 until hashes).map(i => pmod(h1 + lit(i.toLong) * pmod(stride, m), m))
  }

  /** Build a [[BloomFilter]] from the distinct values of `keyCol`.
    *
    * NOTE: runs eagerly — one two-phase aggregate over `keys` plus a
    * ≤ bits/64-row collect execute at call time (like [[hotKeys]]'
    * threshold overloads). At 100 TB the dim-side key set is an ingest
    * artifact: build the filter once, keep the `BloomFilter` handle,
    * and reuse it across queries via [[bloomMightContain]] /
    * [[bloomSemiJoin]]'s prebuilt overload.
    */
  def buildBloom(keys: DataFrame, keyCol: Column, bits: Int = 1 << 16,
      hashes: Int = 5): BloomFilter = {
    require(bits >= 64 && bits % 64 == 0, s"bits must be a multiple of 64, got $bits")
    require(hashes > 0, s"hashes must be positive, got $hashes")
    // Explode each key to its `hashes` bit positions, then one hash
    // aggregate ORs the per-word masks: the shuffle carries at most
    // bits/64 rows per input partition (map-side combine), never keys.
    val posCols = bloomPositions(keyCol, bits, hashes)
    val agg = keys
      .select(explode(array(posCols: _*)).as("__pos"))
      .select(shiftright(col("__pos"), 6).cast("int").as("__w"),
        call_function("shiftleft", lit(1L), col("__pos").bitwiseAND(lit(63L)).cast("int")).as("__m"))
      .groupBy("__w").agg(expr("bit_or(__m)").as("__m"))
      .collect()
    val words = new Array[Long](bits / 64)
    agg.foreach(r => words(r.getInt(0)) = r.getLong(1))
    BloomFilter(words, bits, hashes)
  }

  /** Membership predicate for a prebuilt [[BloomFilter]] — a pure
    * scalar Column (xxhash64 + bit tests on an array literal, all
    * codegen'd), so it evaluates inside the scan's WholeStageCodegen
    * stage BEFORE any exchange: the pruning happens where the data is,
    * with zero extra shuffle or join. False positives pass (the exact
    * join downstream removes them); true keys always pass.
    */
  def bloomMightContain(bf: BloomFilter, key: Column): Column = {
    val arr = lit(bf.words)
    bloomPositions(key, bf.bits, bf.hashes).map { pos =>
      val word = element_at(arr, shiftright(pos, 6).cast("int") + lit(1))
      call_function("shiftright", word, pos.bitwiseAND(lit(63L)).cast("int"))
        .bitwiseAND(lit(1L)) === lit(1L)
    }.reduce(_ && _)
  }

  /** Semi join with Bloom pre-pruning — the 100 TB shape for "keep
    * fact rows whose key exists in a dim too big to broadcast as an
    * exact set": the filter's few KiB travel to the scan and drop
    * most non-matching fact rows BEFORE the shuffle, so the exchange
    * carries ~(matches + FPP·|fact|) rows instead of |fact|; the exact
    * left-semi join then removes the false positives, making the
    * result IDENTICAL to a plain semi join (Bloom has no false
    * negatives). This is Spark's runtime row-level filtering exposed
    * as a deterministic operator the caller controls and can feed an
    * ingest-time filter.
    *
    * This overload builds the filter eagerly (see [[buildBloom]]'s
    * note); pass a prebuilt one for repeated use.
    */
  def bloomSemiJoin(left: DataFrame, right: DataFrame, leftKey: String,
      rightKey: String, bits: Int = 1 << 16, hashes: Int = 5): DataFrame =
    bloomSemiJoin(left, right, leftKey, rightKey,
      buildBloom(right.select(col(rightKey)), col(rightKey), bits, hashes))

  /** Prebuilt-filter overload: fully lazy, reuses an ingest artifact. */
  def bloomSemiJoin(left: DataFrame, right: DataFrame, leftKey: String,
      rightKey: String, bf: BloomFilter): DataFrame = {
    val r = right.select(col(rightKey).as("__bsj_k")).distinct()
    left.filter(bloomMightContain(bf, col(leftKey)))
      .join(r, col(leftKey) === col("__bsj_k"), "left_semi")
  }
}
