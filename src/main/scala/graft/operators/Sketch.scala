package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables._

/** Count-min sketch: mergeable fixed-size frequency estimation — the
  * third member of the deterministic-sketch family (q37 HLL counts
  * distincts, q38 histograms answer quantiles, q50 CMS answers "how
  * often does key k occur" with `d × w` counters regardless of key
  * cardinality).
  *
  * 100 TB story: the sketch is ONE map-side-combinable aggregate whose
  * state is at most d×w longs per partition (here 4×1024 = 32 KB);
  * partial sketches MERGE by adding counters (associative, proven in
  * SketchAndFormatSpec), so per-shard/per-day sketches roll up without
  * rescanning anything — the q37/q38 pre-aggregate-then-merge pattern.
  * Estimates never undercount (min over d rows of an overcounted
  * bucket), overcount by at most the collisions in the lightest row.
  *
  * Determinism/oracle: rows hash with the d04 affine family over the
  * cross-engine 60-bit md5 hash ([[Dedup.sharedHash60]]) — the (a, b)
  * literals embed in the DuckDB oracle, which rebuilds the identical
  * counters and estimates, so the registered q50 is hash-checked
  * end-to-end even though it is a sketch.
  */
object Sketch {

  private val P = 2147483647L // 2^31 − 1, products stay < 2^62 (ANSI-safe)
  private[operators] val CmsRows = 4
  private[operators] val CmsWidth = 1024

  // One affine map (a·h31 + b) mod P per CMS row — universal hashing,
  // seeded independently of d04's permutation family.
  private[operators] val cmsSeeds: Seq[(Long, Long)] = {
    val r = new scala.util.Random(20260850L)
    Seq.fill(CmsRows)(
      (1L + r.nextInt(Int.MaxValue - 1).toLong, r.nextInt(Int.MaxValue).toLong))
  }

  // ONE definition of the cross-engine hash: Dedup.sharedHash60 is the
  // single Scala twin of the oracle's '0x'||substr(md5(x),1,15) cast —
  // re-implementing it here would let the two silently desync.
  private def h31(c: org.apache.spark.sql.Column) =
    Dedup.sharedHash60(c) % P

  // ONE definition of the cell formula, parameterized on the hash
  // column so batch build/estimate and the streaming twin can't desync
  private def bucketExpr(h: org.apache.spark.sql.Column, row: Int) = {
    val (a, b) = cmsSeeds(row)
    ((h * a + b) % P) % CmsWidth
  }

  /** The cross-engine CMS key hash as a Column — public for the
    * streaming twin ([[graft.streaming.StreamOps.dailyFreqCmsStream]]).
    */
  def cmsHashColumn(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    h31(c)

  /** The d (row, bucket) cells for a PRE-COMPUTED hash column (compute
    * the hash once per row via [[cmsHashColumn]], then explode this).
    */
  def cmsCellsOnHash(h: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    array((0 until CmsRows).map { i =>
      struct(lit(i).as("row"), bucketExpr(h, i).as("bucket"))
    }: _*)

  /** (depth d, width w) — public so the streaming twin sizes its
    * counter state identically.
    */
  val cmsDims: (Int, Int) = (CmsRows, CmsWidth)

  /** Build a count-min sketch over `items(keyCol)`: one row per
    * non-empty (row, bucket) with its counter. ONE hash aggregate with
    * map-side combine; ≤ d×w output rows total. Merge two sketches by
    * unioning and summing `cnt` on (row, bucket) — see [[cmsMerge]].
    */
  def cmsBuild(items: DataFrame, keyCol: String): DataFrame =
    items.select(h31(col(keyCol)).as("__h"))
      .select(explode(cmsCellsOnHash(col("__h"))).as("rb"))
      .groupBy(col("rb.row").as("row"), col("rb.bucket").as("bucket"))
      .agg(count(lit(1)).as("cnt"))

  /** Merge partial sketches (counters add — the mergeable-rollup path:
    * per-shard/per-day partials combine without touching raw data).
    */
  def cmsMerge(sketches: DataFrame*): DataFrame = {
    require(sketches.nonEmpty, "cmsMerge needs at least one sketch")
    sketches.reduce(_ unionByName _)
      .groupBy("row", "bucket").agg(sum("cnt").as("cnt"))
  }

  /** Point estimates for each distinct key in `keys(keyCol)`: min over
    * the d rows of that key's counter. The sketch is tiny (≤ d×w rows)
    * and broadcast onto the key stream; the only exchange is the final
    * per-key min aggregate (map-side combined — duplicate keys collapse
    * before the shuffle). CMS guarantee: estimate ≥ true count, always.
    */
  def cmsEstimate(sketch: DataFrame, keys: DataFrame, keyCol: String): DataFrame = {
    keys.select(col(keyCol).as("key"))
      .withColumn("__h", h31(col("key")))
      .select(col("key"), explode(cmsCellsOnHash(col("__h"))).as("rb"))
      .select(col("key"), col("rb.row").as("row"), col("rb.bucket").as("bucket"))
      .join(broadcast(sketch), Seq("row", "bucket"), "left")
      .groupBy("key")
      .agg(min(coalesce(col("cnt"), lit(0L))).as("est"))
  }

  // ---------------------------------------------------------------
  // KMV (bottom-k) distinct sketch — the deterministic, cross-engine
  // twin of the HLL family (q27/q37/q65 keep their Datasketches HLL
  // forms for streaming state; these KMV forms are hash-checked
  // against DuckDB because both engines rebuild the IDENTICAL sketch
  // from the shared md5-affine hash).
  //
  // Sketch of a set S = its k smallest DISTINCT hash values, h(x) =
  // sharedHash60(x) mod P + 1 ∈ [1, P]. Estimator: |S| if fewer than
  // k distinct hashes, else (k−1)·P div h_(k) — pure integer
  // arithmetic, no IEEE rounding to diverge between engines
  // (σ ≈ 1/√(k−2) ≈ 6% at k = 256).
  //
  // Mergeability (the rollup property): bottom-k(A ∪ B) =
  // bottom-k(bottom-k(A) ∪ bottom-k(B)) — union never rescans data,
  // exactly like the CMS counter-add and the q37 HLL union
  // (asserted in SketchAndFormatSpec).
  //
  // 100 TB shape: sketch state is ≤ k longs per group END TO END —
  // the bottom-k prune is ONE object-hash aggregate
  // ([[graft.functions.KmvBottomK]]) whose map-side partials drop any
  // hash ≥ their current kth-smallest on sight, so no task ever
  // buffers (let alone sorts) a group's distinct-hash set and the
  // exchange carries one ≤ 2 KiB sketch per (partition, group).
  // ---------------------------------------------------------------

  private[operators] val KmvK = 256
  private[operators] val KmvNum: Long = (KmvK - 1).toLong * P // (k−1)·P

  private def kmvHash(c: org.apache.spark.sql.Column) =
    Dedup.sharedHash60(c) % P + 1L

  /** The cross-engine KMV hash as a Column — public so the streaming
    * twin ([[graft.streaming.StreamOps.dailyDistinctKmvStream]])
    * sketches with the IDENTICAL hash family: same hashes ⇒ same
    * bottom-k ⇒ bit-exact stream/batch parity.
    */
  def kmvHashColumn(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    kmvHash(c)

  // The k smallest distinct `h` per group as a sorted array column —
  // ONE object-hash aggregate with bounded ≤ k-long partials
  // ([[graft.functions.KmvBottomK]]); bit-identical to the r11
  // distinct+salted-window form at any parallelism (bottom-k of a set
  // is duplicate/order/partition-independent — KmvProbe@059cb1a measured the
  // window form at ~4× this plan's cost at sf0.1).
  private def bottomKAgg(pairs: DataFrame, grp: Seq[String],
      k: Int): DataFrame = {
    graft.functions.GraftExtensions.register(pairs.sparkSession)
    pairs.groupBy(grp.map(col): _*)
      .agg(expr(s"kmv_bottomk(h, $k)").as("ks"))
  }

  /** Per-group KMV sketch of `items(keyCol)`: (grp…, ks) with `ks`
    * the sorted bottom-k distinct hash array (≤ k longs per group).
    */
  def kmvSketch(items: DataFrame, grp: Seq[String], keyCol: String,
      k: Int = KmvK): DataFrame = {
    require(k >= 2, s"k must be >= 2, got $k")
    bottomKAgg(items.select(grp.map(col) :+ kmvHash(col(keyCol)).as("h"): _*),
      grp, k)
  }

  /** Merge per-subgroup sketches up a rollup level: input rows carry
    * (grp…, subgrp…, ks); output is one sketch per `grp` —
    * bottom-k of the union of the members' hash sets, identical to
    * sketching the union directly (the KMV union property). Never
    * rescans the base data.
    */
  def kmvMerge(sketches: DataFrame, grp: Seq[String],
      k: Int = KmvK): DataFrame =
    bottomKAgg(
      sketches.select(grp.map(col) :+ explode(col("ks")).as("h"): _*),
      grp, k)

  /** Distinct-count estimate from a KMV sketch column: exact when the
    * group has fewer than k distinct hashes, else (k−1)·P div h_(k).
    * Adds `est` (long); all-integer, hash-exact cross-engine.
    */
  def kmvEstimate(sk: DataFrame, k: Int = KmvK): DataFrame =
    sk.withColumn("est",
      when(size(col("ks")) < k, size(col("ks")).cast("long"))
        .otherwise(expr(s"${(k - 1).toLong * P} div element_at(ks, $k)")))

  /** Trailing `windowDays`-day approximate distinct via daily KMV
    * sketches (the q65 shape on the hash-checkable sketch): each
    * day's sketch contributes to the next windowDays−1 days
    * (contribution-explode — never a day×day self-join), merged
    * bottom-k per day, then estimated. Input: (day, ks) from
    * [[kmvSketch]]; output (day, u7_est) for active days only.
    *
    * `spineOpt`: the active-day spine. Defaults to deriving it from
    * `daily` — correct, but when `daily` is an unpersisted sketch PLAN
    * (vs a materialized sketch table, the streaming-ingest case) Spark
    * re-executes the whole bottom-k pipeline for the spine branch;
    * callers holding the raw rows should pass the cheap
    * distinct-of-days instead (identical set: the sketch has exactly
    * one row per active day).
    */
  def slidingDistinctKmv(daily: DataFrame, windowDays: Int,
      k: Int = KmvK, spineOpt: Option[DataFrame] = None): DataFrame = {
    require(windowDays >= 1 && windowDays <= 366,
      s"windowDays must be in [1, 366], got $windowDays")
    val days = spineOpt.getOrElse(daily.select(col("day")).distinct())
    val expanded = daily
      .select(explode(sequence(col("day"),
        date_add(col("day"), windowDays - 1))).as("day"), col("ks"))
      .join(broadcast(days), Seq("day"))
    kmvEstimate(kmvMerge(expanded, Seq("day"), k), k)
      .select(col("day"), col("est").as("u7_est"))
      .orderBy("day")
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // Heavy hitters over the corpus token stream: CMS estimates joined
    // with the exact counts (top 20 by estimate). Hash-checked — the
    // oracle rebuilds the same counters from the shared affine
    // literals; the exact column doubles as an in-gate proof that the
    // estimate never undercounts.
    "q50_freq_sketch" -> ((s, dir) => {
      val toks = documents(s, dir)
        .select(explode(split(trim(lower(col("text"))), "\\s+")).as("tok"))
        .filter(col("tok") =!= "")
      val sketch = cmsBuild(toks, "tok")
      val exact = toks.groupBy("tok").agg(count(lit(1)).as("exact"))
      // probe with the already-aggregated vocabulary, not the raw
      // token stream — the third scan+tokenize of documents would
      // otherwise re-execute (Spark doesn't materialize common
      // subplans; the measured shingle-table pitfall)
      cmsEstimate(sketch, exact.select("tok"), "tok")
        .withColumnRenamed("key", "tok")
        .join(exact, "tok")
        .orderBy(col("est").desc, col("tok"))
        .limit(20)
        .select("tok", "est", "exact")
    }),

    // KMV distinct sketch per group — the hash-checked twin of q27's
    // HLL approx_count_distinct: per-returnflag bottom-256 sketch of
    // the part keys, estimated, with the exact count alongside as the
    // in-gate accuracy witness. All-integer estimator, so the oracle
    // rebuilds it bit-exactly from the shared hash.
    "q27b_kmv_distinct" -> ((s, dir) => {
      val li = lineitem(s, dir)
        .select(col("l_returnflag"), col("l_partkey").cast("string").as("pk"))
      val est = kmvEstimate(kmvSketch(li, Seq("l_returnflag"), "pk"))
        .select(col("l_returnflag"), col("est").as("approx_parts"))
      val exact = li.groupBy("l_returnflag")
        .agg(countDistinct("pk").as("exact_parts"))
      est.join(exact, "l_returnflag").orderBy("l_returnflag")
    }),

    // Mergeable-sketch rollup on KMV — the hash-checked twin of q37's
    // HLL union: per-nation customer sketches built once, merged per
    // region WITHOUT rescanning customers (bottom-k of the union of
    // bottom-ks ≡ bottom-k of the union — the KMV union property the
    // oracle exploits by sketching the region directly).
    "q37b_kmv_union" -> ((s, dir) => {
      val c = customer(s, dir)
      val n = nation(s, dir)
      val cn = c.join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
        .select(col("n_regionkey"), col("n_nationkey"),
          col("c_custkey").cast("string").as("ck"))
      val perNation = kmvSketch(cn, Seq("n_regionkey", "n_nationkey"), "ck")
      val est = kmvEstimate(kmvMerge(perNation, Seq("n_regionkey")))
        .select(col("n_regionkey"), col("est").as("approx_customers"))
      val exact = cn.groupBy("n_regionkey")
        .agg(countDistinct("ck").as("exact_customers"))
      est.join(exact, "n_regionkey").orderBy("n_regionkey")
    }),

    // Trailing 7-day distinct users from per-day KMV sketches — the
    // hash-checked twin of q65's sliding HLL: daily sketches are the
    // streaming-ingest artifact, the window merge touches only sketch
    // rows (≤ k longs per day), and the oracle's direct day-spine
    // interval join lands on the identical bottom-k by the union
    // property.
    "q65b_sliding_distinct_kmv" -> ((s, dir) => {
      val pairs = events(s, dir)
        .select(to_date(col("ts")).as("day"),
          col("user_id").cast("string").as("u"))
      // spine from the raw rows: one cheap scan+distinct instead of a
      // second execution of the bottom-k sketch plan (same day set)
      slidingDistinctKmv(kmvSketch(pairs, Seq("day"), "u"), windowDays = 7,
        spineOpt = Some(pairs.select("day").distinct()))
    })
  )

  def oracles: Map[String, String] = {
    val seedVals = cmsSeeds.zipWithIndex
      .map { case ((a, b), i) => s"($i, CAST($a AS BIGINT), CAST($b AS BIGINT))" }
      .mkString(", ")
    Map(
      "q50_freq_sketch" ->
        s"""WITH seeds(r, a, b) AS (VALUES $seedVals),
           toks AS (SELECT unnest(string_split_regex(trim(lower(text)), '\\s+')) AS tok
                    FROM documents),
           t AS (SELECT tok,
                   ('0x' || substr(md5(tok), 1, 15))::BIGINT % 2147483647 AS h
                 FROM toks WHERE tok != ''),
           cells AS (SELECT s.r AS row, ((t.h * s.a + s.b) % 2147483647) % $CmsWidth AS bucket
                     FROM t CROSS JOIN seeds s),
           sketch AS (SELECT row, bucket, COUNT(*) AS cnt
                      FROM cells GROUP BY 1, 2),
           est AS (SELECT t.tok,
                     MIN(sk.cnt) AS est
                   FROM (SELECT DISTINCT tok, h FROM t) t
                   CROSS JOIN seeds s
                   JOIN sketch sk
                     ON sk.row = s.r
                    AND sk.bucket = ((t.h * s.a + s.b) % 2147483647) % $CmsWidth
                   GROUP BY t.tok),
           exact AS (SELECT tok, COUNT(*) AS exact FROM t GROUP BY tok)
           SELECT e.tok, CAST(e.est AS BIGINT) AS est,
             CAST(x.exact AS BIGINT) AS exact
           FROM est e JOIN exact x USING (tok)
           ORDER BY est DESC, tok LIMIT 20""",

      // KMV twin family: DuckDB rebuilds the identical bottom-k
      // sketches from the shared '0x'||substr(md5(x),1,15) hash and
      // the same all-integer estimator ((k−1)·P // h_k). For q37b and
      // q65b the oracle sketches the MERGED group directly — equal to
      // merging the member sketches by the KMV union property.
      "q27b_kmv_distinct" ->
        s"""WITH t AS (SELECT DISTINCT l_returnflag,
               ('0x' || substr(md5(CAST(l_partkey AS VARCHAR)), 1, 15))::BIGINT
                 % 2147483647 + 1 AS h
             FROM lineitem),
           r AS (SELECT l_returnflag, h,
                   ROW_NUMBER() OVER (PARTITION BY l_returnflag ORDER BY h) AS rn,
                   COUNT(*) OVER (PARTITION BY l_returnflag) AS nh
                 FROM t),
           e AS (SELECT l_returnflag,
                   CASE WHEN MAX(nh) < $KmvK THEN MAX(nh)
                        ELSE $KmvNum // MAX(CASE WHEN rn = $KmvK THEN h END)
                   END AS approx_parts
                 FROM r WHERE rn <= $KmvK GROUP BY l_returnflag),
           x AS (SELECT l_returnflag,
                   COUNT(DISTINCT l_partkey) AS exact_parts
                 FROM lineitem GROUP BY 1)
           SELECT e.l_returnflag, CAST(approx_parts AS BIGINT) AS approx_parts,
             CAST(exact_parts AS BIGINT) AS exact_parts
           FROM e JOIN x USING (l_returnflag) ORDER BY l_returnflag""",

      "q37b_kmv_union" ->
        s"""WITH cn AS (SELECT n.n_regionkey, c.c_custkey,
               ('0x' || substr(md5(CAST(c.c_custkey AS VARCHAR)), 1, 15))::BIGINT
                 % 2147483647 + 1 AS h
             FROM customer c JOIN nation n ON c.c_nationkey = n.n_nationkey),
           t AS (SELECT DISTINCT n_regionkey, h FROM cn),
           r AS (SELECT n_regionkey, h,
                   ROW_NUMBER() OVER (PARTITION BY n_regionkey ORDER BY h) AS rn,
                   COUNT(*) OVER (PARTITION BY n_regionkey) AS nh
                 FROM t),
           e AS (SELECT n_regionkey,
                   CASE WHEN MAX(nh) < $KmvK THEN MAX(nh)
                        ELSE $KmvNum // MAX(CASE WHEN rn = $KmvK THEN h END)
                   END AS approx_customers
                 FROM r WHERE rn <= $KmvK GROUP BY n_regionkey),
           x AS (SELECT n_regionkey,
                   COUNT(DISTINCT c_custkey) AS exact_customers
                 FROM cn GROUP BY 1)
           SELECT e.n_regionkey,
             CAST(approx_customers AS BIGINT) AS approx_customers,
             CAST(exact_customers AS BIGINT) AS exact_customers
           FROM e JOIN x USING (n_regionkey) ORDER BY n_regionkey""",

      "q65b_sliding_distinct_kmv" ->
        s"""WITH pairs AS (SELECT DISTINCT CAST(ts AS DATE) AS d,
               ('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 15))::BIGINT
                 % 2147483647 + 1 AS h
             FROM events),
           days AS (SELECT DISTINCT d AS day FROM pairs),
           t AS (SELECT DISTINCT days.day, p.h
                 FROM days JOIN pairs p
                   ON p.d BETWEEN days.day - 6 AND days.day),
           r AS (SELECT day, h,
                   ROW_NUMBER() OVER (PARTITION BY day ORDER BY h) AS rn,
                   COUNT(*) OVER (PARTITION BY day) AS nh
                 FROM t)
           SELECT day,
             CAST(CASE WHEN MAX(nh) < $KmvK THEN MAX(nh)
                       ELSE $KmvNum // MAX(CASE WHEN rn = $KmvK THEN h END)
                  END AS BIGINT) AS u7_est
           FROM r WHERE rn <= $KmvK GROUP BY day ORDER BY day"""
    )
  }
}
