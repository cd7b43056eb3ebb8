package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.Tables._

/** Embedding similarity search over the `embeddings` table
  * (64-dim unit-normalized float vectors → cosine == dot product).
  *
  * All dot products are computed after casting to array<double> with a
  * sequential left fold (`aggregate(zip_with(...))`), which matches
  * DuckDB's `list_dot_product` on DOUBLE[] element order exactly —
  * required for bitwise oracle parity.
  *
  * Scale story (100 TB): s01 is the exact per-probe baseline (corpus
  * scanned once, probes broadcast); s02/s03 are sign-LSH bucketed —
  * candidates come from equi-joins on bucket ids, the same plan shape
  * MinHash gives Dedup, never an all-pairs nested loop; s04's IVF index
  * is built at ingest (cell id = partition key at scale) so queries pay
  * probe cost only. The exact all-pairs threshold join survives only as
  * a test oracle ([[embedNearDupExact]]).
  */
object Similarity {

  private def dot(a: String, b: String): Column = expr(s"vector_dot($a, $b)")

  private def vecs(s: SparkSession, dir: String): DataFrame = {
    graft.functions.GraftExtensions.register(s)
    embeddings(s, dir).select(col("vec_id"), col("label"),
      col("embedding").cast("array<double>").as("v"))
  }

  private val Dim = 64
  // Registered-query IVF parameters: 16 cells ≈ √(corpus size) at the
  // gate SFs, probe the 4 nearest (unit vectors → max dot = nearest).
  // These are THIS DATASET'S parameters, not constants of the engine:
  // the public [[buildIvfIndex]]/[[ivfTopK]]/[[semanticNearDup]] API
  // takes cells/nProbe/nAssign as arguments (cells must grow ~√n for
  // within-cell self-joins to stay subquadratic — see SCALE.md).
  private val IvfCells = 16
  private[operators] val IvfNProbe = 4

  // Sign-LSH plane families. Each ±1 hyperplane is defined by one
  // 64-bit long (bit d → sign of dim d), so the SAME longs can be
  // embedded in the DuckDB oracles, which then derive byte-identical
  // planes, buckets, candidates, and scores — the hash gate stays exact
  // even though the queries are candidate-blocked.
  private def planeBits(seed: Long, n: Int): Seq[Long] = {
    val rnd = new java.util.Random(seed)
    Seq.fill(n)(rnd.nextLong())
  }
  private def planesOf(bits: Seq[Long]): Seq[Seq[Double]] =
    bits.map(b => (0 until Dim).map(d => if (((b >> d) & 1L) == 1L) 1.0 else -1.0))

  // s02 ANN: 8 tables × 8-bit codes — multiple short codes trade
  // precision for recall; one 16-bit code almost never collides on
  // near-random vectors.
  private val LshTables = 8
  private val BitsPerTable = 8
  private val annPlaneBits: Seq[Long] = planeBits(7, LshTables * BitsPerTable)
  private val annPlanes: Seq[Seq[Double]] = planesOf(annPlaneBits)

  // s03 blocking family: 24 tables × 4 bits. Recall-leaning parameters
  // (4 bits/table): at the 0.35 threshold the qualifying pairs graze the
  // threshold (measured cosine 0.35–0.60 in the synthetic corpus), where
  // each extra bit costs recall fast; at an operational near-dup
  // threshold (≥0.8) the same scheme runs with more bits per table for
  // tighter buckets. Candidate volume stays bounded by the band-bucket
  // equi-join — never an all-pairs nested loop.
  private val NearDupTables = 24
  private val NearDupBitsPerTable = 4
  private[graft] val NearDupThreshold = 0.35
  private val nearDupPlaneBits: Seq[Long] =
    planeBits(2026, NearDupTables * NearDupBitsPerTable)
  private val nearDupPlanes: Seq[Seq[Double]] = planesOf(nearDupPlaneBits)

  // SCALE-SIZED blocking (r13 VERDICT item 4; the registered s03
  // since r16, formerly the twin s03c) — the same
  // 24-table sign-LSH scheme as s03, but bits/table follows the
  // documented BUILD-TIME RULE instead of the gate-pinned 4: the
  // smallest b in [4, 12] with 2^b · B ≥ n (B = 16 target bucket
  // occupancy), i.e. bits ≈ ceil(log2(n/B)). Bucket count then tracks
  // corpus growth, so EXPECTED occupancy — and candidate volume per
  // vector — stays ~constant as n scales, where pinned 4-bit buckets
  // let occupancy grow linearly in n (quadratically in candidate
  // pairs; CandVolumeProbe, last at 5974cb1, measured both). The rule
  // is INTEGER arithmetic (smallest b with (1<<b)·B ≥ n — no log/ceil
  // floating point), so the oracle derives the identical b from
  // COUNT(*) without cross-engine ULP risk. Each table owns SizedMaxBits
  // consecutive planes and uses the FIRST b of them, so the plane
  // longs embedded in the oracle are scale-independent.
  private val SizedTables = 24
  private val SizedMaxBits = 12
  private val SizedMinBits = 4
  // the ann family's sized floor stays at its gate-pinned 8 bits so
  // the small fixtures keep the pinned geometry (the sized s10 keeps
  // the old pinned shape at sf ≤ 0.1, then buckets grow with the
  // corpus)
  private val SizedMinBitsAnn = 8
  private val SizedBucketTarget = 16L
  private val sizedPlaneBits: Seq[Long] =
    planeBits(2027, SizedTables * SizedMaxBits)
  private val sizedAnnPlaneBits: Seq[Long] =
    planeBits(2028, LshTables * SizedMaxBits)
  private[operators] def sizedBitsOf(n: Long, lo: Int = SizedMinBits): Int =
    (lo to SizedMaxBits)
      .find(b => (1L << b) * SizedBucketTarget >= n).getOrElse(SizedMaxBits)

  // s07c: SCALE-SIZED coarse-cell count for the deterministic SemDeDup
  // twin — smallest power-of-two c in [16, 4096] with c·c ≥ n, i.e.
  // cells ≈ √n rounded up to a power of two. Within-cell occupancy
  // n/c then stays ≤ c (~√n), so the cell-blocked self-join volume
  // grows ~n^1.5 where the pinned-16-cell geometry approaches n²/16
  // (the r14 sf5 capture measured that consequence on s07/s07b:
  // 11–14× for 5× data, ~30 GB of spill — SCALE.md). The floor 16 is
  // s07b's pinned geometry (never binding at the fixtures — already
  // n=500 sizes to 32 cells); the 4096 clamp bounds the centroid
  // broadcast (~2 MB) and the n·cells assignment work. INTEGER rule,
  // so the DuckDB oracle derives the identical c from COUNT(*).
  private val SizedMinCellsLog2 = 4
  private val SizedMaxCellsLog2 = 12
  private[graft] def sizedCellsOf(n: Long): Int =
    (SizedMinCellsLog2 to SizedMaxCellsLog2).map(1 << _)
      .find(c => c.toLong * c >= n).getOrElse(1 << SizedMaxCellsLog2)
  private def corpusCount(s: SparkSession, dir: String): Long =
    ArtifactStore.get(s, dir, "count/embeddings")(_ => embeddings(s, dir).count())

  // Sign-LSH bucket tables as ingest artifacts (r10): a vector's
  // bucket codes are a property of corpus + plane family, not of any
  // one query — at 100 TB these are written LSH index tables next to
  // the IVF/PQ indexes. The registered queries (s02/s03/s10) read
  // them; the public annTopK/knnJoin keep deriving buckets in-plan for
  // arbitrary inputs and accept the prebuilt table via bkOpt. The win
  // is fixed cost, not data: at sf0.1 the corpus is 2000 vectors, yet
  // per-run bucket derivation (96-plane array literal + transform
  // codegen, evaluated once per plan occurrence) dominated s03's 2.4 s.
  // The key carries the plane-family CONTENT (planes hash + bits), not
  // just its name — a call site reusing a family name with different
  // planes gets its own bucket table, never the other family's (r10
  // ADVICE).
  private def cachedBuckets(s: SparkSession, dir: String, family: String,
      planes: Seq[Seq[Double]], bits: Int): DataFrame =
    ArtifactStore.get(s, dir, s"lsh/$family/${planes.hashCode}/$bits")(
      _.keep(lshBuckets(vecs(s, dir), planes, bits)))
  private def annBuckets(s: SparkSession, dir: String): DataFrame =
    cachedBuckets(s, dir, "ann", annPlanes, BitsPerTable)
  private def nearDupBuckets(s: SparkSession, dir: String): DataFrame =
    cachedBuckets(s, dir, "neardup", nearDupPlanes, NearDupBitsPerTable)
  private def sizedBuckets(s: SparkSession, dir: String): DataFrame = {
    val bits = sizedBitsOf(corpusCount(s, dir))
    val planes = planesOf(
      sizedPlaneBits.grouped(SizedMaxBits).flatMap(_.take(bits)).toSeq)
    cachedBuckets(s, dir, "sized", planes, bits)
  }
  private def sizedAnnBuckets(s: SparkSession, dir: String): DataFrame = {
    val bits = sizedBitsOf(corpusCount(s, dir), SizedMinBitsAnn)
    val planes = planesOf(
      sizedAnnPlaneBits.grouped(SizedMaxBits).flatMap(_.take(bits)).toSeq)
    cachedBuckets(s, dir, "sizedann", planes, bits)
  }

  /** Certification wrapper for the ANN top-k family (s04/s08/s09) —
    * the r12 pattern that graduated the HLL sketches: the ANN result
    * set is engine-specific (KMeans quantizers aren't SQL-expressible
    * in DuckDB), so the REGISTERED output carries per-probe structural
    * flags plus an aggregate recall-floor flag vs the in-query EXACT
    * top-k (the s01 relation), and the oracle bound-checks them as
    * literal TRUEs over the deterministic probe set — an ANN path
    * whose recall collapses, answers short, or self-matches now
    * hash-fails the driver gate. The raw top-k rows remain available
    * through the public operators ([[ivfTopK]]/[[pqRerankTopK]]/
    * [[ivfPqTopK]]) and each query keeps its hash-exact seed-quantizer
    * twin (s04b/s08b/s09b) plus its named DedupSimilaritySpec
    * invariants (which also assert the tighter measured recalls).
    * The floor is the rational `num/den` (hits·den ≥ answered·num —
    * integer compare, no IEEE in the gate).
    *
    * Witness independence (r12 ADVICE → closed r14): the exact
    * witness ([[exactTopKWitness]]) is computed by [[cosineTopK]],
    * but it is no longer TRUSTED on its own authority — each
    * certification row carries order-free checksums of the witness id
    * set (`witness_sum`/`witness_xor`), and the ORACLE recomputes
    * those from the raw parquet in DuckDB (the s01 SQL shape). A bug
    * in cosineTopK or vector_dot therefore hash-fails s04/s08/s09's
    * own oracle compare directly — the certification's ground truth
    * is cross-engine-verified inside the gated row, not anchored by a
    * separate query. The hash-exact s04b/s08b/s09b twins close the
    * remaining routing/encode surface.
    */
  // The exact top-k witness is the SAME relation for s04/s08/s09 (and
  // the bench runs each query 4×): built once per (session, dir, k) as
  // a persisted 50-row result. Deliberately NOT in prepareIndex's
  // untimed warm — certification is gate work, not an ingest artifact,
  // so the first timed run pays it.
  private def exactTopKWitness(s: SparkSession, dir: String, k: Int): DataFrame =
    ArtifactStore.get(s, dir, s"witness/$k") { b =>
      val e = embeddings(s, dir)
      b.keep(cosineTopK(e, e.filter(col("vec_id") < 10), k = k)
        .select(col("qid"), col("cid")).withColumn("__x", lit(1)))
    }

  // Same sharing for s06's all-pairs ground truth (its spec twin
  // rebuilds independently — the store only serves the registered
  // query's repeated executions).
  private def truthPairs(s: SparkSession, dir: String): DataFrame =
    ArtifactStore.get(s, dir, "witness/truth-pairs")(
      _.keep(embedNearDupExact(s, dir)
        .select(col("id_a"), col("id_b"), col("cosine").as("true_cos"))))

  private def certifyAnnTopK(s: SparkSession, dir: String, ann: DataFrame,
      k: Int, num: Int, den: Int): DataFrame = {
    val exact = exactTopKWitness(s, dir, k)
    val per = ann.select("qid", "cid")
      .join(exact, Seq("qid", "cid"), "left")
      .groupBy("qid").agg(
        count(lit(1)).as("n_results"),
        sum(when(col("qid") === col("cid"), 1).otherwise(0)).as("n_self"),
        sum(coalesce(col("__x"), lit(0))).as("hits"))
    // corpus-wide hit/result totals as a GLOBAL window over the
    // per-probe relation (|probes| rows — 10 here; the unpartitioned
    // window is safe for any bounded probe set). The r16 re-plan: the
    // previous `per.agg(...)` + crossJoin referenced `per` twice, and
    // Spark re-executes repeated subtrees — the ENTIRE ANN pipeline
    // (LSH/IVF/PQ scoring, its scans and shuffles) ran twice per call
    // (measured: s08 certified 1.43 s vs raw 0.51 s at sf0.1; the
    // duplicated WindowGroupLimit subtree is visible in the r16
    // before-plans).
    val wTot = Window.partitionBy()
    // the witness DECOUPLING columns (r13 VERDICT item 3): checksum the
    // exact-top-k id set per probe (order-free sum + xor — exact long
    // arithmetic in both engines), and let the ORACLE recompute them
    // from the raw parquet in DuckDB. The recall gate's ground truth
    // is thereby hash-verified cross-engine INSIDE this query's own
    // rows — a cosineTopK/vector_dot bug now fails s04/s08/s09's
    // oracle compare directly, not via the s01 anchor.
    val wit = exact.groupBy("qid").agg(
      sum("cid").as("witness_sum"),
      expr("bit_xor(cid)").as("witness_xor"))
    per
      .withColumn("th", sum("hits").over(wTot))
      .withColumn("tn", sum("n_results").over(wTot))
      .join(broadcast(wit), Seq("qid"))
      .select(col("qid"),
        (col("n_results") === k).as("has_k_results"),
        (col("n_self") === 0).as("no_self_match"),
        (col("th") * den >= col("tn") * num).as("recall_floor_ok"),
        col("witness_sum"), col("witness_xor"))
      .orderBy("qid")
  }

  /** The shared oracle for [[certifyAnnTopK]] outputs: literal-TRUE
    * bound checks on the flags, plus a DuckDB recomputation of the
    * exact-top-5 witness checksums from the raw parquet (the s01
    * relation's SQL shape — score DESC, cid tie-break, self excluded).
    */
  private val annCertOracle: String =
    """WITH q AS (SELECT vec_id AS qid, embedding::DOUBLE[] AS qv
                  FROM embeddings WHERE vec_id < 10),
       c AS (SELECT vec_id AS cid, embedding::DOUBLE[] AS cv FROM embeddings),
       d AS (SELECT qid, cid, list_dot_product(qv, cv) AS score
             FROM c, q WHERE qid != cid),
       r AS (SELECT qid, cid,
               ROW_NUMBER() OVER (PARTITION BY qid ORDER BY score DESC, cid) AS rnk
             FROM d)
       SELECT qid, TRUE AS has_k_results, TRUE AS no_self_match,
         TRUE AS recall_floor_ok,
         CAST(SUM(cid) AS BIGINT) AS witness_sum,
         CAST(BIT_XOR(cid) AS BIGINT) AS witness_xor
       FROM r WHERE rnk <= 5 GROUP BY qid ORDER BY qid"""

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // Brute-force exact cosine top-k: 10 probe vectors × all candidates.
    // The probe side is tiny → broadcast; no shuffle of the corpus.
    "s01_sim_bruteforce_topk" -> ((s, dir) => {
      val e = embeddings(s, dir)
      cosineTopK(e, e.filter(col("vec_id") < 10), k = 5)
        .orderBy("qid", "rnk")
    }),

    // Approximate NN via sign-LSH bucketing: probes only compare against
    // candidates landing in the same 8-bit bucket of any of the 8
    // tables. Hash-checked: the oracle derives identical buckets from
    // the shared plane longs. Recall vs s01 additionally asserted in
    // DedupSimilaritySpec.
    "s02_sim_ann_lsh" -> ((s, dir) => {
      val e = embeddings(s, dir)
      annTopK(e, e.filter(col("vec_id") < 10).select("vec_id"), k = 5,
        bkOpt = Some(annBuckets(s, dir)))
        .orderBy("qid", "rnk")
    }),

    // IVF (inverted-file) ANN: KMeans coarse quantizer (seeded,
    // deterministic), vectors bucketed by nearest centroid, probes
    // search only their nprobe closest cells. The clustered-partition
    // scale path complementing s02's hash-bucket path: at 100 TB the
    // cell assignment is a write-time partition key, so a probe reads
    // nprobe partitions instead of the corpus. CERTIFIED in-query via
    // [[certifyAnnTopK]] (recall floor 1/4 vs exact top-k — the
    // DedupSimilaritySpec floor; measured well above it at every
    // fixture sf); raw top-k via [[ivfTopK]]; hash-exact twin s04b.
    "s04_sim_ivf" -> ((s, dir) => {
      // The coarse quantizer + cell assignment come from the cached
      // per-dataset index (ivfIndex below) — index construction is
      // ingest-time work (at 100 TB the cell id is a write-time
      // partition key), so the query path is probe cost only.
      val probes = embeddings(s, dir).filter(col("vec_id") < 10).select("vec_id")
      certifyAnnTopK(s, dir,
        ivfTopK(ivfIndex(s, dir), probes, k = 5, nProbe = IvfNProbe),
        k = 5, num = 1, den = 4)
    }),

    // Per-label centroid via the typed VectorAvg Aggregator (UDAF
    // surface); long-form output for the oracle.
    "s05_label_centroid" -> ((s, dir) => labelCentroid(s, dir)),

    // SemDeDup-style semantic near-dup: candidates are blocked by IVF
    // cell (each vector compared only inside its coarse clusters —
    // multi-assigned to its 4 nearest centroids, since at this corpus's
    // grazing threshold single-cell blocking loses boundary pairs:
    // measured recall 63% at 1–2 cells vs 94–96% at 4), verified by
    // exact cosine. The clustered complement of s03's hash-bucket
    // blocking: at 100 TB the cell id is the write-time partition key,
    // so the within-cell self-join runs partition-local — never
    // all-pairs. KMeans isn't SQL-expressible, so the REGISTERED
    // output is the r12 certification row: the exact ground-truth
    // pair count (the all-pairs threshold join BOTH engines compute —
    // DuckDB from the same parquet, so it hash-checks as real
    // content) plus three flags the oracle bound-checks as TRUEs —
    // every blocked pair is a true pair (precision 1.0), its cosine
    // is bit-exact, and recall ≥ 85% of ground truth (the
    // DedupSimilaritySpec floor; 4-way multi-assignment measures
    // ~96%). A blocked path that drops boundary pairs or emits a
    // false positive now hash-fails the gate. The pair RELATION stays
    // available via [[semanticNearDup]] and hash-exact via the s06b
    // twin. (The in-query ground truth is gate-scale work; at 100 TB
    // certification runs on a sampled slice — the blocked path alone
    // is the production query.)
    "s06_semantic_neardup" -> ((s, dir) => {
      val blocked = semPairs(s, dir)
      val truth = truthPairs(s, dir)
      // coalesce: sum() over an EMPTY pair relation is NULL, which
      // would make the flags null (≠ TRUE) instead of vacuously true
      val agg = blocked.join(truth, Seq("id_a", "id_b"), "left").agg(
        count(lit(1)).as("n_blocked"),
        coalesce(sum(when(col("true_cos").isNull, 1).otherwise(0)), lit(0L))
          .as("n_false_pos"),
        coalesce(sum(when(col("true_cos") === col("cosine"), 0).otherwise(1)),
          lit(0L)).as("n_cos_drift"))
      truth.agg(count(lit(1)).as("n_truth_pairs")).crossJoin(agg)
        .select(col("n_truth_pairs"),
          (col("n_false_pos") === 0).as("all_pairs_in_truth"),
          (col("n_cos_drift") === 0).as("cosines_exact"),
          (col("n_blocked") * 100 >= col("n_truth_pairs") * 85).as("recall_ge_85pct"))
    }),

    // Product-quantization ANN with exact rerank: the corpus compressed
    // to 8 codes per vector (32–64× smaller than raw doubles) is ADC-
    // scanned for a 50-candidate shortlist, then ONLY the shortlist's
    // raw vectors are fetched for exact top-5 scoring — the memory half
    // of the modern large-scale ANN recipe (IVF routes, PQ scores,
    // rerank exact — s09/[[ivfPqTopK]] runs the full composition).
    // CERTIFIED in-query via [[certifyAnnTopK]]. Floor 2/5: the gate
    // floor must hold at EVERY fixture scale, and AnnRecallProbe@059cb1a
    // measures 70% (sf0.001) / 80% (sf0.01) / 56% (sf0.1) — the fixed
    // 50-candidate shortlist covers a shrinking corpus fraction as n
    // grows, so sf0.1 dips under the spec's small-sf 3/5 (the
    // documented shortlist/n trade; production tunes shortlist ∝ the
    // target recall). Raw top-k via [[pqRerankTopK]]; exact-score
    // identity + codebook determinism asserted in DedupSimilaritySpec
    // (which keeps the tighter 3/5 at its small fixture); hash-exact
    // twin s08b.
    "s08_pq_ann" -> ((s, dir) => {
      val e = embeddings(s, dir)
      certifyAnnTopK(s, dir,
        pqRerankTopK(pqIndex(s, dir), e, e.filter(col("vec_id") < 10),
          k = 5, shortlist = 50),
        k = 5, num = 2, den = 5)
    }),

    // The composed IVF→PQ→rerank serving plan: IVF routes each probe
    // to its 4 nearest cells, PQ ADC-scores only those cells' codes
    // for a 50-candidate shortlist, exact rerank returns the top-5 —
    // the full production ANN recipe as one registered query.
    // CERTIFIED in-query via [[certifyAnnTopK]] (recall floor 1/4 —
    // routing dominates at these parameters, floor matches s04's);
    // raw top-k via [[ivfPqTopK]]; exact-score identity and the
    // routed-candidate scan-volume reduction asserted in
    // DedupSimilaritySpec; hash-exact twin s09b.
    "s09_ivf_pq_ann" -> ((s, dir) => {
      val probes = embeddings(s, dir).filter(col("vec_id") < 10)
      certifyAnnTopK(s, dir,
        ivfPqTopK(ivfIndex(s, dir), pqIndex(s, dir), probes,
          k = 5, nProbe = IvfNProbe, shortlist = 50),
        k = 5, num = 1, den = 4)
    }),

    // SemDeDup end-to-end: the embedding corpus AFTER semantic dedup —
    // s06's cluster-blocked near-dup pairs fed through
    // Dedup.keepRepresentatives (connected components → keep each
    // cluster's minimum vec_id + every unpaired vector). The full
    // SemDeDup recipe as one composition of the two public APIs.
    // KMeans isn't SQL-expressible, so the REGISTERED output is the
    // r12 certification row: the corpus size (exact reference) plus
    // three structural flags the oracle bound-checks as TRUEs — no
    // near-dup pair survives whole, every unpaired vector is kept,
    // and the survivor set is a subset of the corpus. The survivor
    // RELATION stays available via [[Dedup.keepRepresentatives]] and
    // hash-exact via the s07b twin; the per-cluster minimum-
    // representative invariant is union-find-verified in
    // DedupSimilaritySpec.
    "s07_semantic_survivors" -> ((s, dir) => {
      val pairs = semPairs(s, dir).select(col("id_a"), col("id_b"))
      // (r16 probe, re-plans tried and REJECTED — S07CertProbe@059cb1a
      // is the interleaved pinned-heap measurement record: this r15 anti-join
      // shape 1.56 s, a drop-list form with the phantom check as a
      // full_outer join 1.85 s (full outer has no broadcast plan, so
      // the corpus rides a SortMergeJoin exchange + sort), and two
      // drop-list forms with left joins + a |drops| − |drops ∩ corpus|
      // phantom count 1.64–1.97 s (more per-call scalar jobs: the
      // count gate, the |drops| aggregate). The hypothesis that the
      // three `surv` references re-scan the corpus expensively is
      // FALSE in practice: each is a column-pruned vec_id scan whose
      // drop side AQE runtime-broadcasts — cheaper than the extra
      // jobs any single-reference reformulation spends avoiding it.)
      // r17: survivor selection rides the cached component-label
      // artifact (semCcLabels) — the per-call CC loop was the bulk of
      // the certified/raw gap (VERDICT r16 item 6); the anti-join
      // wrapper shape itself stays the measured-best r15 form.
      val surv = survivors(s, dir, semCcLabels(s, dir))
        .select(col("vec_id")).withColumn("__s", lit(1))
      val all = embeddings(s, dir).select("vec_id")
      val paired = pairs.select(col("id_a").as("vec_id"))
        .unionByName(pairs.select(col("id_b").as("vec_id"))).distinct()
        .withColumn("__p", lit(1))
      // one pass over the corpus annotated with paired/survivor bits
      val annotated = all
        .join(paired, Seq("vec_id"), "left")
        .join(surv, Seq("vec_id"), "left")
      val pairBothKept = pairs
        .join(surv.withColumnRenamed("vec_id", "id_a"), Seq("id_a"))
        .join(surv.toDF("id_b", "__s2"), Seq("id_b"))
        .agg(count(lit(1)).as("n_pairs_fully_kept"))
      // coalesce: empty-relation sums are NULL, not 0 (see s06)
      val phantom = surv.join(all.withColumn("__a", lit(1)), Seq("vec_id"), "left")
        .agg(coalesce(sum(when(col("__a").isNull, 1).otherwise(0)), lit(0L))
          .as("n_phantom"))
      annotated.agg(
          count(lit(1)).as("n_vectors"),
          coalesce(sum(when(col("__p").isNull && col("__s").isNull, 1)
            .otherwise(0)), lit(0L)).as("n_unpaired_dropped"))
        .crossJoin(pairBothKept).crossJoin(phantom)
        .select(col("n_vectors"),
          (col("n_pairs_fully_kept") === 0).as("no_pair_fully_kept"),
          (col("n_unpaired_dropped") === 0).as("unpaired_all_kept"),
          (col("n_phantom") === 0).as("survivors_subset_of_corpus"))
    }),

    // Embedding-cosine near-duplicate pairs: sign-LSH band blocking +
    // exact vector_dot verification. Candidates come from a (table,
    // bucket) equi-join — a shuffled hash join, never a nested-loop
    // cross join — so the plan survives a 100× corpus (PlanShapeSpec
    // asserts no BroadcastNestedLoopJoin/CartesianProduct). The plane
    // family is derived from 96 seeded longs shared verbatim with the
    // DuckDB oracle, so the blocked result is hash-checked exactly;
    // recall vs the all-pairs ground truth is asserted in
    // DedupSimilaritySpec (98.9% at sf0.01 with these parameters).
    // Self-kNN join via [[knnJoin]]: every vector's top-5 neighbors —
    // the kNN graph. RE-REGISTERED on the scale-sized index (r15
    // VERDICT item 1, formerly the separate twin s10c): bits/table
    // follows the integer build-time rule — smallest b in [8,12] with
    // 2^b·16 ≥ n; the floor 8 IS the old pinned geometry, so the gate
    // fixtures keep the same bucket width — instead of a pinned 8.
    // Measured motivation: at sf5 (100k vectors) pinned 8-bit buckets
    // hold ~390 vectors each → ~0.6B candidate rows, which exhausted
    // local DISK in the r14 capture and forced an sf5 skip-list; the
    // sized index (12 bits → ~24/bucket) completes in seconds
    // (SCALE.md; CandVolumeProbe, last at 5974cb1). The DuckDB oracle
    // derives the SAME bits from COUNT(*) with the identical integer
    // rule, so the graph stays hash-checked at every scale even as its
    // parameters change with n.
    "s10_knn_join" -> ((s, dir) =>
      knnJoin(embeddings(s, dir), k = 5,
        bkOpt = Some(sizedAnnBuckets(s, dir)),
        nOpt = Some(corpusCount(s, dir))).orderBy("qid", "rnk")),

    // One Lloyd iteration via [[kmeansStep]], seeded with the 8 lowest
    // vec_ids as centroids (deterministic, no RNG). Hash-checked: the
    // oracle reproduces the argmin from the same dot-product folds.
    "s11_kmeans_step" -> ((s, dir) => {
      val e = embeddings(s, dir)
      kmeansStep(e, e.filter(col("vec_id") < 8), cidCol = "vec_id")
        .orderBy("cluster", "dim")
    }),

    // Cluster-balanced coreset sampling: [[kmeansAssign]] labels the
    // corpus, [[Pipeline.exactKSample]] draws exactly 10 per cluster —
    // the diversity-preserving subset selection a training pipeline
    // uses where a plain uniform sample over-represents dense regions.
    // Pure composition of two public operators; hash-checked end to
    // end (assignment AND draw reproduced by the oracle).
    "s12_cluster_sample" -> ((s, dir) => {
      val e = embeddings(s, dir)
      val assigned = kmeansAssign(e, e.filter(col("vec_id") < 8),
          cidCol = "vec_id")
        .withColumn("key", col("vec_id").cast("string"))
      Pipeline.exactKSample(assigned, k = 10, strataCol = "cluster",
          idCol = "vec_id", textCol = "key")
        .orderBy("cluster", "rk")
    }),

    // Per-label mean pairwise similarity via the centroid identity —
    // the O(n²) statistic at O(n·d) cost, join-free. Hash-checked:
    // integer-grid snapping makes every sum exact in both engines.
    "s13_class_diversity" -> ((s, dir) =>
      classDiversity(embeddings(s, dir))),

    // The hash-checked deterministic twin of s04: the SAME [[ivfTopK]]
    // route-and-score path, run over a seed-vector coarse quantizer
    // (cells = the 16 lowest vec_ids — the s11 seeding rule) instead
    // of the KMeans fit, so the oracle reproduces assignment, routing,
    // scoring, and ranking bit-exactly. s04 keeps the trained
    // quantizer (recall gated in DedupSimilaritySpec); this pins the
    // operator's semantics.
    "s04b_ivf_route" -> ((s, dir) => {
      val probes = embeddings(s, dir).filter(col("vec_id") < 10).select("vec_id")
      ivfTopK(detIndexes(s, dir).ivf, probes, k = 5, nProbe = IvfNProbe)
        .orderBy("qid", "rnk")
    }),

    // The hash-checked twin of s06: the SAME [[semanticNearDup]]
    // cluster-blocked pair derivation (multi-assign to 4 nearest
    // cells → within-cell self-join → exact-cosine verify) over the
    // seed-vector quantizer, so the oracle reproduces blocking AND
    // verification bit-exactly. s06 keeps the trained quantizer
    // (recall gated in DedupSimilaritySpec).
    "s06b_semantic_neardup" -> ((s, dir) =>
      detIndexes(s, dir).pairs.orderBy("id_a", "id_b")),

    // s06b's pairs fed through Dedup.keepRepresentatives — the full
    // SemDeDup survivor selection, hash-checked: the oracle runs the
    // same pair derivation then a recursive-CTE transitive closure
    // (the d08 pattern) for the connected-components keep rule.
    "s07b_semantic_survivors" -> ((s, dir) =>
      survivors(s, dir, detCcLabels(s, dir)).orderBy("vec_id")),

    // s07b's SCALE-SIZED twin (the s03c/s10c pattern for the
    // cluster-blocked family): the same deterministic seed-cell
    // SemDeDup — multi-assign to 4 nearest cells → within-cell
    // self-join → exact-cosine verify → keep-min-of-component — but
    // the cell COUNT follows the build-time rule cells ≈ √n
    // ([[sizedCellsOf]], integer arithmetic the oracle reproduces
    // from COUNT(*)) instead of the gate-pinned 16. Motivated by
    // measurement: the r14 sf5 capture showed the pinned-16-cell
    // within-cell join approaching n²/16 (s07/s07b 11–14× for 5×
    // data, ~30 GB spilled); the sized geometry holds occupancy at
    // ~√n so the join volume grows ~n^1.5. Hash-exact at every
    // fixture scale even as the parameter changes with n.
    "s07c_semantic_survivors_sized" -> ((s, dir) =>
      survivors(s, dir, sizedDetCcLabels(s, dir)).orderBy("vec_id")),

    // The hash-checked PQ ENCODE stage ([[pqEncode]]) against
    // deterministic codebooks (sub-slices of the 16 lowest vec_ids):
    // the fit-on-sample → transform-the-corpus production step s08's
    // trained index can't oracle. Long-form (vec_id, sub, code) for
    // the oracle's argmin reproduction.
    "s08b_pq_encode" -> ((s, dir) => {
      detIndexes(s, dir).codes
        .select(col("vec_id"), posexplode(col("codes")).as(Seq("sub", "code")))
        .orderBy("vec_id", "sub")
    }),

    // The FULL production serving composition — IVF route → PQ ADC
    // shortlist → exact rerank ([[ivfPqTopK]]) — hash-checked end to
    // end over the deterministic seed indexes: the oracle rebuilds
    // cell assignment, codebooks, codes, the snapped-long ADC
    // shortlist, and the exact rerank. s09 keeps the trained
    // quantizers; this is the bit-exact pin of the composed plan.
    "s09b_ivf_pq_rerank" -> ((s, dir) => {
      val det = detIndexes(s, dir)
      val pq = PqIndex(det.books, det.codes, DetSubs, DetCells, Dim)
      ivfPqTopK(det.ivf, pq, embeddings(s, dir).filter(col("vec_id") < 10),
          k = 5, nProbe = IvfNProbe, shortlist = 50)
        .orderBy("qid", "rnk")
    }),

    "s03_embed_neardup" -> ((s, dir) => {
      // Narrow-first: the bucket self-join moves only (vec_id, tbl,
      // bucket, codes) rows — carrying the vectors through it would
      // shuffle each one once per colliding table (~24×). Cross-table
      // dedup is the in-row FIRST-COLLISION filter ([[firstCollision]],
      // re-planned in r13: a near-identical pair collides in nearly
      // ALL 24 tables, so "dedup last" fetched vectors and ran the
      // dot per (pair, table) — the full-148 sf1 bench caught s03 as
      // one of the two superlinear queries at 15.8 s — while
      // "distinct first" shuffled every pre-dedup candidate
      // occurrence and measured WORSE, 95 s; the collision check
      // dedups exactly, in codegen, before anything is fetched or
      // shuffled). Vectors then attach to the ~|distinct colliding
      // pairs| survivors, the cosine filter runs per pair, done.
      //
      // RE-REGISTERED on the scale-sized bucket artifact (r15 VERDICT
      // item 1, formerly the separate twin s03c): bits/table follows
      // the build-time rule — smallest b in [4,12] with 2^b·16 ≥ n
      // (see the sizedPlaneBits note) — instead of the gate-pinned 4
      // whose bucket occupancy grows linearly in n (quadratic
      // candidate pairs: ~7.9B at 100k vectors, measured to exhaust a
      // 252 GB disk at sf5 — SCALE.md; CandVolumeProbe, last at
      // 5974cb1 — and the reason the pinned form needed an sf5
      // skip-list). The oracle derives the same b from COUNT(*) with
      // the same integer rule, so the query stays hash-exact at EVERY
      // scale even as its parameters change with n. Recall at the grazing 0.35
      // threshold drops with tighter buckets (the documented
      // bits-vs-recall trade, measured in DedupSimilaritySpec); the
      // operational corpus-scale answer for near-dup REMOVAL remains
      // s06/s07's cluster-blocked SemDeDup. The formerly-registered
      // pinned form survives as the gate-only fixture
      // [[pinnedNearDupPairs]] (never run at derived scales). The
      // remaining growth is output-bound: at a 0.35 threshold over a
      // 10×-replicated corpus the qualifying pair relation ITSELF
      // grows ~quadratically (495,900 rows at sf1) — no plan beats
      // its own output size.
      lshNearDupPairs(sizedBuckets(s, dir), vecs(s, dir),
        corpusCount(s, dir))
    }),

    // The r15-registered SIZED twins, restored (r16): re-pointing
    // s03/s10 at the sized rule made these aliases, but a registered
    // name must never disappear (driver bench/correctness contract —
    // entries may be added, never removed or renamed). They compute
    // exactly what they computed in r15: the sized pipeline, now
    // shared with s03/s10.
    "s03c_embed_neardup_sized" -> ((s, dir) =>
      lshNearDupPairs(sizedBuckets(s, dir), vecs(s, dir),
        corpusCount(s, dir))),
    "s10c_knn_join_sized" -> ((s, dir) =>
      knnJoin(embeddings(s, dir), k = 5,
        bkOpt = Some(sizedAnnBuckets(s, dir)),
        nOpt = Some(corpusCount(s, dir))).orderBy("qid", "rnk"))
  )

  /** Gate-only fixture: the formerly-registered pinned-parameter s03
    * (24×4-bit seed-2026 plane family). Kept for DedupSimilaritySpec's
    * recall/exactness assertions — at small fixtures the pinned
    * geometry is the recall-leaning reference point — but deliberately
    * OUTSIDE [[queries]]: pinned bucket occupancy grows linearly in n,
    * so candidate pairs grow quadratically (7.9B at 100k vectors —
    * SCALE.md; CandVolumeProbe, last at 5974cb1), a scale-killer no
    * registered query is allowed to carry.
    */
  private[graft] def pinnedNearDupPairs(s: SparkSession, dir: String): DataFrame =
    lshNearDupPairs(nearDupBuckets(s, dir), vecs(s, dir), corpusCount(s, dir))
  /** Broadcast hint for the CORPUS VECTOR side of the candidate-pair →
    * vector-fetch joins (~560 bytes/row at Dim = 64: id + array header
    * + 64 doubles), under [[SideTableBroadcastMaxBytes]]: n ≤ ~480k
    * vectors.
    * Why a hint at all: the vector table sits behind a persisted
    * artifact (stats-blind to the 10 MB planner default), so both
    * fetch joins plan sort-merge — and the SECOND one sorts the
    * candidate stream with the first join's 512-byte vector already
    * attached. At sf5 that is ~24 GB of wide-row sort for 46M
    * candidates, a measured spill cliff (SizedBitsProbe2 at 5974cb1,
    * r15: the 12-bit pipeline read 33× slower than 13-bit on 1.76× the
    * candidates). Under the bound both joins broadcast-hash and
    * candidates stream through unsorted; above it (the 100 TB corpus)
    * the shape falls back to the shuffle plan.
    */
  private def vecHint(n: Long): DataFrame => DataFrame =
    hintIf(n * (48L + 8L * Dim) <= SideTableBroadcastMaxBytes)

  /** The shared s03/s03c pair pipeline over a prebuilt LSH bucket
    * table: narrow bucket self-join → in-row first-collision dedup →
    * vector fetch for survivors only → exact cosine filter. (See the
    * s03 registration comment for the measured plan history; `n` is
    * the corpus row count, sizing the vector-side hint — [[vecHint]].)
    */
  private def lshNearDupPairs(bk: DataFrame, e: DataFrame,
      n: Long): DataFrame =
    bk.select(col("vec_id").as("id_a"), col("tbl"), col("bucket"),
        col("codes").as("ca"))
      .join(bk.select(col("vec_id").as("id_b"), col("tbl"), col("bucket"),
        col("codes").as("cb")), Seq("tbl", "bucket"))
      .filter(col("id_a") < col("id_b") && firstCollision("ca", "cb"))
      .join(vecHint(n)(e.select(col("vec_id").as("id_a"), col("v").as("va"))),
        Seq("id_a"))
      .join(vecHint(n)(e.select(col("vec_id").as("id_b"), col("v").as("vb"))),
        Seq("id_b"))
      .select(col("id_a"), col("id_b"), dot("va", "vb").as("cosine"))
      .filter(col("cosine") >= NearDupThreshold)
      .orderBy("id_a", "id_b")

  /** One row per (vector, LSH table) with that table's bucket code
    * (little-endian: first plane of a table is its LSB, matching the
    * oracles' `SUM(bit << slot)`).
    *
    * Shape notes: the planes ride in ONE array literal and the sign
    * bits in one `transform` — unrolling them into per-plane CASE
    * chains generates tens of KB of codegen that janino recompiles on
    * every query build (fresh expr ids defeat the codegen cache;
    * measured 3× slowdown). The explode is over a plain `sequence`
    * (never over the HOF result — per-emitted-row lambda re-evaluation),
    * and each table's bucket is assembled after the explode from the
    * precomputed bits array.
    */
  private def lshBuckets(e: DataFrame,
      planes: Seq[Seq[Double]], bitsPerTable: Int): DataFrame = {
    graft.functions.GraftExtensions.register(e.sparkSession)
    val nTables = planes.size / bitsPerTable
    e
      .withColumn("planes", typedLit(planes))
      .withColumn("bits", expr(
        "transform(planes, p -> CASE WHEN vector_dot(p, v) > 0D THEN 1 ELSE 0 END)"))
      // every table's bucket assembled ONCE pre-explode; the exploded
      // rows keep the full `codes` array so pair-generating consumers
      // can run the FIRST-COLLISION dedup in-row (see s03/knnJoin): a
      // pair is kept only in the first table where it collides —
      // exact cross-table dedup with no distinct shuffle
      .withColumn("codes", expr(
        s"""transform(sequence(0, ${nTables - 1}), t ->
              aggregate(
                zip_with(slice(bits, t * $bitsPerTable + 1, $bitsPerTable),
                         sequence(0, ${bitsPerTable - 1}),
                         (b, s) -> b * shiftleft(1, s)),
                0, (acc, x) -> acc + x))"""))
      .withColumn("tbl", explode(expr(s"sequence(0, ${nTables - 1})")))
      .withColumn("bucket", expr("codes[tbl]"))
      .select(col("vec_id"), col("v"), col("tbl"), col("bucket"), col("codes"))
  }

  /** The first-collision predicate: TRUE iff no table BEFORE `tbl`
    * also collided this pair — so across the whole bucket join each
    * colliding pair survives in exactly ONE table's row. Replaces
    * `dropDuplicates(pair)` (a full shuffle of every pre-dedup
    * candidate occurrence — same-pair rows live in different
    * (tbl, bucket) partitions, so map-side partial aggregation never
    * collapses them; measured at sf1 the distinct cost MORE than the
    * redundant dot products it saved) with a codegen'd in-row check
    * on the two code arrays the bucket artifact already carries.
    */
  private def firstCollision(codesA: String, codesB: String): Column =
    // the native [[graft.functions.PrefixDistinct]] primitive loop —
    // both HOF spellings (slice+zip_with+exists, and exists over an
    // index sequence) allocate and box per candidate row and measured
    // SLOWER at sf1 than the redundant dots the dedup avoids; every
    // consumer registers the function on its own input's session
    // (lshBuckets for in-plan buckets; annTopK/knnJoin directly, so
    // the prebuilt-bucket path works without GraftExtensions)
    expr(s"prefix_distinct($codesA, $codesB, tbl)")

  /** A built IVF (inverted-file) coarse index: `centroids` is
    * (cell, cv: array<double>) — tiny, broadcast at query time — and
    * `assigned` is (vec_id, v, cell), the corpus with each vector's
    * nearest-centroid cell. At 100 TB `assigned` is a written table
    * partitioned by `cell`, so a probe reads nProbe/cells of the
    * corpus and a within-cell self-join runs partition-local.
    */
  case class IvfIndex(centroids: DataFrame, assigned: DataFrame, cells: Int)

  /** Build an IVF coarse index over any embedding DataFrame — the
    * public, parameterized index-construction API (ingest-time work;
    * run it once per corpus release, persist/write `assigned`
    * partitioned by cell, then serve [[ivfTopK]]/[[semanticNearDup]]
    * queries against it).
    *
    * `cells` sizing: within-cell candidate volume is ~n²/cells, so
    * cells must grow ~√n for cell-blocked self-joins ([[semanticNearDup]])
    * to stay subquadratic, and probe cost per query is
    * nProbe/cells × corpus. A fixed cell count against a growing
    * corpus degrades toward all-pairs — see SCALE.md.
    *
    * Deterministic for a given (cells, seed): seeded KMeans, few
    * iterations (a coarse quantizer only needs rough cells).
    */
  def buildIvfIndex(emb: DataFrame, cells: Int, seed: Long = 42,
      idCol: String = "vec_id", vecCol: String = "embedding",
      maxIter: Int = 5): IvfIndex = {
    require(cells > 0, s"cells must be positive, got $cells")
    import org.apache.spark.ml.clustering.KMeans
    import org.apache.spark.ml.functions.array_to_vector
    graft.functions.GraftExtensions.register(emb.sparkSession)
    val e = emb.select(col(idCol).as("vec_id"),
        col(vecCol).cast("array<double>").as("v"))
      .withColumn("fv", array_to_vector(col("v")))
    val model = new KMeans().setK(cells).setSeed(seed).setMaxIter(maxIter)
      .setFeaturesCol("fv").setPredictionCol("cell").fit(e)
    val centroids = model.clusterCenters.zipWithIndex.map { case (c, i) =>
      (i, c.toArray.toSeq)
    }.toSeq
    val cents = emb.sparkSession.createDataFrame(centroids).toDF("cell", "cv")
      .withColumn("cv", col("cv").cast("array<double>"))
    val assigned = model.transform(e).select(col("vec_id"), col("v"), col("cell"))
    IvfIndex(cents, assigned, cells)
  }

  /** The IVF index of the registered s04/s06 queries:
    * [[buildIvfIndex]] at the gate parameters, with the cell assignment
    * persisted — the local-mode stand-in for a precomputed index table
    * partitioned by cell id. Query-time work is then probe-side only.
    */
  private[operators] def ivfIndex(s: SparkSession, dir: String): IvfIndex =
    ArtifactStore.get(s, dir, "ivf") { b =>
      val idx = buildIvfIndex(embeddings(s, dir), cells = IvfCells)
      idx.copy(assigned = b.keep(idx.assigned))
    }

  // The PQ index — the same ingest-artifact pattern as the IVF index.
  private[operators] def pqIndex(s: SparkSession, dir: String): PqIndex =
    ArtifactStore.get(s, dir, "pq") { b =>
      val idx = buildPqIndex(embeddings(s, dir))
      idx.copy(codes = b.keep(idx.codes))
    }

  // The verified semantic near-dup PAIR LIST — the text pair list's
  // twin for the embedding side: s06 defines the relation, s07
  // consumes it for survivor selection, so a pipeline computes it
  // once. Tiny (true near-dups only).
  private[operators] def semPairs(s: SparkSession, dir: String): DataFrame =
    ArtifactStore.get(s, dir, "pairs/sem")(
      _.keep(semanticNearDup(ivfIndex(s, dir), NearDupThreshold, nAssign = 4)))

  // Component labels over the embedding-side pair artifacts (r17,
  // VERDICT r16 item 6): every s07-family call re-ran the
  // connected-components loop (checkpoint + count + collect jobs) on
  // the identical cached pair list. Labels are derived once per pair
  // artifact through the dedup family's label builder
  // ([[Dedup.ccLabelsFor]]), with distinct family keys.
  private[operators] def semCcLabels(s: SparkSession, dir: String): DataFrame =
    Dedup.ccLabelsFor(s, dir, "sem",
      semPairs(s, dir).select(col("id_a"), col("id_b")))
  private[operators] def detCcLabels(s: SparkSession, dir: String): DataFrame =
    Dedup.ccLabelsFor(s, dir, "det",
      detIndexes(s, dir).pairs.select(col("id_a"), col("id_b")))
  private[operators] def sizedDetCcLabels(s: SparkSession, dir: String): DataFrame =
    Dedup.ccLabelsFor(s, dir, "sizedDet",
      sizedDetPairs(s, dir).select(col("id_a"), col("id_b")))

  /** The s07 family's survivor chain: the embedding corpus kept by one
    * of the component-label artifacts above.
    */
  private def survivors(s: SparkSession, dir: String, labels: DataFrame): DataFrame =
    Dedup.keepRepresentativesByLabels(
      embeddings(s, dir).select("vec_id", "label"), labels, idCol = "vec_id")

  // The SIZED deterministic SemDeDup pair list (s07c's ingest
  // artifact): seed-vector coarse cells — the [[detIndexes]] rule, so
  // the oracle reproduces blocking exactly — but the cell COUNT comes
  // from [[sizedCellsOf]] (≈√n) instead of the pinned 16, the same
  // build-time index-sizing demonstration as s03c/s10c for the
  // cluster-blocked family. Seed centroids beyond the corpus's base
  // id range are content-duplicates on a replicated fixture; ties
  // break on cell id in both engines, so determinism is unaffected.
  private[operators] def sizedDetPairs(s: SparkSession, dir: String): DataFrame =
    ArtifactStore.get(s, dir, "pairs/sizedDet") { b =>
      val cells = sizedCellsOf(corpusCount(s, dir))
      val corpus = embeddings(s, dir).select(col("vec_id"),
        col("embedding").cast("array<double>").as("v"))
      val cents = corpus.filter(col("vec_id") < cells)
        .select(col("vec_id").cast("int").as("cell"), col("v").as("cv"))
      b.keep(cellBlockedPairs(corpus, cents, NearDupThreshold, nAssign = 4))
    }

  /** Build the embedding family's ingest artifacts for a dataset ahead
    * of queries (ingest-time step; Bench calls this in its untimed
    * warm-up).
    */
  def prepareIndex(s: SparkSession, dir: String): Unit = {
    ivfIndex(s, dir); pqIndex(s, dir); semPairs(s, dir)
    annBuckets(s, dir); nearDupBuckets(s, dir); sizedBuckets(s, dir)
    sizedAnnBuckets(s, dir); detIndexes(s, dir); sizedDetPairs(s, dir)
    // component labels over the three pair artifacts (r17) — the
    // s07-family survivor selection reads these instead of re-running
    // the CC loop per call
    semCcLabels(s, dir); detCcLabels(s, dir); sizedDetCcLabels(s, dir); ()
  }

  /** Public df-in/df-out IVF ANN top-k over a built index: each probe
    * (identified by `probeIds`, fetched from the index) ranks the
    * centroids, keeps its `nProbe` closest cells, and is scored only
    * against vectors assigned to those cells. Exact scores,
    * approximate candidate set; recall is the nProbe/cells trade.
    * Output: (qid, cid, rnk, score).
    */
  def ivfTopK(index: IvfIndex, probeIds: DataFrame, k: Int, nProbe: Int = 4,
      idCol: String = "vec_id"): DataFrame = {
    require(nProbe > 0, s"nProbe must be positive, got $nProbe")
    graft.functions.GraftExtensions.register(index.assigned.sparkSession)
    val q = index.assigned
      .join(broadcast(probeIds.select(col(idCol).as("vec_id"))), Seq("vec_id"))
      .select(col("vec_id").as("qid"), col("v").as("qv"))
    val wCell = Window.partitionBy(col("qid")).orderBy(col("cdist").desc, col("cell"))
    val probeCells = q.crossJoin(broadcast(index.centroids))
      .withColumn("cdist", dot("qv", "cv"))
      .withColumn("crk", row_number().over(wCell))
      .filter(col("crk") <= nProbe)
      .select(col("qid"), col("qv"), col("cell"))
    val scored = index.assigned.join(broadcast(probeCells), Seq("cell"))
      .filter(col("qid") =!= col("vec_id"))
      .select(col("qid"), col("vec_id").as("cid"), dot("qv", "v").as("score"))
    val w = Window.partitionBy(col("qid")).orderBy(col("score").desc, col("cid"))
    scored.withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)
      .select("qid", "cid", "rnk", "score")
  }

  /** Public df-in/df-out exact top-k: for each probe row, the k nearest
    * corpus rows, identical-id matches excluded. Probe side is
    * broadcast (assumed small); the corpus is scanned once. Output:
    * (qid, cid, rnk, score).
    *
    * `normalized = true` scores by dot product (cosine for
    * unit-normalized embeddings, one multiply-add per dim);
    * `normalized = false` scores by true cosine via the native
    * one-pass `vector_cosine` expression — correct for raw vectors
    * without a separate normalization pass.
    */
  def cosineTopK(corpus: DataFrame, probes: DataFrame, k: Int,
      idCol: String = "vec_id", vecCol: String = "embedding",
      normalized: Boolean = true): DataFrame = {
    graft.functions.GraftExtensions.register(corpus.sparkSession)
    val score =
      if (normalized) dot("qv", "cv") else expr("vector_cosine(qv, cv)")
    val c = corpus.select(col(idCol).as("cid"),
      col(vecCol).cast("array<double>").as("cv"))
    val q = probes.select(col(idCol).as("qid"),
      col(vecCol).cast("array<double>").as("qv"))
    val w = Window.partitionBy(col("qid")).orderBy(col("score").desc, col("cid"))
    c.crossJoin(broadcast(q))
      .filter(col("qid") =!= col("cid"))
      .select(col("qid"), col("cid"), score.as("score"))
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)
      .select("qid", "cid", "rnk", "score")
  }

  /** Public df-in/df-out approximate top-k via sign-LSH bucketing: each
    * probe is compared only against corpus rows sharing one of its LSH
    * bucket codes (equi-join on (table, bucket) — no corpus cross
    * join). Output: (qid, cid, rnk, score); exact scores, approximate
    * candidate set.
    *
    * `bkOpt`: prebuilt (vec_id, v, tbl, bucket, codes) LSH bucket
    * table as produced by this module's bucketizer — `codes` is the
    * per-vector array of ALL tables' bucket ints, which the
    * first-collision dedup reads (a table without it fails analysis);
    * the cached ingest artifact the s02 registration passes. Derived
    * in-plan from `corpus` when absent.
    */
  def annTopK(corpus: DataFrame, probeIds: DataFrame, k: Int,
      idCol: String = "vec_id", vecCol: String = "embedding",
      bkOpt: Option[DataFrame] = None): DataFrame = {
    // register on THIS session even when bkOpt skips lshBuckets —
    // r13 review: the documented prebuilt-bucket path otherwise fails
    // analysis on sessions without GraftExtensions
    graft.functions.GraftExtensions.register(corpus.sparkSession)
    val e = corpus.select(col(idCol).as("vec_id"),
      col(vecCol).cast("array<double>").as("v"))
    val bk = bkOpt.getOrElse(lshBuckets(e, annPlanes, BitsPerTable))
    val q = bk.join(broadcast(probeIds.select(col(idCol).as("vec_id"))), Seq("vec_id"))
      .select(col("vec_id").as("qid"), col("v").as("qv"), col("tbl"),
        col("bucket"), col("codes").as("ca"))
    val w = Window.partitionBy(col("qid")).orderBy(col("score").desc, col("cid"))
    bk.select(col("vec_id").as("cid"), col("v").as("cv"), col("tbl"),
        col("bucket"), col("codes").as("cb"))
      .join(broadcast(q), Seq("tbl", "bucket"))
      .filter(col("qid") =!= col("cid") && firstCollision("ca", "cb"))
      .select(col("qid"), col("cid"), dot("qv", "cv").as("score"))
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)
      .select("qid", "cid", "rnk", "score")
  }

  /** Self-kNN similarity join: EVERY vector finds its `k` nearest
    * neighbors in the same corpus — the kNN-graph builder feeding
    * embedding clustering, diversity sampling, and graph-based dedup.
    * Unlike [[annTopK]] (tiny probe set, broadcast), both sides here
    * are the full corpus, so the blocking is a shuffle hash self-join
    * on the LSH (table, bucket) keys: candidates are only same-bucket
    * pairs (≈ Σ n_b² per bucket across 8 tables — the same skew
    * economics as s03's near-dup blocking, bounded by bucket width),
    * scored exactly with the codegen'd `vector_dot`, then top-k'd per
    * query by a streaming row_number window. Nothing is ever
    * broadcast; every stage shuffles on keys that scale with the
    * corpus. Neighbors missed when no table co-buckets them are the
    * recall trade (measured in DedupSimilaritySpec); returned scores
    * are exact.
    *
    * Narrow-first, like s03: the bucket self-join moves only
    * (id, tbl, bucket, codes) — carrying vectors through it would
    * shuffle each one once per colliding table — and candidate pairs
    * are deduped across tables BEFORE the two vector-fetch joins by
    * the in-row [[firstCollision]] check (no distinct shuffle), so
    * each surviving pair is scored once.
    *
    * Output: (qid, cid, rnk, score), rnk 1..≤k per qid.
    *
    * `bkOpt`: prebuilt (vec_id, v, tbl, bucket, codes) LSH bucket
    * table as produced by this module's bucketizer — `codes` (all
    * tables' bucket ints per vector) feeds the first-collision dedup;
    * the cached ingest artifact the s10 registration passes. Derived
    * in-plan when absent.
    */
  def knnJoin(emb: DataFrame, k: Int, idCol: String = "vec_id",
      vecCol: String = "embedding",
      bkOpt: Option[DataFrame] = None,
      nOpt: Option[Long] = None): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    // same prebuilt-bucket registration guard as [[annTopK]]
    graft.functions.GraftExtensions.register(emb.sparkSession)
    val e = emb.select(col(idCol).as("vec_id"),
      col(vecCol).cast("array<double>").as("v"))
    val bk = bkOpt.getOrElse(lshBuckets(e, annPlanes, BitsPerTable))
      .select("vec_id", "tbl", "bucket", "codes")
    // vector-side hint sized by corpus rows — caller-declared (the
    // registered paths pass the cached ingest count) or one eager
    // sizing pass, the exactPercentileSelect pattern; see [[vecHint]]
    // for the measured wide-row-sort cliff the hint removes
    val n = nOpt.getOrElse(e.count())
    val cand = bk.select(col("vec_id").as("qid"), col("tbl"), col("bucket"),
        col("codes").as("ca"))
      .join(bk.select(col("vec_id").as("cid"), col("tbl"), col("bucket"),
        col("codes").as("cb")), Seq("tbl", "bucket"))
      .filter(col("qid") =!= col("cid") && firstCollision("ca", "cb"))
      .select("qid", "cid")
    val w = Window.partitionBy(col("qid")).orderBy(col("score").desc, col("cid"))
    cand
      .join(vecHint(n)(e.select(col("vec_id").as("qid"), col("v").as("qv"))),
        Seq("qid"))
      .join(vecHint(n)(e.select(col("vec_id").as("cid"), col("v").as("cv"))),
        Seq("cid"))
      .select(col("qid"), col("cid"), dot("qv", "cv").as("score"))
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)
      .select("qid", "cid", "rnk", "score")
  }

  /** Public df-in/df-out cluster-blocked (SemDeDup-style) near-dup
    * pairs over a built IVF index: every vector is assigned to its
    * `nAssign` nearest coarse cells (multi-probe — recall insurance
    * against pairs split by a cell boundary), candidates come from the
    * within-cell self-join, and survivors carry their EXACT cosine.
    * Precision is therefore 1.0 by construction; recall is what the
    * cell blocking trades (asserted in DedupSimilaritySpec). At 100 TB
    * `index.assigned` is a table partitioned by cell, so the self-join
    * runs partition-local — never all-pairs. Output:
    * (id_a, id_b, cosine).
    */
  def semanticNearDup(index: IvfIndex, threshold: Double,
      nAssign: Int = 4): DataFrame =
    cellBlockedPairs(index.assigned.select(col("vec_id"), col("v")),
      index.centroids, threshold, nAssign)

  /** [[semanticNearDup]]'s body over a bare (vec_id, v) corpus view +
    * (cell, cv) centroid table — shared with the sized deterministic
    * twin ([[sizedDetPairs]]), which has no trained [[IvfIndex]].
    */
  private[graft] def cellBlockedPairs(corpus: DataFrame,
      cents: DataFrame, threshold: Double, nAssign: Int): DataFrame = {
    require(nAssign > 0, s"nAssign must be positive, got $nAssign")
    graft.functions.GraftExtensions.register(corpus.sparkSession)
    val wCell = Window.partitionBy(col("vec_id")).orderBy(col("cdot").desc, col("cell"))
    // Narrow multi-assign (r14): the vector is projected away BEFORE
    // the window's partitionBy-vec_id exchange, so the n·cells scored
    // rows cross the shuffle at ~24 bytes instead of carrying the
    // 64-double vector (~550 bytes) — at the sized geometry
    // (cells ≈ √n: 100k vectors × 512 cells) that is ~1 GB of
    // exchange instead of ~27 GB. Vectors re-attach to the n·nAssign
    // survivors by ONE vec_id equi-join.
    val picked = corpus
      .crossJoin(broadcast(cents))
      .select(col("vec_id"), col("cell"), dot("v", "cv").as("cdot"))
      .withColumn("crk", row_number().over(wCell))
      .filter(col("crk") <= nAssign)
      .select(col("vec_id"), col("cell"))
    val multi = picked.join(corpus, Seq("vec_id"))
      .select(col("vec_id"), col("v"), col("cell"))
    // Each side carries its vector through ONE within-cell join (a row
    // exists once per assigned cell, not once per table as in s03's
    // 24-table layout), so fetching vectors later than this would cost
    // more shuffles than it saves here.
    multi.as("a").join(multi.as("b"),
        col("a.cell") === col("b.cell") && col("a.vec_id") < col("b.vec_id"))
      .select(col("a.vec_id").as("id_a"), col("b.vec_id").as("id_b"),
        dot("a.v", "b.v").as("cosine"))
      .filter(col("cosine") >= threshold)
      .dropDuplicates("id_a", "id_b")
  }

  /** A built product-quantization index: `codebooks` is (sub, code,
    * cv: array<double>) — subs × codesPerSub sub-centroids, tiny and
    * broadcast at query time — and `codes` is (vec_id, codes:
    * array<int>), the corpus compressed to one small code per
    * subspace. At 64 dims with 8 subspaces the index holds 8 codes
    * (≤8 bytes) instead of 64 doubles (512 bytes) per vector — the
    * 32–64× memory shrink that lets a 100 TB corpus' ANN index stay
    * in executor/storage memory. [[ivfPqTopK]] runs the composition
    * with [[IvfIndex]]: IVF picks the cells to probe, PQ scores the
    * candidates without touching the raw vectors.
    */
  case class PqIndex(codebooks: DataFrame, codes: DataFrame,
    subs: Int, codesPerSub: Int, dim: Int)

  /** Train a PQ index: per subspace, seeded KMeans over the subvectors
    * (ingest-time work; at scale, fit on a sample and `transform` the
    * corpus). Deterministic for a given (subs, codesPerSub, seed).
    */
  def buildPqIndex(emb: DataFrame, subs: Int = 8, codesPerSub: Int = 16,
      seed: Long = 42, idCol: String = "vec_id", vecCol: String = "embedding",
      maxIter: Int = 5): PqIndex = {
    import org.apache.spark.ml.clustering.KMeans
    import org.apache.spark.ml.functions.array_to_vector
    // Dimension comes from the data, not a module constant: one row's
    // width (a head(1) job — ingest-time cost, like the KMeans fits).
    val dimRow = emb.select(size(col(vecCol)).as("d")).head()
    val dim = dimRow.getInt(0)
    require(dim > 0, s"$vecCol is empty/null in the first row")
    require(dim % subs == 0, s"dim $dim not divisible by subs $subs")
    val subDim = dim / subs
    val e = emb.select(col(idCol).as("vec_id"),
      col(vecCol).cast("array<double>").as("v"))
    // One KMeans per subspace over that subspace's slice. The fits are
    // sequential but each input is (n × subDim) — ingest-time cost.
    val perSub = (0 until subs).map { j =>
      val sliced = e.select(col("vec_id"),
        slice(col("v"), j * subDim + 1, subDim).as("sv"))
        .withColumn("fv", array_to_vector(col("sv")))
      val model = new KMeans().setK(codesPerSub).setSeed(seed + j)
        .setMaxIter(maxIter).setFeaturesCol("fv").setPredictionCol("code")
        .fit(sliced)
      val cents = model.clusterCenters.zipWithIndex.map { case (c, i) =>
        (j, i, c.toArray.toSeq)
      }
      (model.transform(sliced).select(col("vec_id"), lit(j).as("sub"),
        col("code")), cents)
    }
    val codes = perSub.map(_._1).reduce(_ unionByName _)
      .groupBy("vec_id")
      .agg(transform(array_sort(collect_list(struct(col("sub"), col("code")))),
        c => c("code")).as("codes"))
    val cbs = perSub.flatMap(_._2)
    val codebooks = emb.sparkSession.createDataFrame(cbs)
      .toDF("sub", "code", "cv")
      .withColumn("cv", col("cv").cast("array<double>"))
    PqIndex(codebooks, codes, subs, codesPerSub, dim)
  }

  /** Encode vectors against an EXISTING PQ codebook table — the
    * production encode step ([[buildPqIndex]]'s scaladoc: at scale the
    * codebooks are fitted on a sample and the corpus is transformed;
    * THIS is that transform, and unlike the KMeans fit it is fully
    * deterministic given the codebooks, so it oracle-checks —
    * s08b gates it). Per subspace, each vector's code is the
    * squared-L2 argmin over that subspace's codebook (c·c − 2·v·c,
    * code-id tie-break — the [[kmeansAssign]] rule per slice).
    *
    * Scale shape mirrors [[kmeansAssign]]: the codebooks collapse to
    * ONE broadcast row (subs × codesPerSub entries, KBs), and each
    * vector's codes are an in-row fold — ZERO corpus shuffles.
    * Output: (idCol, codes: array<int>), the [[PqIndex]].codes schema.
    */
  def pqEncode(emb: DataFrame, codebooks: DataFrame, subs: Int, dim: Int,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    require(subs > 0 && dim % subs == 0, s"dim $dim not divisible by subs $subs")
    graft.functions.GraftExtensions.register(emb.sparkSession)
    val subDim = dim / subs
    val books = codebooks
      .select(struct(col("sub").cast("int").as("sub"),
        col("code").cast("int").as("code"),
        col("cv").cast("array<double>").as("cv")).as("b"))
      .agg(sort_array(collect_list(col("b"))).as("__books"))
    emb.crossJoin(broadcast(books))
      .withColumn("__v", col(vecCol).cast("array<double>"))
      .withColumn("codes", expr(
        s"""transform(sequence(0, ${subs - 1}), j ->
              aggregate(filter(__books, b -> b.sub = j),
                struct(CAST(-1 AS INT) AS code,
                       CAST('Infinity' AS DOUBLE) AS d),
                (acc, b) -> CASE
                  WHEN vector_dot(b.cv, b.cv)
                       - 2D * vector_dot(slice(__v, j * $subDim + 1, $subDim),
                                         b.cv) < acc.d
                  THEN struct(b.code AS code,
                         vector_dot(b.cv, b.cv)
                           - 2D * vector_dot(slice(__v, j * $subDim + 1,
                                                   $subDim), b.cv) AS d)
                  ELSE acc END).code)"""))
      .select(col(idCol), col("codes"))
  }

  // Deterministic seed indexes for the hash-checked ANN stage twins
  // (s04b/s08b/s09b): coarse cells and PQ codebooks taken from the 16
  // lowest vec_ids (the s11 seeding rule) instead of a KMeans fit, so
  // the WHOLE route/encode/score/rerank pipeline is reproducible in
  // the DuckDB oracle. Quantizer QUALITY differs from the trained
  // s04/s08/s09 (recall is gated there, in DedupSimilaritySpec); the
  // operator code paths exercised — ivfTopK, pqEncode, ivfPqTopK —
  // are the same ones the trained indexes serve.
  private val DetCells = 16
  private val DetSubs = 8

  /** The deterministic seed indexes as ONE ingest artifact per
    * (session, dataset) — the same economics as the IVF / PQ indexes
    * and the semantic pair list: cell assignment, PQ codes, and the
    * verified pair list are corpus properties built once at ingest
    * (at 100 TB: written tables), so the registered s04b–s09b queries
    * pay probe/consume cost only. [[prepareIndex]] warms it.
    */
  private case class DetIndexes(ivf: IvfIndex, books: DataFrame,
    codes: DataFrame, pairs: DataFrame)
  private def detIndexes(s: SparkSession, dir: String): DetIndexes =
    ArtifactStore.get(s, dir, "det") { b =>
      val e = embeddings(s, dir)
      val subDim = Dim / DetSubs
      val cents = e.filter(col("vec_id") < DetCells)
        .select(col("vec_id").cast("int").as("cell"),
          col("embedding").cast("array<double>").as("cv"))
      val assigned = b.keep(
        kmeansAssign(e, e.filter(col("vec_id") < DetCells), cidCol = "vec_id")
          .select(col("vec_id"),
            col("embedding").cast("array<double>").as("v"),
            col("cluster").cast("int").as("cell")))
      val ivf = IvfIndex(cents, assigned, DetCells)
      val books = b.keep(e.filter(col("vec_id") < DetCells)
        .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
        .select(col("vec_id"),
          explode(sequence(lit(0), lit(DetSubs - 1))).as("sub"), col("v"))
        .select(col("sub"), col("vec_id").cast("int").as("code"),
          expr(s"slice(v, sub * $subDim + 1, $subDim)").as("cv")))
      val codes = b.keep(pqEncode(e, books, DetSubs, Dim))
      val pairs = b.keep(semanticNearDup(ivf, NearDupThreshold, nAssign = 4))
      DetIndexes(ivf, books, codes, pairs)
    }

  /** Asymmetric-distance (ADC) approximate top-k over a PQ index: each
    * probe dots its subvectors against ALL sub-centroids once (a
    * subs × codesPerSub lookup table, ~128 doubles per probe), then
    * every corpus vector is scored with `subs` table lookups — never a
    * full-dimension dot product, never the raw corpus vectors. The LUT
    * rides a broadcast; the per-(probe, vector) partial scores
    * aggregate map-side. Output: (qid, cid, rnk, score) with `score`
    * the ADC approximation of the dot product.
    */
  def pqTopK(index: PqIndex, probes: DataFrame, k: Int,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    graft.functions.GraftExtensions.register(index.codes.sparkSession)
    val subDim = index.dim / index.subs
    val q = probes.select(col(idCol).as("qid"),
      col(vecCol).cast("array<double>").as("qv"))
    // LUT: (qid, sub, code, pd) — partial dots snapped to a 1e-9
    // integer grid (the t07 micro-grid trick) so the per-candidate ADC
    // total is an order-independent LONG sum: deterministic across
    // partitionings and engines (ADC ranks candidates; a 1e-9 snap on
    // O(1) dots is far below the approximation's own error).
    val lut = q.crossJoin(broadcast(index.codebooks))
      .select(col("qid"), col("sub"), col("code"),
        expr(s"CAST(round(vector_dot(slice(qv, sub * $subDim + 1, $subDim)," +
          s" cv) * 1e9) AS BIGINT)").as("pd"))
    val exploded = index.codes
      .select(col("vec_id").as("cid"),
        posexplode(col("codes")).as(Seq("sub", "code")))
    val w = Window.partitionBy(col("qid")).orderBy(col("score").desc, col("cid"))
    exploded.join(broadcast(lut), Seq("sub", "code"))
      .filter(col("qid") =!= col("cid"))
      .groupBy("qid", "cid")
      .agg((sum("pd").cast("double") / lit(1e9)).as("score"))
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)
      .select("qid", "cid", "rnk", "score")
  }

  /** PQ shortlist + exact rerank — the production ANN serving shape:
    * the COMPRESSED corpus (8 codes/vector) is scanned with ADC table
    * lookups to produce a `shortlist`-sized candidate set per probe,
    * and only those candidates' raw vectors are fetched (an equi-join
    * on vec_id — at 100 TB, point reads against the vector store) for
    * exact scoring of the final top-k. Raw-vector I/O is
    * shortlist/corpus of the brute-force path; scores are EXACT for
    * everything returned. Output: (qid, cid, rnk, score).
    */
  def pqRerankTopK(index: PqIndex, corpus: DataFrame, probes: DataFrame,
      k: Int, shortlist: Int = 50, idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame = {
    require(shortlist >= k, s"shortlist $shortlist must be >= k $k")
    val cand = pqTopK(index, probes, shortlist, idCol, vecCol)
      .select(col("qid"), col("cid"))
    val c = corpus.select(col(idCol).as("cid"),
      col(vecCol).cast("array<double>").as("cv"))
    // Query vectors come from `probes` (which carries them per pqTopK's
    // contract) — probes need NOT be corpus rows — and only the probe
    // side rides a broadcast: the corpus raw-vector projection stays
    // the non-broadcast join input (at 100 TB it's the big side; the
    // shortlist equi-join touches only cand×|probes| of it).
    val q = probes.select(col(idCol).as("qid"),
      col(vecCol).cast("array<double>").as("qv"))
    val w = Window.partitionBy(col("qid")).orderBy(col("score").desc, col("cid"))
    cand.join(c, "cid").join(broadcast(q), "qid")
      .select(col("qid"), col("cid"), dot("qv", "cv").as("score"))
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)
      .select("qid", "cid", "rnk", "score")
  }

  /** The per-probe candidate set of the composed IVF→PQ route: each
    * probe ranks the coarse centroids, keeps its `nProbe` closest
    * cells, and its candidates are exactly the ids assigned to those
    * cells. Exposed for DedupSimilaritySpec's scan-volume accounting
    * (candidates here ≪ the full corpus every PQ-only probe scans).
    * Input `q` is (qid, qv); output (qid, cid).
    */
  private[operators] def ivfRoutedCandidates(ivf: IvfIndex, q: DataFrame,
      nProbe: Int): DataFrame = {
    graft.functions.GraftExtensions.register(ivf.assigned.sparkSession)
    val wCell = Window.partitionBy(col("qid")).orderBy(col("cdot").desc, col("cell"))
    val probeCells = q.crossJoin(broadcast(ivf.centroids))
      .withColumn("cdot", dot("qv", "cv"))
      .withColumn("crk", row_number().over(wCell))
      .filter(col("crk") <= nProbe)
      .select(col("qid"), col("cell"))
    // Narrow routing join: only (id, cell) rides it — vectors and codes
    // are fetched later, and only for rows that survive their stage.
    ivf.assigned.select(col("vec_id").as("cid"), col("cell"))
      .join(broadcast(probeCells), Seq("cell"))
      .filter(col("qid") =!= col("cid"))
      .select("qid", "cid")
  }

  /** The fully composed production ANN serving plan — IVF routes, PQ
    * scores, exact rerank (the composition [[buildPqIndex]] and
    * [[PqIndex]]'s docs promise):
    *
    *  1. ROUTE: each probe keeps its `nProbe` nearest coarse cells, so
    *     candidates are nProbe/cells of the corpus — at 100 TB the cell
    *     id is the write-time partition key and this is partition
    *     pruning, not a scan.
    *  2. SCORE: the routed candidates' PQ codes (8 small ints, never
    *     the raw vectors) are ADC-scored against the probe's broadcast
    *     lookup table, and the top `shortlist` per probe survive.
    *  3. RERANK: ONLY the shortlist's raw vectors are fetched (an
    *     equi-join on vec_id — point reads against the vector store)
    *     for exact cosine scoring of the final top-k.
    *
    * Raw-vector I/O is shortlist×probes rows; ADC work is
    * nProbe/cells × |corpus| code lookups per probe (vs the WHOLE
    * corpus for [[pqTopK]] alone); exact work is the shortlist only
    * (vs nProbe cells of raw vectors for [[ivfTopK]] alone). Scores
    * are EXACT for everything returned; recall is the nProbe +
    * shortlist trade (asserted vs the s01 ground truth in
    * DedupSimilaritySpec). `probes` carries the query vectors and need
    * not be corpus rows. Output: (qid, cid, rnk, score).
    */
  def ivfPqTopK(ivf: IvfIndex, pq: PqIndex, probes: DataFrame, k: Int,
      nProbe: Int = 4, shortlist: Int = 50, idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame = {
    require(nProbe > 0, s"nProbe must be positive, got $nProbe")
    require(shortlist >= k, s"shortlist $shortlist must be >= k $k")
    graft.functions.GraftExtensions.register(ivf.assigned.sparkSession)
    val subDim = pq.dim / pq.subs
    val q = probes.select(col(idCol).as("qid"),
      col(vecCol).cast("array<double>").as("qv"))
    val cand = ivfRoutedCandidates(ivf, q, nProbe)
    // Per-probe ADC lookup table: subs × codesPerSub partial dots,
    // snapped to the 1e-9 integer grid (see [[pqTopK]]) so the
    // shortlist order is an exact long sum — deterministic across
    // partitionings and engines.
    val lut = q.crossJoin(broadcast(pq.codebooks))
      .select(col("qid"), col("sub"), col("code"),
        expr(s"CAST(round(vector_dot(slice(qv, sub * $subDim + 1, $subDim)," +
          s" cv) * 1e9) AS BIGINT)").as("pd"))
    // ADC-score only the routed candidates' codes. The LUT join keys on
    // qid too (unlike pqTopK's corpus-wide scan, where every probe
    // scores every code): candidates are already per-probe here.
    val wShort = Window.partitionBy(col("qid")).orderBy(col("adc").desc, col("cid"))
    val short = pq.codes.select(col("vec_id").as("cid"), col("codes"))
      .join(cand, Seq("cid"))
      .select(col("qid"), col("cid"), posexplode(col("codes")).as(Seq("sub", "code")))
      .join(broadcast(lut), Seq("qid", "sub", "code"))
      .groupBy("qid", "cid")
      .agg(sum("pd").as("adc"))
      .withColumn("srk", row_number().over(wShort))
      .filter(col("srk") <= shortlist)
      .select("qid", "cid")
    // Exact rerank: raw vectors only for the shortlist.
    val raw = ivf.assigned.select(col("vec_id").as("cid"), col("v").as("cv"))
    val w = Window.partitionBy(col("qid")).orderBy(col("score").desc, col("cid"))
    short.join(raw, Seq("cid")).join(broadcast(q), Seq("qid"))
      .select(col("qid"), col("cid"), dot("qv", "cv").as("score"))
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)
      .select("qid", "cid", "rnk", "score")
  }

  /** One Lloyd (k-means) refinement iteration as pure dataflow: assign
    * every vector to its nearest centroid (squared L2, centroid-id
    * tie-break), then recompute each centroid as the member mean — the
    * building block the IVF coarse quantizer trains with, exposed so a
    * pipeline can refine or audit a quantizer without MLlib.
    *
    * Scale shape: the centroid table collapses to ONE broadcast row
    * holding the sorted (cid, vector) array, so assignment is a
    * per-row `aggregate` HOF — argmin over k in-row, ZERO corpus
    * shuffles (compare [[cosineTopK]], which pays a k-fan-out through
    * a window). The only wide op is the (cluster, dim) mean — k×dim
    * groups behind a map-side combine. Distances use the shared
    * `vector_dot` fold (bitwise-equal to DuckDB's list_dot_product),
    * dropping the constant v·v term: argmin of c·c − 2·v·c.
    *
    * Output: (cluster, dim, n_members, cval) long-form, dim 1-based,
    * means rounded to 6 dp (cross-engine sum-order tolerance, like
    * s05). Empty clusters are absent.
    */
  def kmeansStep(emb: DataFrame, centroids: DataFrame,
      idCol: String = "vec_id", vecCol: String = "embedding",
      cidCol: String = "cid"): DataFrame =
    kmeansAssign(emb, centroids, idCol, vecCol, cidCol)
      .select(col("cluster"), posexplode(col(vecCol).cast("array<double>")))
      .select(col("cluster"), (col("pos") + 1).as("dim"), col("col").as("x"))
      .groupBy("cluster", "dim")
      .agg(count(lit(1)).as("n_members"), round(avg("x"), 6).as("cval"))

  /** Nearest-centroid assignment (the quantizer/routing half of
    * [[kmeansStep]], exposed for pipelines that need the labels —
    * cluster-balanced sampling, partition-key derivation, drift
    * audits): every input row comes back unchanged plus a `cluster`
    * column holding the nearest centroid's id (squared-L2 argmin,
    * centroid-id tie-break). Same zero-corpus-shuffle shape as
    * [[kmeansStep]]: one broadcast row carries the sorted centroid
    * array and the argmin is an in-row `aggregate` HOF.
    */
  def kmeansAssign(emb: DataFrame, centroids: DataFrame,
      idCol: String = "vec_id", vecCol: String = "embedding",
      cidCol: String = "cid"): DataFrame = {
    graft.functions.GraftExtensions.register(emb.sparkSession)
    val cents = centroids
      .select(struct(col(cidCol).cast("long").as("cid"),
        col(vecCol).cast("array<double>").as("cv")).as("c"))
      .agg(sort_array(collect_list(col("c"))).as("__cents"))
    emb.crossJoin(broadcast(cents))
      .withColumn("__v", col(vecCol).cast("array<double>"))
      .withColumn("cluster", expr(
        """aggregate(__cents,
             struct(CAST(-1 AS BIGINT) AS cid, CAST('Infinity' AS DOUBLE) AS d),
             (acc, c) -> CASE WHEN vector_dot(c.cv, c.cv)
                                - 2D * vector_dot(__v, c.cv) < acc.d
                         THEN struct(c.cid AS cid,
                                vector_dot(c.cv, c.cv)
                                  - 2D * vector_dot(__v, c.cv) AS d)
                         ELSE acc END).cid"""))
      .drop("__cents", "__v")
  }

  /** Mean pairwise dot product WITHIN each group ("class diversity"):
    * the average similarity of every unordered pair of vectors sharing
    * a label — low mean ⇒ the class is diverse, high ⇒ redundant (the
    * statistic behind diversity-aware data selection and per-class
    * redundancy audits).
    *
    * The naive computation is an O(n²) within-group self-join. This is
    * O(n·d) via the centroid identity: with S = Σᵢ vᵢ (elementwise),
    *   Σ_{i≠j} vᵢ·vⱼ = |S|² − Σᵢ|vᵢ|²,
    * so the mean pair dot is (|S|² − Σ|vᵢ|²) / (n·(n−1)). No joins at
    * all: one per-row self-dot map, one (label, dim) sum behind a
    * map-side combine (collapses to |labels|·d rows per task), one
    * |labels|-row aggregate over those sums.
    *
    * Cross-engine exactness: vectors are snapped to a fixed integer
    * grid (`scale`, default 1e4 — t07's micro-grid trick), so every
    * sum is EXACT long arithmetic in any order and the single final
    * division is one IEEE op — bit-identical in any engine. Long
    * headroom: |Σ x²| ≤ n·d·(scale·|x|ₘₐₓ)² must fit 2⁶³; at
    * scale=1e4 and unit-ish values that bounds n per label at ~3×10⁷ —
    * beyond that pass a coarser grid (scale=1e3 buys 100×).
    *
    * Output: (label, n, mean_pair_dot) in grid² units ÷ scale² — i.e.
    * the mean pairwise dot of the SNAPPED vectors. Groups with n < 2
    * have no pairs and are absent.
    */
  def classDiversity(emb: DataFrame, labelCol: String = "label",
      vecCol: String = "embedding", scale: Long = 10000L): DataFrame = {
    require(scale >= 1, s"scale must be >= 1, got $scale")
    val q = emb.select(col(labelCol).as("label"),
      expr(s"""transform($vecCol, x ->
           CAST(round(CAST(x AS DOUBLE) * ${scale}D) AS BIGINT))""").as("q"))
    val rowStats = q
      .select(col("label"),
        expr("aggregate(q, CAST(0 AS BIGINT), (a, x) -> a + x * x)").as("sd"))
      .groupBy("label")
      .agg(count(lit(1)).as("n"), sum("sd").as("sum_self"))
    val dimSums = q
      .select(col("label"), posexplode(col("q")).as(Seq("dim", "x")))
      .groupBy("label", "dim").agg(sum("x").as("sk"))
      .groupBy("label").agg(sum(col("sk") * col("sk")).as("sum_sq"))
    rowStats.join(dimSums, Seq("label"))
      .filter(col("n") > 1)
      .select(col("label"), col("n"),
        // n·(n−1) stays exact long (n ≤ 3e7); scale² is folded to an
        // exact double literal — two IEEE ops (×, ÷), same tree as the
        // oracle, so the result is bit-identical cross-engine.
        ((col("sum_sq") - col("sum_self")).cast("double") /
          ((col("n") * (col("n") - 1)).cast("double") *
            lit(scale.toDouble * scale.toDouble)))
          .as("mean_pair_dot"))
      .orderBy("label")
  }

  /** Test-only ground truth for s03: exact all-pairs threshold join.
    * Quadratic in the corpus — deliberately NOT a registered query
    * (its BroadcastNestedLoopJoin plan dies at scale); DedupSimilaritySpec
    * uses it to assert s03's recall and exactness at small SF.
    */
  private[operators] def embedNearDupExact(s: SparkSession, dir: String): DataFrame = {
    val e = vecs(s, dir)
    val a = e.select(col("vec_id").as("id_a"), col("v").as("va"))
    val b = e.select(col("vec_id").as("id_b"), col("v").as("vb"))
    a.join(b, col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"), dot("va", "vb").as("cosine"))
      .filter(col("cosine") >= NearDupThreshold)
      .orderBy("id_a", "id_b")
  }

  /** queries entry: per-label centroid via the typed [[graft.functions.VectorAvg]]
    * Aggregator (UDAF surface), emitted long-form for the oracle.
    */
  private def labelCentroid(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val e = vecs(s, dir).select(col("label"), col("v")).as[(Int, Array[Double])]
    e.groupByKey(_._1)
      .mapValues(_._2)
      .agg(graft.functions.VectorAvg.toColumn)
      .toDF("label", "centroid")
      .select(col("label"), posexplode(col("centroid")))
      .select(col("label"), (col("pos") + 1).as("dim"),
        round(col("col"), 6).as("cval"))
      .orderBy("label", "dim")
  }

  /** The s06b pair-relation oracle — shared verbatim by the s07b
    * oracle EXTENSION below (the ext verifier unions-finds over the
    * same pairs DuckDB derives), so the two can never drift.
    */
  private val s06bOracle: String =
    s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
       c AS (SELECT vec_id AS cell, v AS cv FROM e WHERE vec_id < $DetCells),
       m AS (SELECT vec_id, cell FROM (
               SELECT e.vec_id, c.cell, ROW_NUMBER() OVER (
                 PARTITION BY e.vec_id
                 ORDER BY list_dot_product(e.v, c.cv) DESC, c.cell) AS rk
               FROM e CROSS JOIN c) z WHERE rk <= 4),
       cand AS (SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
                FROM m a JOIN m b
                  ON a.cell = b.cell AND a.vec_id < b.vec_id)
       SELECT cd.id_a, cd.id_b, list_dot_product(ea.v, eb.v) AS cosine
       FROM cand cd JOIN e ea ON ea.vec_id = cd.id_a
            JOIN e eb ON eb.vec_id = cd.id_b
       WHERE list_dot_product(ea.v, eb.v) >= $NearDupThreshold
       ORDER BY id_a, id_b"""

  /** The CTE bodies shared by the s07c oracles: cell count from the
    * [[sizedCellsOf]] integer rule re-derived in SQL (smallest 2^j,
    * j in [$SizedMinCellsLog2, $SizedMaxCellsLog2], with c·c ≥
    * COUNT(*); COALESCE = the clamp), then the s06b blocking with
    * `cells` seed centroids instead of the pinned $DetCells.
    */
  private val s07cBlockingCtes: String =
    s"""e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
       cc AS (SELECT COALESCE(MIN(s.c), ${1 << SizedMaxCellsLog2}) AS cells
              FROM (SELECT (1 << r.range) AS c
                    FROM range($SizedMinCellsLog2, ${SizedMaxCellsLog2 + 1}) r) s,
                   (SELECT COUNT(*) AS n FROM e) nn
              WHERE CAST(s.c AS BIGINT) * s.c >= nn.n),
       c AS (SELECT vec_id AS cell, v AS cv FROM e
             WHERE vec_id < (SELECT cells FROM cc)),
       m AS (SELECT vec_id, cell FROM (
               SELECT e.vec_id, c.cell, ROW_NUMBER() OVER (
                 PARTITION BY e.vec_id
                 ORDER BY list_dot_product(e.v, c.cv) DESC, c.cell) AS rk
               FROM e CROSS JOIN c) z WHERE rk <= 4),
       cand AS (SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
                FROM m a JOIN m b
                  ON a.cell = b.cell AND a.vec_id < b.vec_id),
       g AS (SELECT cd.id_a, cd.id_b
             FROM cand cd JOIN e ea ON ea.vec_id = cd.id_a
                  JOIN e eb ON eb.vec_id = cd.id_b
             WHERE list_dot_product(ea.v, eb.v) >= $NearDupThreshold)"""

  /** s07c's pair relation for the oracle EXTENSION path (the bounded
    * union-find verifier) — the sized analog of [[s06bOracle]].
    */
  private val s07cPairsOracle: String =
    s"""WITH $s07cBlockingCtes
       SELECT id_a, id_b FROM g ORDER BY id_a, id_b"""

  /** Oracle EXTENSIONS — scale-robust alternates for oracles whose
    * pure-SQL form is correct but resource-unbounded on big instances.
    *
    * s07b's primary oracle (below, unchanged — the driver's gate runs
    * it at sf0.01) computes connected components via a recursive-CTE
    * transitive closure; at the sf1 fixture's 475k-pair clique density
    * the closure's intermediate join (|tc| × degree rows per
    * iteration, Σc³ over cliques) exceeded DuckDB's temp disk (79 GB,
    * SCALE.md r12). The extension re-shapes the SAME check without SQL
    * iteration: DuckDB derives the exact near-dup PAIR relation (the
    * s06b oracle verbatim — non-recursive, verified hash-exact at sf1)
    * and the verifier computes the survivor set from those pairs with
    * a bounded union-find (O(E α(V)) time, O(V) memory — 475k edges is
    * milliseconds), then compares the full (vec_id, label) relation
    * exactly. Still a cross-engine check of the Spark output's VALUES:
    * the pair relation and the keep-min-of-component rule are both
    * recomputed outside Spark. Selected by the verify harness via
    * GRAFT_VERIFY_EXT=1 (the sf1 capture); sf0.001–0.1 keep the
    * recursive SQL oracle, and the two paths are cross-validated at
    * sf0.1 (both must PASS the same Spark output).
    */
  /** Raw (uncertified) production paths for this object's CERTIFIED
    * ANN queries — the routed/blocked operator work WITHOUT the
    * in-query certification (exact top-k witness, ground-truth pair
    * join, flags). [[graft.Bench]] times both and emits the
    * `cert_overhead` ledger (r12 VERDICT item 7).
    */
  def rawTwins: Map[String, (SparkSession, String) => DataFrame] = Map(
    "s04_sim_ivf" -> ((s, dir) => {
      val probes = embeddings(s, dir).filter(col("vec_id") < 10).select("vec_id")
      ivfTopK(ivfIndex(s, dir), probes, k = 5, nProbe = IvfNProbe)
        .orderBy("qid", "rnk")
    }),
    "s06_semantic_neardup" -> ((s, dir) =>
      semPairs(s, dir).orderBy("id_a", "id_b")),
    "s07_semantic_survivors" -> ((s, dir) =>
      survivors(s, dir, semCcLabels(s, dir)).orderBy("vec_id")),
    "s08_pq_ann" -> ((s, dir) => {
      val e = embeddings(s, dir)
      pqRerankTopK(pqIndex(s, dir), e, e.filter(col("vec_id") < 10),
          k = 5, shortlist = 50)
        .orderBy("qid", "rnk")
    }),
    "s09_ivf_pq_ann" -> ((s, dir) => {
      val probes = embeddings(s, dir).filter(col("vec_id") < 10)
      ivfPqTopK(ivfIndex(s, dir), pqIndex(s, dir), probes,
          k = 5, nProbe = IvfNProbe, shortlist = 50)
        .orderBy("qid", "rnk")
    }))

  def oracleExtensions: Map[String, Map[String, String]] = Map(
    "s07b_semantic_survivors" -> Map(
      "algo" -> "keep_min_component",
      "pairs_sql" -> s06bOracle,
      "corpus_sql" -> "SELECT vec_id, label FROM embeddings ORDER BY vec_id"),
    "s07c_semantic_survivors_sized" -> Map(
      "algo" -> "keep_min_component",
      "pairs_sql" -> s07cPairsOracle,
      "corpus_sql" -> "SELECT vec_id, label FROM embeddings ORDER BY vec_id"))

  def oracles: Map[String, String] = Map(
    // ANN certification oracles (r12): the ANN result sets are
    // engine-specific, so the registered queries emit structural +
    // recall flags over the deterministic probe set / corpus, and the
    // oracle asserts them as literal TRUEs (plus the ground-truth
    // references it CAN compute — the s06 all-pairs count is real
    // cross-engine content). See certifyAnnTopK / the s06/s07
    // registrations.
    "s04_sim_ivf" -> annCertOracle,
    "s08_pq_ann" -> annCertOracle,
    "s09_ivf_pq_ann" -> annCertOracle,

    "s06_semantic_neardup" ->
      s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
         p AS (SELECT list_dot_product(a.v, b.v) AS c
               FROM e a JOIN e b ON a.vec_id < b.vec_id)
         SELECT CAST(COUNT(*) AS BIGINT) AS n_truth_pairs,
           TRUE AS all_pairs_in_truth,
           TRUE AS cosines_exact,
           TRUE AS recall_ge_85pct
         FROM p WHERE c >= $NearDupThreshold""",

    "s07_semantic_survivors" ->
      """SELECT CAST(COUNT(*) AS BIGINT) AS n_vectors,
           TRUE AS no_pair_fully_kept,
           TRUE AS unpaired_all_kept,
           TRUE AS survivors_subset_of_corpus
         FROM embeddings""",

    "s01_sim_bruteforce_topk" ->
      """WITH q AS (SELECT vec_id AS qid, embedding::DOUBLE[] AS qv
                    FROM embeddings WHERE vec_id < 10),
         c AS (SELECT vec_id AS cid, embedding::DOUBLE[] AS cv FROM embeddings),
         d AS (SELECT qid, cid, list_dot_product(qv, cv) AS score
               FROM c, q WHERE qid != cid),
         r AS (SELECT qid, cid, score,
                 ROW_NUMBER() OVER (PARTITION BY qid ORDER BY score DESC, cid) AS rnk
               FROM d)
         SELECT qid, cid, rnk, score FROM r WHERE rnk <= 5 ORDER BY qid, rnk""",

    // Same c·c − 2·v·c argmin as [[kmeansStep]] (the constant v·v term
    // cancels in comparisons); list_dot_product ≡ vector_dot fold, so
    // assignments are identical and the means hash-match at 6 dp.
    "s11_kmeans_step" ->
      """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
         c AS (SELECT vec_id AS cid, v AS cv FROM e WHERE vec_id < 8),
         d AS (SELECT e.vec_id, c.cid,
                 list_dot_product(c.cv, c.cv)
                   - 2 * list_dot_product(e.v, c.cv) AS dist
               FROM e CROSS JOIN c),
         a AS (SELECT vec_id, cid FROM (
                 SELECT vec_id, cid, ROW_NUMBER() OVER (
                   PARTITION BY vec_id ORDER BY dist, cid) AS rk
                 FROM d) r
               WHERE rk = 1),
         x AS (SELECT a.cid AS cluster,
                 unnest(e.v) AS x, generate_subscripts(e.v, 1) AS dim
               FROM a JOIN e ON a.vec_id = e.vec_id)
         SELECT CAST(cluster AS BIGINT) AS cluster, CAST(dim AS INTEGER) AS dim,
           CAST(COUNT(*) AS BIGINT) AS n_members, ROUND(AVG(x), 6) AS cval
         FROM x GROUP BY cluster, dim ORDER BY cluster, dim""",

    // s11's assignment, then exactly the p09 draw: smallest
    // md5(vec_id) per cluster.
    "s12_cluster_sample" ->
      """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
         c AS (SELECT vec_id AS cid, v AS cv FROM e WHERE vec_id < 8),
         d AS (SELECT e.vec_id, c.cid,
                 list_dot_product(c.cv, c.cv)
                   - 2 * list_dot_product(e.v, c.cv) AS dist
               FROM e CROSS JOIN c),
         a AS (SELECT vec_id, cid FROM (
                 SELECT vec_id, cid, ROW_NUMBER() OVER (
                   PARTITION BY vec_id ORDER BY dist, cid) AS rk
                 FROM d) r
               WHERE rk = 1),
         s AS (SELECT vec_id, CAST(cid AS BIGINT) AS cluster,
                 ROW_NUMBER() OVER (PARTITION BY cid
                   ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) AS rk
               FROM a)
         SELECT vec_id, cluster, CAST(rk AS BIGINT) AS rk
         FROM s WHERE rk <= 10 ORDER BY cluster, rk""",

    "s05_label_centroid" ->
      """SELECT label, CAST(dim AS INTEGER) AS dim, ROUND(AVG(v), 6) AS cval
         FROM (SELECT label,
                 unnest(embedding::DOUBLE[]) AS v,
                 generate_subscripts(embedding, 1) AS dim
               FROM embeddings) x
         GROUP BY label, dim ORDER BY label, dim""",

    // Same centroid identity on the same integer grid: every sum is
    // exact (DuckDB widens to HUGEINT; Spark's longs never overflow at
    // gate scale), and the final ×/÷ pair mirrors the Spark tree.
    "s13_class_diversity" ->
      """WITH q AS (
           SELECT label, list_transform(embedding::DOUBLE[],
             x -> CAST(round(x * 10000.0) AS BIGINT)) AS q
           FROM embeddings),
         rs AS (
           SELECT label, COUNT(*) AS n,
             SUM(list_sum(list_transform(q, x -> x * x))) AS sum_self
           FROM q GROUP BY label),
         ds AS (
           SELECT label, dim, SUM(x) AS sk
           FROM (SELECT label, unnest(q) AS x,
                   generate_subscripts(q, 1) AS dim FROM q) u
           GROUP BY label, dim),
         ss AS (SELECT label, SUM(sk * sk) AS sum_sq FROM ds GROUP BY label)
         SELECT rs.label, CAST(n AS BIGINT) AS n,
           CAST(sum_sq - sum_self AS DOUBLE)
             / (CAST(n * (n - 1) AS DOUBLE) * 100000000.0) AS mean_pair_dot
         FROM rs JOIN ss USING (label)
         WHERE n > 1 ORDER BY rs.label""",

    // The s02/s03 oracles reproduce the LSH blocking exactly: the same
    // seeded plane longs expand to the same ±1 planes, so DuckDB derives
    // identical buckets → identical candidates → identical scores
    // (list_dot_product is bitwise-equal to vector_dot on DOUBLE[]).
    // Both blocked queries are therefore hash-checked, not merely
    // rows-only.
    "s02_sim_ann_lsh" -> {
      val vals = annPlaneBits.zipWithIndex
        .map { case (p, i) => s"($i, CAST($p AS BIGINT))" }.mkString(", ")
      s"""WITH planes(pid, bits) AS (VALUES $vals),
         e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
         pv AS (SELECT pid, list_transform(generate_series(0, 63),
                  d -> CASE WHEN ((bits >> d) & 1) = 1
                       THEN 1.0::DOUBLE ELSE -1.0::DOUBLE END) AS p
                FROM planes),
         sig AS (SELECT e.vec_id, pv.pid // $BitsPerTable AS tbl,
                        (pv.pid % $BitsPerTable) AS slot,
                        CASE WHEN list_dot_product(pv.p, e.v) > 0 THEN 1 ELSE 0 END AS bit
                 FROM e CROSS JOIN pv),
         buck AS (SELECT vec_id, tbl, SUM(bit * (1 << slot)) AS bucket
                  FROM sig GROUP BY vec_id, tbl),
         cand AS (SELECT DISTINCT q.vec_id AS qid, c.vec_id AS cid
                  FROM buck q JOIN buck c
                    ON c.tbl = q.tbl AND c.bucket = q.bucket AND c.vec_id != q.vec_id
                  WHERE q.vec_id < 10),
         scored AS (SELECT qid, cid, list_dot_product(eq.v, ec.v) AS score
                    FROM cand JOIN e eq ON eq.vec_id = qid JOIN e ec ON ec.vec_id = cid),
         r AS (SELECT qid, cid, score,
                 ROW_NUMBER() OVER (PARTITION BY qid ORDER BY score DESC, cid) AS rnk
               FROM scored)
         SELECT qid, cid, CAST(rnk AS INTEGER) AS rnk, score
         FROM r WHERE rnk <= 5 ORDER BY qid, rnk"""
    },

    // s02's bucket derivation with every vector as a probe (the self-
    // join), k=5 — over the SIZED index: bits/table derived from
    // COUNT(*) by the identical integer rule the Spark side uses
    // (floor 8 = the old pinned geometry; each table owns 12
    // consecutive plane ids, slots ≥ bits filtered before bucket
    // assembly — the s03 pattern).
    "s10_knn_join" -> sizedKnnOracleSql,
    // restored r15 twin — same sized pipeline, same oracle (see the
    // queries-map note)
    "s10c_knn_join_sized" -> sizedKnnOracleSql,

    // Deterministic ANN stage twins: every stage of the seed-quantizer
    // pipeline is argmin/argmax over shared dot-product folds, so the
    // oracle rebuilds it exactly. DuckDB list slices v[a:b] are
    // 1-based INCLUSIVE: v[j*8+1 : j*8+8] ≡ Spark slice(v, j*8+1, 8).
    "s04b_ivf_route" ->
      s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
         c AS (SELECT vec_id AS cell, v AS cv FROM e WHERE vec_id < $DetCells),
         a AS (SELECT vec_id, cell FROM (
                 SELECT e.vec_id, c.cell, ROW_NUMBER() OVER (
                   PARTITION BY e.vec_id
                   ORDER BY list_dot_product(c.cv, c.cv)
                     - 2 * list_dot_product(e.v, c.cv), c.cell) AS rk
                 FROM e CROSS JOIN c) z WHERE rk = 1),
         q AS (SELECT vec_id AS qid, v AS qv FROM e WHERE vec_id < 10),
         pc AS (SELECT qid, cell FROM (
                 SELECT q.qid, c.cell, ROW_NUMBER() OVER (
                   PARTITION BY q.qid
                   ORDER BY list_dot_product(q.qv, c.cv) DESC, c.cell) AS rk
                 FROM q CROSS JOIN c) z WHERE rk <= $IvfNProbe),
         scored AS (SELECT pc.qid, a.vec_id AS cid,
                      list_dot_product(q.qv, ec.v) AS score
                    FROM pc JOIN a ON a.cell = pc.cell
                         JOIN q ON q.qid = pc.qid
                         JOIN e ec ON ec.vec_id = a.vec_id
                    WHERE a.vec_id != pc.qid),
         r AS (SELECT qid, cid, score, ROW_NUMBER() OVER (
                 PARTITION BY qid ORDER BY score DESC, cid) AS rnk
               FROM scored)
         SELECT qid, cid, CAST(rnk AS INTEGER) AS rnk, score
         FROM r WHERE rnk <= 5 ORDER BY qid, rnk""",

    "s06b_semantic_neardup" -> s06bOracle,

    "s07b_semantic_survivors" ->
      s"""WITH RECURSIVE e AS (
           SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
         c AS (SELECT vec_id AS cell, v AS cv FROM e WHERE vec_id < $DetCells),
         m AS (SELECT vec_id, cell FROM (
                 SELECT e.vec_id, c.cell, ROW_NUMBER() OVER (
                   PARTITION BY e.vec_id
                   ORDER BY list_dot_product(e.v, c.cv) DESC, c.cell) AS rk
                 FROM e CROSS JOIN c) z WHERE rk <= 4),
         cand AS (SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
                  FROM m a JOIN m b
                    ON a.cell = b.cell AND a.vec_id < b.vec_id),
         g AS (SELECT cd.id_a, cd.id_b
               FROM cand cd JOIN e ea ON ea.vec_id = cd.id_a
                    JOIN e eb ON eb.vec_id = cd.id_b
               WHERE list_dot_product(ea.v, eb.v) >= $NearDupThreshold),
         bi AS (SELECT id_a AS a, id_b AS b FROM g
                UNION SELECT id_b, id_a FROM g),
         tc(a, b) AS (
           SELECT a, b FROM bi
           UNION
           SELECT tc.a, bi.b FROM tc JOIN bi ON tc.b = bi.a)
         SELECT emb.vec_id, emb.label
         FROM embeddings emb
         WHERE emb.vec_id NOT IN (
           SELECT a FROM tc GROUP BY a HAVING MIN(b) < a)
         ORDER BY vec_id""",

    // s07b's oracle with the sized blocking CTEs — same recursive-CTE
    // keep-min-of-component rule (the extension path replaces it at
    // big SFs, as for s07b).
    "s07c_semantic_survivors_sized" ->
      s"""WITH RECURSIVE $s07cBlockingCtes,
         bi AS (SELECT id_a AS a, id_b AS b FROM g
                UNION SELECT id_b, id_a FROM g),
         tc(a, b) AS (
           SELECT a, b FROM bi
           UNION
           SELECT tc.a, bi.b FROM tc JOIN bi ON tc.b = bi.a)
         SELECT emb.vec_id, emb.label
         FROM embeddings emb
         WHERE emb.vec_id NOT IN (
           SELECT a FROM tc GROUP BY a HAVING MIN(b) < a)
         ORDER BY vec_id""",

    "s08b_pq_encode" ->
      s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
         books AS (SELECT s.j AS sub, e.vec_id AS code,
                     e.v[s.j * 8 + 1 : s.j * 8 + 8] AS cv
                   FROM e, (SELECT unnest(generate_series(0, ${DetSubs - 1})) AS j) s
                   WHERE e.vec_id < 16)
         SELECT vec_id, CAST(sub AS INTEGER) AS sub,
           CAST(code AS INTEGER) AS code
         FROM (SELECT e.vec_id, b.sub, b.code, ROW_NUMBER() OVER (
                 PARTITION BY e.vec_id, b.sub
                 ORDER BY list_dot_product(b.cv, b.cv)
                   - 2 * list_dot_product(e.v[b.sub * 8 + 1 : b.sub * 8 + 8],
                                          b.cv), b.code) AS rk
               FROM e CROSS JOIN books b) z
         WHERE rk = 1 ORDER BY vec_id, sub""",

    "s09b_ivf_pq_rerank" ->
      s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
         c AS (SELECT vec_id AS cell, v AS cv FROM e WHERE vec_id < $DetCells),
         a AS (SELECT vec_id, cell FROM (
                 SELECT e.vec_id, c.cell, ROW_NUMBER() OVER (
                   PARTITION BY e.vec_id
                   ORDER BY list_dot_product(c.cv, c.cv)
                     - 2 * list_dot_product(e.v, c.cv), c.cell) AS rk
                 FROM e CROSS JOIN c) z WHERE rk = 1),
         books AS (SELECT s.j AS sub, e.vec_id AS code,
                     e.v[s.j * 8 + 1 : s.j * 8 + 8] AS cv
                   FROM e, (SELECT unnest(generate_series(0, ${DetSubs - 1})) AS j) s
                   WHERE e.vec_id < 16),
         enc AS (SELECT vec_id, sub, code FROM (
                 SELECT e.vec_id, b.sub, b.code, ROW_NUMBER() OVER (
                   PARTITION BY e.vec_id, b.sub
                   ORDER BY list_dot_product(b.cv, b.cv)
                     - 2 * list_dot_product(e.v[b.sub * 8 + 1 : b.sub * 8 + 8],
                                            b.cv), b.code) AS rk
                 FROM e CROSS JOIN books b) z WHERE rk = 1),
         q AS (SELECT vec_id AS qid, v AS qv FROM e WHERE vec_id < 10),
         pc AS (SELECT qid, cell FROM (
                 SELECT q.qid, c.cell, ROW_NUMBER() OVER (
                   PARTITION BY q.qid
                   ORDER BY list_dot_product(q.qv, c.cv) DESC, c.cell) AS rk
                 FROM q CROSS JOIN c) z WHERE rk <= $IvfNProbe),
         cand AS (SELECT pc.qid, a.vec_id AS cid
                  FROM pc JOIN a ON a.cell = pc.cell
                  WHERE a.vec_id != pc.qid),
         lut AS (SELECT q.qid, b.sub, b.code,
                   CAST(round(list_dot_product(
                     q.qv[b.sub * 8 + 1 : b.sub * 8 + 8], b.cv) * 1e9)
                     AS BIGINT) AS pd
                 FROM q CROSS JOIN books b),
         adc AS (SELECT cand.qid, cand.cid, SUM(l.pd) AS s
                 FROM cand JOIN enc ON enc.vec_id = cand.cid
                      JOIN lut l ON l.qid = cand.qid
                        AND l.sub = enc.sub AND l.code = enc.code
                 GROUP BY 1, 2),
         short AS (SELECT qid, cid FROM (
                 SELECT qid, cid, ROW_NUMBER() OVER (
                   PARTITION BY qid ORDER BY s DESC, cid) AS rk
                 FROM adc) z WHERE rk <= 50),
         r AS (SELECT sh.qid, sh.cid,
                 list_dot_product(eq.v, ec.v) AS score,
                 ROW_NUMBER() OVER (PARTITION BY sh.qid
                   ORDER BY list_dot_product(eq.v, ec.v) DESC, sh.cid) AS rnk
               FROM short sh JOIN e eq ON eq.vec_id = sh.qid
                    JOIN e ec ON ec.vec_id = sh.cid)
         SELECT qid, cid, CAST(rnk AS INTEGER) AS rnk, score
         FROM r WHERE rnk <= 5 ORDER BY qid, rnk""",

    // s03: the blocking reproduction over the SIZED artifact, with
    // bits/table derived from COUNT(*) by the IDENTICAL integer rule
    // the Spark side uses (smallest b in [4,12] with (1<<b)·16 ≥ n —
    // no log/ceil floating point, so no cross-engine ULP risk at rule
    // boundaries). Each table owns 12 consecutive plane ids; slots
    // ≥ b are filtered out before bucket assembly, mirroring the
    // Spark side's plane-list truncation.
    "s03_embed_neardup" -> sizedNearDupOracleSql,
    // restored r15 twin — same sized pipeline, same oracle (see the
    // queries-map note)
    "s03c_embed_neardup_sized" -> sizedNearDupOracleSql
  )

  /** Shared oracle SQL for the sized LSH pipelines (s10 == s10c,
    * s03 == s03c since the r16 re-registration): bits/table derived
    * from COUNT(*) by the identical integer rule the Spark side uses
    * (smallest b in the family's [floor, 12] with (1<<b)·16 ≥ n — no
    * log/ceil floating point, so no cross-engine ULP risk at rule
    * boundaries). Each table owns 12 consecutive plane ids; slots ≥ b
    * are filtered out before bucket assembly, mirroring the Spark
    * side's plane-list truncation.
    */
  private lazy val sizedKnnOracleSql: String = {
    val vals = sizedAnnPlaneBits.zipWithIndex
      .map { case (p, i) => s"($i, CAST($p AS BIGINT))" }.mkString(", ")
    s"""WITH planes(pid, pb) AS (VALUES $vals),
         nn AS (SELECT COUNT(*) AS n FROM embeddings),
         bb AS (SELECT COALESCE((SELECT MIN(b)
                   FROM generate_series($SizedMinBitsAnn, $SizedMaxBits) g(b), nn
                   WHERE (CAST(1 AS BIGINT) << b) * $SizedBucketTarget >= nn.n),
                 $SizedMaxBits) AS bits),
         e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
         pv AS (SELECT pid, list_transform(generate_series(0, 63),
                  d -> CASE WHEN ((pb >> d) & 1) = 1
                       THEN 1.0::DOUBLE ELSE -1.0::DOUBLE END) AS p
                FROM planes),
         sig AS (SELECT e.vec_id, pv.pid // $SizedMaxBits AS tbl,
                        (pv.pid % $SizedMaxBits) AS slot,
                        CASE WHEN list_dot_product(pv.p, e.v) > 0 THEN 1 ELSE 0 END AS bit
                 FROM e CROSS JOIN pv),
         buck AS (SELECT vec_id, tbl, SUM(bit * (1 << slot)) AS bucket
                  FROM sig, bb WHERE slot < bb.bits GROUP BY vec_id, tbl),
         cand AS (SELECT DISTINCT q.vec_id AS qid, c.vec_id AS cid
                  FROM buck q JOIN buck c
                    ON c.tbl = q.tbl AND c.bucket = q.bucket
                   AND c.vec_id != q.vec_id),
         scored AS (SELECT qid, cid, list_dot_product(eq.v, ec.v) AS score
                    FROM cand JOIN e eq ON eq.vec_id = qid
                              JOIN e ec ON ec.vec_id = cid),
         r AS (SELECT qid, cid, score,
                 ROW_NUMBER() OVER (PARTITION BY qid ORDER BY score DESC, cid) AS rnk
               FROM scored)
         SELECT qid, cid, CAST(rnk AS INTEGER) AS rnk, score
         FROM r WHERE rnk <= 5 ORDER BY qid, rnk"""
  }

  private lazy val sizedNearDupOracleSql: String = {
    val vals = sizedPlaneBits.zipWithIndex
      .map { case (p, i) => s"($i, CAST($p AS BIGINT))" }.mkString(", ")
    s"""WITH planes(pid, pb) AS (VALUES $vals),
         nn AS (SELECT COUNT(*) AS n FROM embeddings),
         bb AS (SELECT COALESCE((SELECT MIN(b)
                   FROM generate_series($SizedMinBits, $SizedMaxBits) g(b), nn
                   WHERE (CAST(1 AS BIGINT) << b) * $SizedBucketTarget >= nn.n),
                 $SizedMaxBits) AS bits),
         e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
         pv AS (SELECT pid, list_transform(generate_series(0, 63),
                  d -> CASE WHEN ((pb >> d) & 1) = 1
                       THEN 1.0::DOUBLE ELSE -1.0::DOUBLE END) AS p
                FROM planes),
         sig AS (SELECT e.vec_id, pv.pid // $SizedMaxBits AS tbl,
                        (pv.pid % $SizedMaxBits) AS slot,
                        CASE WHEN list_dot_product(pv.p, e.v) > 0 THEN 1 ELSE 0 END AS bit
                 FROM e CROSS JOIN pv),
         buck AS (SELECT vec_id, tbl, SUM(bit * (1 << slot)) AS bucket
                  FROM sig, bb WHERE slot < bb.bits GROUP BY vec_id, tbl),
         cand AS (SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
                  FROM buck a JOIN buck b
                    ON a.tbl = b.tbl AND a.bucket = b.bucket AND a.vec_id < b.vec_id)
         SELECT c.id_a, c.id_b, list_dot_product(ea.v, eb.v) AS cosine
         FROM cand c JOIN e ea ON ea.vec_id = c.id_a JOIN e eb ON eb.vec_id = c.id_b
         WHERE list_dot_product(ea.v, eb.v) >= $NearDupThreshold
         ORDER BY id_a, id_b"""
  }
}
