package graft.operators

import org.apache.spark.sql.functions._
import graft.{SparkEntry, SparkSuite}

/** Semantic checks for the non-oracle (hash-family) operators: the
  * driver can only row-count these, so the real invariants live here.
  */
class DedupSimilaritySpec extends SparkSuite {

  private val dir = sf("sf0.001")

  test("minhash candidates cover all high-Jaccard exact pairs (LSH recall, 16 bands x 4 rows)") {
    // P(miss | J>=0.8) = (1-0.8^4)^16 ~ 2e-4 — treat as deterministic.
    val exact = SparkEntry.queries("d03_dedup_ngram_jaccard")(spark, dir)
      .filter(col("jaccard") >= 0.8)
      .select("doc_a", "doc_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val mh = SparkEntry.queries("d04_dedup_minhash")(spark, dir)
      .select("doc_a", "doc_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(exact.subsetOf(mh), s"minhash missed exact pairs: ${exact -- mh}")
  }

  test("minhash estimate tracks exact Jaccard on shared pairs") {
    val exact = SparkEntry.queries("d03_dedup_ngram_jaccard")(spark, dir)
      .withColumnRenamed("jaccard", "exact_j")
    val mh = SparkEntry.queries("d04_dedup_minhash")(spark, dir)
    val joined = mh.join(exact, Seq("doc_a", "doc_b")).collect()
    joined.foreach { r =>
      val est = r.getAs[Double]("est_jaccard")
      val ex = r.getAs[Double]("exact_j")
      assert(math.abs(est - ex) < 0.35, s"est $est vs exact $ex drifted")
    }
  }

  test("simhash pairs are exactly the hamming<=3 pairs (band blocking is lossless)") {
    // Recompute signatures via the query's own first stage is internal;
    // instead verify the output invariant: hamming values in range and
    // symmetric dedup (a<b, no dupes).
    val rows = SparkEntry.queries("d05_dedup_simhash")(spark, dir).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getAs[Long]("doc_a") < r.getAs[Long]("doc_b"))
      assert(r.getAs[Long]("hamming") >= 0 && r.getAs[Long]("hamming") <= 3)
    }
    val pairs = rows.map(r => (r.getLong(0), r.getLong(1)))
    assert(pairs.distinct.length == pairs.length)
  }

  test("fingerprints are deterministic across runs and collide for identical text") {
    val a = SparkEntry.queries("t04_text_fingerprint")(spark, dir).collect()
    val b = SparkEntry.queries("t04_text_fingerprint")(spark, dir).collect()
    assert(a.toSeq == b.toSeq)
    // identical normalized text => identical fingerprint (same pipeline)
    val d = graft.Tables.documents(spark, dir)
    assert(d.count() == a.length + d.filter(size(split(trim(lower(col("text"))), "\\s+")) < 3).count())
  }

  test("ann lsh results are a subset of brute-force scores (same query set)") {
    val brute = SparkEntry.queries("s01_sim_bruteforce_topk")(spark, dir)
      .select("qid", "cid", "score").collect()
      .map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    val ann = SparkEntry.queries("s02_sim_ann_lsh")(spark, dir)
      .select("qid", "cid", "rnk", "score").collect()
    assert(ann.nonEmpty)
    // Any (qid,cid) both produce must agree exactly on the score, and
    // ANN's top-1 per query should appear in brute force's top-5 often
    // (recall sanity, not a hard guarantee on random vectors).
    ann.foreach { r =>
      val k = (r.getLong(0), r.getLong(1))
      brute.get(k).foreach(s => assert(s == r.getAs[Double]("score")))
    }
    val annTop1 = ann.filter(_.getAs[Int]("rnk") == 1)
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val bruteAll = brute.keySet
    val hits = annTop1.count(bruteAll.contains)
    assert(hits >= 1, "ANN found no overlap with brute-force top-5 at all")
  }

  test("s10 knnJoin: every vector ranked, exact scores, measured recall vs the brute-force graph") {
    import org.apache.spark.sql.functions.col
    val emb = graft.Tables.embeddings(spark, dir)
    val n = emb.count()
    val knn = Similarity.knnJoin(emb, k = 3).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getDouble(3)))
    // per-query contract: ranks contiguous from 1, at most k rows, no self-pairs
    val byQ = knn.groupBy(_._1)
    assert(byQ.size >= (n * 0.9).toInt,
      s"only ${byQ.size} of $n vectors got any neighbor — blocking too lossy")
    byQ.foreach { case (q, rows) =>
      assert(rows.length <= 3 && rows.map(_._3).sorted.toSeq == (1 to rows.length),
        s"qid $q has bad ranks ${rows.map(_._3).toSeq}")
      assert(!rows.exists(_._2 == q), s"qid $q returned itself")
    }
    // exactness: scores equal the brute-force dot for the same pairs
    val brute = Similarity.cosineTopK(emb, emb, k = 4).collect()
      .map(r => ((r.getLong(0), r.getLong(1)), (r.getInt(2), r.getDouble(3))))
      .filter { case ((q, c), _) => q != c }
    val bruteScores = brute.map { case (k2, (_, s)) => k2 -> s }.toMap
    knn.foreach { case (q, c, _, s) =>
      bruteScores.get((q, c)).foreach(bs => assert(bs == s, s"score drift for ($q,$c)"))
    }
    // On the fixture's near-isotropic vectors sign-LSH recall is weak
    // by nature (the true NN is barely closer than anyone else) — the
    // driver gate still hash-checks the graph exactly. The recall
    // GUARANTEE is measured below, on clustered data where a kNN graph
    // is actually used.
    val true1 = brute.filter(_._2._1 <= 2).groupBy(_._1._1)
      .map { case (q, rs) => q -> rs.minBy(_._2._1)._1._2 }
    val knnPairs = knn.map(t => (t._1, t._2)).toSet
    val fixtureRecall =
      true1.count { case (q, c) => knnPairs.contains((q, c)) }.toDouble / true1.size
    info(f"fixture (isotropic) NN recall@3 = $fixtureRecall%.2f")
    assert(fixtureRecall > 0.0, "knn graph missed every true NN even on the fixture")

    // clustered corpus: 20 centers x 10 members, noise << separation —
    // the regime embedding dedup/clustering actually runs in. The true
    // NN is same-cluster and close, so co-bucketing must catch it.
    val rnd = new scala.util.Random(13)
    val centers = Array.fill(20)(Array.fill(64)(rnd.nextGaussian()))
    val rows = for {
      cl <- 0 until 20; m <- 0 until 10
    } yield ((cl * 10 + m).toLong,
      centers(cl).map(x => x + rnd.nextGaussian() * 0.05).toSeq)
    import spark.implicits._
    val clustered = rows.toDF("vec_id", "embedding")
    val knn2 = Similarity.knnJoin(clustered, k = 3).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    // recall: top-3 neighbors should be same-cluster (the 9 cluster
    // siblings are the 9 nearest by construction)
    val sameCluster = knn2.count { case (q, c) => q / 10 == c / 10 }
    val clusterRecall = sameCluster.toDouble / knn2.length
    info(f"clustered corpus same-cluster precision@3 = $clusterRecall%.2f")
    assert(clusterRecall >= 0.9,
      f"kNN graph on clustered data broke: $clusterRecall%.2f same-cluster")
    // and nearly every vector found neighbors
    assert(knn2.map(_._1).distinct.length >= 190,
      "over 5% of clustered vectors got no neighbors")
  }

  test("ivf finds mostly the same neighbors as brute force (recall sanity)") {
    val brute = SparkEntry.queries("s01_sim_bruteforce_topk")(spark, dir)
      .select("qid", "cid").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val probes = graft.Tables.embeddings(spark, dir)
      .filter(col("vec_id") < 10).select("vec_id")
    val ivf = Similarity.ivfTopK(Similarity.ivfIndex(spark, dir), probes,
        k = 5, nProbe = Similarity.IvfNProbe)
      .select("qid", "cid", "rnk").collect()
    assert(ivf.nonEmpty)
    // every query produced results, none self-matches
    assert(ivf.map(_.getLong(0)).toSet.size == 10)
    assert(ivf.forall(r => r.getLong(0) != r.getLong(1)))
    // nprobe=4/16 cells should still recover a fair share of true top-5
    val hits = ivf.count(r => brute.contains((r.getLong(0), r.getLong(1))))
    assert(hits >= ivf.length / 4, s"IVF recall collapsed: $hits/${ivf.length}")
    // the REGISTERED (oracled) form certifies the same floor as flags
    val certified = SparkEntry.queries("s04_sim_ivf")(spark, dir).collect()
    assert(certified.length == 10)
    certified.foreach(r => assert(
      r.getBoolean(1) && r.getBoolean(2) && r.getBoolean(3),
      s"s04 certification flag false: $r"))
  }

  test("s08 PQ+rerank: exact scores, decent recall, deterministic codebooks") {
    val brute = SparkEntry.queries("s01_sim_bruteforce_topk")(spark, dir)
      .select("qid", "cid", "score").collect()
      .map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    val e0 = graft.Tables.embeddings(spark, dir)
    val pq = Similarity.pqRerankTopK(Similarity.pqIndex(spark, dir), e0,
        e0.filter(col("vec_id") < 10), k = 5, shortlist = 50)
      .select("qid", "cid", "score").collect()
      .map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2)))
    assert(pq.map(_._1._1).distinct.length == 10) // every probe answered
    // the REGISTERED (oracled) form certifies the floor as flags
    SparkEntry.queries("s08_pq_ann")(spark, dir).collect().foreach(r =>
      assert(r.getBoolean(1) && r.getBoolean(2) && r.getBoolean(3),
        s"s08 certification flag false: $r"))
    // rerank scores are EXACT: any pair brute force also ranked must
    // carry the identical dot product
    pq.foreach { case (k, s) =>
      brute.get(k).foreach(b => assert(b == s, s"rerank score drifted for $k")) }
    // recall floor: 8×16 codes + 50-candidate rerank measures 70%
    // (sf0.001) / 80% (sf0.01) of true top-5 on this corpus
    val hits = pq.count(p => brute.contains(p._1))
    assert(hits >= pq.length * 3 / 5, s"PQ recall collapsed: $hits/${pq.length}")
    // determinism: a fresh build at the same seed yields the same codes
    val e = graft.Tables.embeddings(spark, dir)
    val a = Similarity.buildPqIndex(e).codes.orderBy("vec_id")
      .collect().map(r => (r.getLong(0), r.getSeq[Int](1)))
    val b = Similarity.buildPqIndex(e).codes.orderBy("vec_id")
      .collect().map(r => (r.getLong(0), r.getSeq[Int](1)))
    assert(a.toSeq == b.toSeq, "PQ codebook training is not deterministic")
  }

  test("pqEncode reproduces the trained index's codes from its codebooks") {
    // the production fit-on-sample → encode-corpus split: encoding the
    // corpus against the TRAINED codebooks must land on the same codes
    // the KMeans transform assigned (same Euclidean argmin rule), so
    // the hash-checked s08b stage and the trained s08 path are the
    // same operator under different quantizers
    val e = graft.Tables.embeddings(spark, dir)
    val idx = Similarity.buildPqIndex(e)
    val trained = idx.codes.orderBy("vec_id")
      .collect().map(r => (r.getLong(0), r.getSeq[Int](1))).toSeq
    val encoded = Similarity.pqEncode(e, idx.codebooks, idx.subs, idx.dim)
      .orderBy("vec_id")
      .collect().map(r => (r.getLong(0), r.getSeq[Int](1))).toSeq
    assert(encoded == trained, "pqEncode diverged from the KMeans transform")
  }

  test("s09 composed IVF→PQ→rerank: exact scores, recall, and strictly less scan work than PQ-alone or IVF-alone") {
    val brute = SparkEntry.queries("s01_sim_bruteforce_topk")(spark, dir)
      .select("qid", "cid", "score").collect()
      .map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    val e9 = graft.Tables.embeddings(spark, dir)
    val out = Similarity.ivfPqTopK(Similarity.ivfIndex(spark, dir),
        Similarity.pqIndex(spark, dir), e9.filter(col("vec_id") < 10),
        k = 5, nProbe = Similarity.IvfNProbe, shortlist = 50)
      .select("qid", "cid", "score").collect()
      .map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2)))
    assert(out.map(_._1._1).distinct.length == 10) // every probe answered
    assert(out.forall(p => p._1._1 != p._1._2))    // no self-matches
    // the REGISTERED (oracled) form certifies the floor as flags
    SparkEntry.queries("s09_ivf_pq_ann")(spark, dir).collect().foreach(r =>
      assert(r.getBoolean(1) && r.getBoolean(2) && r.getBoolean(3),
        s"s09 certification flag false: $r"))
    // rerank scores are EXACT: any pair brute force also ranked must
    // carry the identical dot product
    out.foreach { case (k, s) =>
      brute.get(k).foreach(b => assert(b == s, s"rerank score drifted for $k")) }
    // composition recall ≈ IVF routing recall ∩ PQ shortlist recall;
    // floor matches s04's (the routing dominates at these parameters)
    val hits = out.count(p => brute.contains(p._1))
    info(s"s09 recall vs brute force: $hits/${out.length}")
    assert(hits >= out.length / 4, s"composed recall collapsed: $hits/${out.length}")
    // Scan-volume accounting — the reason the composition exists:
    //  * PQ alone ADC-scans the ENTIRE corpus per probe;
    //  * IVF alone exact-scores its routed candidates' RAW vectors;
    //  * the composition ADC-scans only the routed candidates and
    //    touches raw vectors only for the shortlist.
    val e = graft.Tables.embeddings(spark, dir)
    val n = e.count()
    val q = e.filter(col("vec_id") < 10)
      .select(col("vec_id").as("qid"), col("embedding").cast("array<double>").as("qv"))
    val routed = Similarity.ivfRoutedCandidates(
      Similarity.ivfIndex(spark, dir), q, nProbe = 4).count()
    val pqAlone = 10L * (n - 1) // what s08's ADC stage scores
    info(s"ADC candidates: routed=$routed vs pq-alone=$pqAlone (corpus n=$n)")
    assert(routed < pqAlone / 2,
      s"routing should cut ADC volume well below a full scan: $routed vs $pqAlone")
    // raw-vector fetches: s09 touches shortlist×probes raw rows (the
    // srk <= shortlist cap is structural), IVF-alone exact-scores every
    // routed candidate's raw vector — strictly more at these parameters
    assert(10L * 50 < routed,
      s"rerank should fetch fewer raw vectors than IVF-alone scores: 500 vs $routed")
  }

  test("d06 returns an empty cluster set (not a crash) when no near-dup pairs exist") {
    import spark.implicits._
    // corpus of fully distinct docs -> d03 pair graph is empty
    val tmp = java.nio.file.Files.createTempDirectory("uniqdocs").toString
    val words = Seq("alpha beta gamma delta epsilon zeta eta theta iota kappa",
      "red orange yellow green blue indigo violet black white gray",
      "one two three four five six seven eight nine ten")
    words.zipWithIndex
      .map { case (t, i) => (i.toLong, t, "en", s"src$i", t.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val clusters = SparkEntry.queries("d06_dedup_clusters")(spark, tmp)
    assert(clusters.count() == 0)
  }

  test("s03 blocked near-dup: exact subset of all-pairs ground truth, measured recall") {
    val d01 = sf("sf0.01") // enough vectors for a meaningful pair count (271)
    val exact = Similarity.embedNearDupExact(spark, d01).collect()
      .map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    assert(exact.nonEmpty)
    // Both the registered (scale-sized, r16) form and the gate-only
    // pinned fixture must be precision-1.0 subsets of the ground
    // truth with exact cosines; their recall differs by design — the
    // pinned 24×4-bit geometry is recall-leaning (262/271 = 96.7%
    // here) but a measured scale-killer (quadratic candidates), the
    // sized rule (b=5 at n=500) trades recall at the grazing 0.35
    // threshold for bounded bucket occupancy — 247/271 = 91.1%
    // measured (CandVolumeProbe) — the documented bits-vs-recall
    // trade.
    def check(name: String, df: org.apache.spark.sql.DataFrame,
        floor: Double): Int = {
      val blocked = df.collect()
        .map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2)))
      assert(blocked.nonEmpty, s"$name emitted no pairs")
      blocked.foreach { case (k, c) =>
        assert(exact.contains(k), s"$name false positive pair $k")
        assert(exact(k) == c, s"$name cosine for $k differs from exact")
      }
      assert(blocked.size >= math.ceil(exact.size * floor).toInt,
        s"$name recall collapsed: ${blocked.size}/${exact.size}")
      blocked.size
    }
    check("pinned", Similarity.pinnedNearDupPairs(spark, d01), 0.9)
    check("sized", SparkEntry.queries("s03_embed_neardup")(spark, d01), 0.85)
  }

  test("s06 cluster-blocked near-dup: exact subset of ground truth with >=85% recall") {
    val d01 = sf("sf0.01")
    val exact = Similarity.embedNearDupExact(spark, d01).collect()
      .map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    val blocked = Similarity.semPairs(spark, d01).collect()
      .map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2)))
    assert(blocked.nonEmpty && exact.nonEmpty)
    // the REGISTERED (oracled) form certifies the same properties as
    // flags alongside the cross-engine ground-truth pair count
    val cert = SparkEntry.queries("s06_semantic_neardup")(spark, d01).collect()
    assert(cert.length == 1 && cert.head.getLong(0) == exact.size &&
      cert.head.getBoolean(1) && cert.head.getBoolean(2) && cert.head.getBoolean(3),
      s"s06 certification row wrong: ${cert.toSeq}")
    // precision 1.0 by construction: survivors carry their exact cosine
    blocked.foreach { case (k, c) =>
      assert(exact.contains(k), s"false positive pair $k")
      assert(exact(k) == c, s"cosine for $k differs from exact computation")
    }
    // recall floor: 4-way IVF multi-assignment measures 95.9% on this
    // corpus (vs 63% single-assignment — boundary pairs need the probes)
    assert(blocked.size >= math.ceil(exact.size * 0.85).toInt,
      s"recall collapsed: ${blocked.size}/${exact.size}")
  }

  test("d08 survivors keep exactly the cluster minima plus all unpaired docs") {
    val all = graft.Tables.documents(spark, dir).select("doc_id")
      .collect().map(_.getLong(0)).toSet
    val clusters = SparkEntry.queries("d06_dedup_clusters")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val survivors = SparkEntry.queries("d08_dedup_survivors")(spark, dir)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(clusters.nonEmpty, "test is vacuous: no duplicate clusters at this SF")
    // dropped = cluster members that aren't their cluster's minimum
    val dropped = clusters.collect { case (id, label) if label < id => id }.toSet
    assert(survivors == all -- dropped)
    // exactly one survivor per cluster, and it's the label (min id)
    clusters.groupBy(_._2).foreach { case (label, members) =>
      val kept = members.map(_._1).filter(survivors.contains)
      assert(kept.toSeq == Seq(label), s"cluster $label kept $kept")
    }
  }

  test("s07 semantic survivors: one representative per near-dup cluster, all unpaired kept") {
    val d01 = sf("sf0.01")
    val all = graft.Tables.embeddings(spark, d01).select("vec_id")
      .collect().map(_.getLong(0)).toSet
    val pairs = Similarity.semPairs(spark, d01)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1)))
    val surv = Dedup.keepRepresentatives(
        graft.Tables.embeddings(spark, d01).select("vec_id", "label"),
        Similarity.semPairs(spark, d01).select("id_a", "id_b"), idCol = "vec_id")
      .select("vec_id").collect().map(_.getLong(0)).toSet
    // the REGISTERED (oracled) form certifies the structure as flags
    val cert = SparkEntry.queries("s07_semantic_survivors")(spark, d01).collect()
    assert(cert.length == 1 && cert.head.getLong(0) == all.size &&
      cert.head.getBoolean(1) && cert.head.getBoolean(2) && cert.head.getBoolean(3),
      s"s07 certification row wrong: ${cert.toSeq}")
    assert(pairs.nonEmpty, "test is vacuous: no semantic near-dup pairs")
    // no near-dup pair survives whole: at most one endpoint remains
    pairs.foreach { case (a, b) =>
      assert(!(surv.contains(a) && surv.contains(b)), s"both of near-dup pair ($a,$b) kept")
    }
    // every vector not in any pair is untouched
    val paired = pairs.flatMap(p => Seq(p._1, p._2)).toSet
    assert((all -- paired).subsetOf(surv), "an unpaired vector was dropped")
    // representative count: survivors among paired = number of clusters,
    // and each is its cluster's minimum — verify via union-find here
    val parent = scala.collection.mutable.Map.empty[Long, Long]
    def find(x: Long): Long = { val p = parent.getOrElse(x, x); if (p == x) x else { val r = find(p); parent(x) = r; r } }
    pairs.foreach { case (a, b) => val (ra, rb) = (find(a), find(b)); if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb) }
    val minOfCluster = paired.groupBy(find).map { case (_, m) => m.min }.toSet
    assert((surv & paired) == minOfCluster, "survivors among paired are not the cluster minima")
  }

  test("s07c sized cells: rule tracks sqrt(n), survivors are the sized-pair cluster minima") {
    // the integer rule the oracle re-derives from COUNT(*)
    assert(Similarity.sizedCellsOf(1) == 16)       // floor
    assert(Similarity.sizedCellsOf(256) == 16)
    assert(Similarity.sizedCellsOf(257) == 32)
    assert(Similarity.sizedCellsOf(500) == 32)     // sf0.001/sf0.01
    assert(Similarity.sizedCellsOf(2000) == 64)    // sf0.1
    assert(Similarity.sizedCellsOf(20000) == 256)  // sf1
    assert(Similarity.sizedCellsOf(100000) == 512) // sf5
    assert(Similarity.sizedCellsOf(100L * 1000 * 1000) == 4096) // clamp
    val d01 = sf("sf0.01")
    val all = graft.Tables.embeddings(spark, d01).select("vec_id")
      .collect().map(_.getLong(0)).toSet
    val pairs = Similarity.sizedDetPairs(spark, d01)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(pairs.nonEmpty, "test is vacuous: no sized near-dup pairs")
    // precision 1.0 by construction: every sized blocked pair is a true
    // threshold pair with its exact cosine
    val exact = Similarity.embedNearDupExact(spark, d01).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.toSet.subsetOf(exact), s"false positives: ${pairs.toSet -- exact}")
    val surv = SparkEntry.queries("s07c_semantic_survivors_sized")(spark, d01)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    pairs.foreach { case (a, b) =>
      assert(!(surv.contains(a) && surv.contains(b)), s"both of pair ($a,$b) kept")
    }
    val paired = pairs.flatMap(p => Seq(p._1, p._2)).toSet
    assert((all -- paired).subsetOf(surv), "an unpaired vector was dropped")
    val parent = scala.collection.mutable.Map.empty[Long, Long]
    def find(x: Long): Long = { val p = parent.getOrElse(x, x); if (p == x) x else { val r = find(p); parent(x) = r; r } }
    pairs.foreach { case (a, b) => val (ra, rb) = (find(a), find(b)); if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb) }
    val minOfCluster = paired.groupBy(find).map { case (_, m) => m.min }.toSet
    assert((surv & paired) == minOfCluster, "survivors among paired are not the cluster minima")
  }

  test("buildIvfIndex: recall holds across cell counts and candidate volume scales ~n^2/cells") {
    val d01 = sf("sf0.01")
    val e = graft.Tables.embeddings(spark, d01)
    val n = e.count()
    val exact = Similarity.embedNearDupExact(spark, d01).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    // Two cell counts, both different from the registered 16, at the
    // same seed: the public API's `cells` parameter must actually steer
    // the index (r4 critique: fixed cells → quadratic cells).
    val idx8 = Similarity.buildIvfIndex(e, cells = 8)
    val idx32 = Similarity.buildIvfIndex(e, cells = 32)
    assert(idx8.centroids.count() == 8 && idx32.centroids.count() == 32)
    // Within-cell self-join candidate volume Σ c_i² (single-assignment):
    // balanced cells give exactly n²/cells, so quadrupling cells must
    // cut the volume — allow KMeans imbalance, but require a real drop
    // and that each stays within a small factor of the balanced ideal.
    def candVol(idx: Similarity.IvfIndex): Long =
      idx.assigned.groupBy("cell").count().collect()
        .map(r => r.getLong(1) * r.getLong(1)).sum
    val (v8, v32) = (candVol(idx8), candVol(idx32))
    info(s"n=$n candVol cells=8: $v8 (ideal ${n * n / 8}), cells=32: $v32 (ideal ${n * n / 32})")
    assert(v32 * 2 <= v8, s"quadrupling cells did not halve candidate volume: $v8 -> $v32")
    assert(v8 <= 4 * n * n / 8, s"cells=8 volume $v8 exceeds 4x balanced ideal")
    assert(v32 <= 4 * n * n / 32, s"cells=32 volume $v32 exceeds 4x balanced ideal")
    // Recall holds at both geometries: nAssign=4 multi-assignment keeps
    // boundary pairs even as cells shrink.
    def recall(idx: Similarity.IvfIndex): Double = {
      val got = Similarity.semanticNearDup(idx, Similarity.NearDupThreshold, nAssign = 4)
        .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(got.subsetOf(exact), s"false positives: ${got -- exact}")
      got.size.toDouble / exact.size
    }
    val (r8, r32) = (recall(idx8), recall(idx32))
    info(s"recall cells=8: $r8, cells=32: $r32")
    assert(r8 >= 0.85, s"recall collapsed at cells=8: $r8")
    assert(r32 >= 0.80, s"recall collapsed at cells=32: $r32")
  }

  test("shingle DF cap bounds blocking candidates without changing Jaccard exactness") {
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    // 40 docs all ending in the same boilerplate sentence; docs 0 and 1
    // are full duplicates of each other (rare shingles shared), the rest
    // share ONLY the boilerplate.
    val boiler = "please subscribe to our newsletter for updates today"
    val docs = (0 until 40).map { i =>
      val unique = if (i < 2) "identical rare payload sentence shared by the twins exactly"
      else s"totally unique body number nr$i with words w$i x$i y$i z$i"
      (i.toLong, s"$unique $boiler")
    }.toDF("doc_id", "text")
    val ex = Dedup.shingleHashesOf(docs)
    val exDf = ex.withColumn("df", count(lit(1)).over(Window.partitionBy("h")))
    // uncapped: every pair shares the boilerplate => full quadratic fan-out
    assert(Dedup.blockingCandidates(exDf, Int.MaxValue).count() == 40L * 39 / 2)
    // capped: boilerplate shingles (df=40) excluded from blocking =>
    // only the twin pair (which shares rare shingles) remains a candidate
    val capped = Dedup.blockingCandidates(exDf, 10)
      .select("doc_a", "doc_b").collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(capped.toSeq == Seq((0L, 1L)), s"candidates not capped: ${capped.toSeq}")
    // exactness: the surviving pair's Jaccard still counts the common
    // shingles (identical docs => J = 1.0, not rare-only)
    val j = Dedup.jaccardPairsOf(ex, 10).collect()
    assert(j.length == 1)
    assert(j.head.getAs[Long]("doc_a") == 0L && j.head.getAs[Long]("doc_b") == 1L)
    assert(j.head.getAs[Double]("jaccard") == 1.0,
      s"capped Jaccard lost common-shingle counts: ${j.head}")
  }

  test("vector_dot matches an independent fold") {
    import spark.implicits._
    graft.functions.GraftExtensions.register(spark)
    val df = Seq((Array(1.0, 2.0, 3.0), Array(4.0, 5.0, 6.0))).toDF("a", "b")
    val got = df.select(expr("vector_dot(a, b)")).as[Double].head()
    assert(got == 1.0 * 4 + 2 * 5 + 3 * 6)
    // null propagation
    val n = df.select(expr("vector_dot(a, cast(null as array<double>))"))
      .collect().head
    assert(n.isNullAt(0))
  }

  test("prefix_distinct: semantics, HOF equivalence, and exactly-once pair dedup") {
    import spark.implicits._
    graft.functions.GraftExtensions.register(spark)
    // direct semantics: n=0 vacuous, agree-inside-prefix false,
    // agree-only-at-or-after-prefix true
    val df = Seq((Array(1, 2, 3, 4), Array(9, 2, 3, 9))).toDF("a", "b")
    def pd(n: Int): Boolean =
      df.select(expr(s"prefix_distinct(a, b, $n)")).as[Boolean].head()
    assert(pd(0), "n=0 must be vacuously true")
    assert(pd(1), "prefix [1] vs [9] disagrees")
    assert(!pd(2), "index 1 agrees (2=2) inside the prefix")
    assert(!pd(4))
    // n beyond the arrays must fail loudly, never read off the end of
    // UnsafeArrayData (the function is exposed cluster-wide)
    val oob = intercept[Exception](pd(5))
    assert(oob.getMessage != null &&
      oob.getMessage.contains("prefix_distinct"), s"got: ${oob.getMessage}")
    // equivalence with the HOF spelling on seeded pseudo-random codes
    val rnd = new scala.util.Random(13)
    val rows = Seq.fill(300)((
      Array.fill(8)(rnd.nextInt(4)), Array.fill(8)(rnd.nextInt(4)),
      rnd.nextInt(9)))
    val rdf = rows.toDF("a", "b", "n")
    val diff = rdf.select(
        expr("prefix_distinct(a, b, n)").as("native"),
        expr("n = 0 OR !exists(sequence(0, n - 1), i -> a[i] = b[i])").as("hof"))
      .filter(col("native") =!= col("hof")).count()
    assert(diff == 0, s"native and HOF prefix checks disagree on $diff rows")
    // exactly-once: over a per-(tbl,bucket) self-join, the first-collision
    // filter keeps each colliding pair in exactly ONE table row — the
    // same relation as dropDuplicates over ALL colliding occurrences
    val codes = Seq(
      (1L, Array(0, 1, 2)), (2L, Array(0, 1, 9)),   // 1-2 collide at tbl 0 AND 1
      (3L, Array(7, 1, 2)), (4L, Array(8, 5, 2)))   // 1-3 at 1,2; 2-3 at 1; 1-4, 3-4 at 2
    val bk = codes.toDF("vec_id", "codes")
      .withColumn("tbl", explode(expr("sequence(0, 2)")))
      .withColumn("bucket", expr("codes[tbl]"))
    val joined = bk.select(col("vec_id").as("id_a"), col("tbl"), col("bucket"),
        col("codes").as("ca"))
      .join(bk.select(col("vec_id").as("id_b"), col("tbl"), col("bucket"),
        col("codes").as("cb")), Seq("tbl", "bucket"))
      .filter(col("id_a") < col("id_b"))
    val once = joined.filter(expr("prefix_distinct(ca, cb, tbl)"))
      .select("id_a", "id_b", "tbl").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).sorted
    assert(once.toSeq == Seq((1L, 2L, 0), (1L, 3L, 1), (1L, 4L, 2),
        (2L, 3L, 1), (3L, 4L, 2)),
      s"first-collision should keep each pair once, at its first table: ${once.toSeq}")
    val distinctPairs = joined.select("id_a", "id_b")
      .dropDuplicates("id_a", "id_b").count()
    assert(once.length == distinctPairs)
  }

  test("grouped_prefix_distinct: semantics, HOF equivalence, and d04 path parity") {
    import spark.implicits._
    graft.functions.GraftExtensions.register(spark)
    // groups of 2: group 0 = (1,2)/(1,9) differs at index 1;
    // group 1 = (3,4)/(3,4) fully equal
    val df = Seq((Array(1L, 2L, 3L, 4L), Array(1L, 9L, 3L, 4L))).toDF("a", "b")
    def gpd(g: Int, n: Int): Boolean =
      df.select(expr(s"grouped_prefix_distinct(a, b, $g, $n)")).as[Boolean].head()
    assert(gpd(2, 0), "n=0 must be vacuously true")
    assert(gpd(2, 1), "group 0 differs at its second element")
    assert(!gpd(2, 2), "group 1 is fully equal")
    assert(!gpd(1, 1), "with g=1, group 0 is the equal scalar 1=1")
    assert(gpd(4, 1), "one whole-array group differs at index 1")
    // out-of-range and non-positive group size fail loudly (the
    // function is exposed cluster-wide; getLong is unchecked)
    val oob = intercept[Exception](gpd(2, 3))
    assert(oob.getMessage != null &&
      oob.getMessage.contains("grouped_prefix_distinct"), s"got: ${oob.getMessage}")
    val badG = intercept[Exception](gpd(0, 1))
    assert(badG.getMessage != null &&
      badG.getMessage.contains("positive"), s"got: ${badG.getMessage}")
    // equivalence with the HOF spelling on seeded pseudo-random sigs
    // (small value range forces plenty of equal groups)
    val rnd = new scala.util.Random(29)
    val rows = Seq.fill(300)((
      Array.fill(12)(rnd.nextInt(3).toLong), Array.fill(12)(rnd.nextInt(3).toLong),
      rnd.nextInt(5)))
    val rdf = rows.toDF("a", "b", "n")
    val diff = rdf.select(
        expr("grouped_prefix_distinct(a, b, 3, n)").as("native"),
        expr("""n = 0 OR !exists(sequence(0, n - 1),
                 j -> forall(sequence(j * 3, j * 3 + 2), k -> a[k] = b[k]))""").as("hof"))
      .filter(col("native") =!= col("hof")).count()
    assert(diff == 0, s"native and HOF grouped prefix checks disagree on $diff rows")
    // d04 path parity: the first-collision (broadcast) plan and the
    // dropDuplicates (above-bound shuffle) plan yield the identical
    // pair relation — est_jaccard included
    // (the registered d04 body, under the given signature broadcast bound)
    def d04Rows(maxBytes: Long): Set[(Long, Long, Double)] =
      Dedup.minhashPairsFromSig(Dedup.minhashSignatures(spark, dir, "md5"),
          sigBroadcastMaxBytes = maxBytes)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val viaFirstCollision = d04Rows(256L << 20)
    val viaDistinct = d04Rows(0L)
    assert(viaFirstCollision == viaDistinct,
      s"d04 dedup paths diverge: only-bcast=${viaFirstCollision -- viaDistinct} " +
        s"only-shuffle=${viaDistinct -- viaFirstCollision}")
    assert(viaFirstCollision.nonEmpty)
  }
}
