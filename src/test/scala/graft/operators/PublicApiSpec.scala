package graft.operators

import org.apache.spark.sql.functions._

import graft.SparkSuite

/** The library's df-in/df-out surface must work on ANY schema, not just
  * the test tables — these drive the public operators on DataFrames
  * with foreign column names and verify semantics end-to-end.
  */
class PublicApiSpec extends SparkSuite {

  test("exactDedup keeps the min-id row per duplicate key, full rows intact") {
    import spark.implicits._
    val df = Seq(
      (10L, "alpha", "x"), (7L, "alpha", "y"), (3L, "beta", "z"), (9L, "beta", "w"),
      (5L, "gamma", "v")
    ).toDF("rid", "content", "extra")
    val out = Dedup.exactDedup(df, "rid", Seq("content"))
      .orderBy("rid").collect().map(r => (r.getLong(0), r.getString(1), r.getString(2)))
    assert(out.toSeq == Seq((3L, "beta", "z"), (5L, "gamma", "v"), (7L, "alpha", "y")))
  }

  test("nearDupPairs + nearDupClusters work on a corpus with foreign column names") {
    import spark.implicits._
    val base = "the quick brown fox jumps over the lazy dog again and again today"
    val docs = Seq(
      (101L, base),
      (102L, base + " extra"),                              // near-dup of 101
      (103L, "completely different words in this sentence about streams and shards"),
      (104L, base + " extra")                               // exact dup of 102
    ).toDF("item_id", "body")
    val pairs = Dedup.nearDupPairs(docs, "item_id", "body", threshold = 0.5)
      .orderBy("doc_a", "doc_b").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(pairs.toSeq == Seq((101L, 102L), (101L, 104L), (102L, 104L)), s"got ${pairs.toSeq}")
    val clusters = Dedup.nearDupClusters(docs, "item_id", "body", threshold = 0.5)
      .orderBy("doc_id").collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(clusters.toSeq == Seq((101L, 101L), (102L, 101L), (104L, 101L)))
  }

  test("minhashPairs and simhashPairs find near-dups on foreign columns, in both hash families") {
    import spark.implicits._
    val base = "the quick brown fox jumps over the lazy dog again and again today"
    val docs = Seq(
      (101L, base),
      (102L, base + " extra"),                              // near-dup of 101
      (103L, "completely different words in this sentence about streams and shards")
    ).toDF("item_id", "body")
    for (fam <- Seq("xxhash64", "md5")) {
      val mh = Dedup.minhashPairs(docs, "item_id", "body", hashFamily = fam)
        .collect().map(r => (r.getLong(0), r.getLong(1)))
      assert(mh.toSeq == Seq((101L, 102L)), s"minhash[$fam] got ${mh.toSeq}")
      // SimHash bit flips under a one-token edit depend on vote margins
      // (hash-family luck), so assert on an exact duplicate: identical
      // text must give identical signatures → hamming 0 in any family.
      val dupDocs = Seq((101L, base), (102L, base), (103L, "unrelated words "
        + "about streams and shards and checkpoints")).toDF("item_id", "body")
      val sh = Dedup.simhashPairs(dupDocs, "item_id", "body", hashFamily = fam)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      assert(sh.toSeq == Seq((101L, 102L, 0L)), s"simhash[$fam] got ${sh.toSeq}")
    }
  }

  test("surprisalScore ranks common-token docs below rare-token docs, with foreign columns") {
    import spark.implicits._
    // "common common common" vs one doc holding the only rare tokens
    val docs = Seq(
      (1L, "common common common common"),
      (2L, "common common common common"),
      (3L, "common common common common"),
      (4L, "rare unique singleton words")
    ).toDF("item", "body")
    val out = TextOps.surprisalScore(docs, idCol = "item", textCol = "body")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(3))).sortBy(_._1)
    assert(out.forall(_._2 == 4L), s"token counts wrong: ${out.toSeq}")
    val byId = out.map(r => r._1 -> r._3).toMap
    // p(common)=12/16 → low surprisal; each rare token 1/16 → high
    assert(byId(1L) == byId(2L) && byId(2L) == byId(3L))
    assert(byId(4L) > byId(1L) * 5,
      s"rare doc should score far above boilerplate: ${byId(4L)} vs ${byId(1L)}")
    // exact value: -ln(12/16) snapped to micro-nats, averaged
    val expect1 = math.round(-math.log(12.0 / 16.0) * 1e6).toDouble / 1e6
    assert(math.abs(byId(1L) - expect1) < 1e-9)
  }

  test("connectedComponents labels components by min member over any 2-column edges") {
    import spark.implicits._
    val edges = Seq((5L, 9L), (9L, 12L), (20L, 21L)).toDF("left_node", "right_node")
    val cc = Dedup.connectedComponents(edges)
      .orderBy("id").collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(cc.toSeq == Seq((5L, 5L), (9L, 5L), (12L, 5L), (20L, 20L), (21L, 20L)))
  }

  test("connectedComponents agrees with union-find on random graphs (seeded property)") {
    import spark.implicits._
    val rnd = new scala.util.Random(2026)
    for (trial <- 1 to 5) {
      val nNodes = 20 + rnd.nextInt(40)
      val nEdges = rnd.nextInt(60)
      val edges = Seq.fill(nEdges)((rnd.nextInt(nNodes).toLong, rnd.nextInt(nNodes).toLong))
        .filter { case (a, b) => a != b }
      if (edges.nonEmpty) {
        // reference: plain union-find with min-label extraction
        val parent = scala.collection.mutable.Map[Long, Long]()
        def find(x: Long): Long = {
          val p = parent.getOrElseUpdate(x, x)
          if (p == x) x else { val r = find(p); parent(x) = r; r }
        }
        edges.foreach { case (a, b) =>
          val (ra, rb) = (find(a), find(b)); if (ra != rb) parent(ra) = rb
        }
        val nodes = edges.flatMap(e => Seq(e._1, e._2)).distinct
        val expected = nodes.map { n =>
          val root = find(n)
          n -> nodes.filter(m => find(m) == root).min
        }.toMap
        // both execution paths must agree with the reference: the
        // driver union-find (default, small graphs) and the distributed
        // pointer-jumping loop (forced via driverMaxEdges = 0)
        val gotDriver = Dedup.connectedComponents(edges.toDF("x", "y"))
          .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
        assert(gotDriver == expected, s"trial $trial (${edges.length} edges) driver path diverged")
        val gotLoop = Dedup.connectedComponents(edges.toDF("x", "y"),
            driverMaxEdges = 0L)
          .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
        assert(gotLoop == expected, s"trial $trial (${edges.length} edges) loop path diverged")
      }
    }
  }

  test("concurrent connectedComponents calls are isolated (no session conf leak)") {
    import spark.implicits._
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    val before = spark.conf.get("spark.sql.shuffle.partitions")
    // two long-ish chains run concurrently; each loop runs in its own
    // child session, so neither serializes on the other nor mutates the
    // caller session's shuffle parallelism.
    val chainA = (0L until 40L).map(i => (i, i + 1)).toDF("a", "b")
    val chainB = (100L until 140L).map(i => (i, i + 1)).toDF("a", "b")
    val (fa, fb) = ( // driverMaxEdges = 0: the conf-isolation claim is about the LOOP
      Future(Dedup.connectedComponents(chainA, driverMaxEdges = 0L).collect()),
      Future(Dedup.connectedComponents(chainB, driverMaxEdges = 0L).collect()))
    val (ra, rb) = (Await.result(fa, 5.minutes), Await.result(fb, 5.minutes))
    assert(ra.forall(_.getLong(1) == 0L) && ra.length == 41)
    assert(rb.forall(_.getLong(1) == 100L) && rb.length == 41)
    assert(spark.conf.get("spark.sql.shuffle.partitions") == before)
  }

  test("connectedComponents runs with a reliable checkpoint dir") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-cc-ckpt").toString
    val edges = Seq((1L, 2L), (2L, 3L), (7L, 8L)).toDF("a", "b")
    // driverMaxEdges = 0: reliable checkpointing only exists on the loop path
    val cc = Dedup.connectedComponents(edges, checkpointDir = Some(dir),
        driverMaxEdges = 0L)
      .orderBy("id").collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(cc.toSeq == Seq((1L, 1L), (2L, 1L), (3L, 1L), (7L, 7L), (8L, 7L)))
    // the loop actually wrote reliable checkpoint files there
    val wrote = java.nio.file.Files.walk(java.nio.file.Paths.get(dir))
      .filter(java.nio.file.Files.isRegularFile(_)).count()
    assert(wrote > 0, "no checkpoint files written")
  }

  test("releaseArtifacts frees the dedup caches and the next query rebuilds them") {
    // a private copy of the fixture: the lineage check below must see
    // only what this test built
    val dir = java.nio.file.Files.createTempDirectory("graft-release").toString
    java.nio.file.Files.list(java.nio.file.Paths.get(sf("sf0.001"))).forEach { f =>
      java.nio.file.Files.copy(f, java.nio.file.Paths.get(dir, f.getFileName.toString))
    }
    def persistentRdds = spark.sparkContext.getPersistentRDDs.size
    // persisted RDDs whose lineage scans a file under `dir`
    def reads(r: org.apache.spark.rdd.RDD[_]): Boolean = r.partitions.exists {
      case p: org.apache.spark.sql.execution.datasources.FilePartition =>
        p.files.exists(_.filePath.toString.contains(dir))
      case _ => false
    } || r.dependencies.exists(d => reads(d.rdd))
    def persistedReadingDir = spark.sparkContext.getPersistentRDDs.values.count(reads(_))
    val q = graft.SparkEntry.queries("d03_dedup_ngram_jaccard")
    val first = q(spark, dir).collect()
    Dedup.prepareShingles(spark, dir) // ensure both artifacts exist
    val withCaches = persistentRdds
    ArtifactStore.release(spark, dir)
    assert(persistentRdds < withCaches, "release did not free cached artifacts")
    // rebuild path: same results after release
    val second = q(spark, dir).collect()
    assert(second.toSeq == first.toSeq)
    Similarity.prepareIndex(spark, dir)
    Relational.prepareStats(spark, dir)
    val withIvf = persistentRdds
    assert(persistedReadingDir > 0, "the lineage check sees no artifact")
    ArtifactStore.release(spark, dir)
    assert(persistentRdds < withIvf, "releaseIndex did not free the IVF assignment table")
    assert(persistedReadingDir == 0, "one release left persisted RDDs reading the dataset")
  }

  test("asofJoin matches each left row to the nearest right row, both directions") {
    import spark.implicits._
    val trades = Seq(
      (1L, "A", 10L), (2L, "A", 25L), (3L, "B", 7L), (4L, "C", 5L)
    ).toDF("trade_id", "sym", "t")
    val quotes = Seq(
      ("A", 10L, 1.0), ("A", 20L, 2.0), ("A", 30L, 3.0), ("B", 9L, 9.0)
    ).toDF("sym", "qt", "px")
    val back = Joins.asofJoin(trades, quotes, Seq("sym"), "t", "qt")
      .select(col("trade_id"), col("asof.px")).orderBy("trade_id").collect()
      .map(r => r.getLong(0) -> (if (r.isNullAt(1)) None else Some(r.getDouble(1))))
    // trade 1 at t=10: quote at 10 is INCLUSIVE; trade 2 at 25 -> quote 20;
    // trade 3 at 7: no quote <= 7 for B; trade 4: no C quotes at all
    assert(back.toSeq == Seq(1L -> Some(1.0), 2L -> Some(2.0), 3L -> None, 4L -> None))
    val fwd = Joins.asofJoin(trades, quotes, Seq("sym"), "t", "qt",
        direction = "forward")
      .select(col("trade_id"), col("asof.px")).orderBy("trade_id").collect()
      .map(r => r.getLong(0) -> (if (r.isNullAt(1)) None else Some(r.getDouble(1))))
    // forward: trade 1 -> quote 10 (inclusive), trade 2 -> quote 30,
    // trade 3 -> quote 9, trade 4 -> none
    assert(fwd.toSeq == Seq(1L -> Some(1.0), 2L -> Some(3.0), 3L -> Some(9.0), 4L -> None))
    // the output keeps every left row and column
    assert(back.length == trades.count())
  }

  test("text operators run on foreign column names and agree with the registered queries") {
    val docs = graft.Tables.documents(spark, sf("sf0.001"))
      .select(col("doc_id").as("k"), col("text").as("body"))
    val viaApi = TextOps.qualityScore(docs, "k", "body").orderBy("doc_id").collect()
    val viaQuery = graft.SparkEntry.queries("t02_text_quality")(spark, sf("sf0.001")).collect()
    assert(viaApi.toSeq == viaQuery.toSeq)
    assert(TextOps.repetitionScore(docs, "k", "body").count() == docs.count())
  }

  test("globalRank equals the one-partition window's ranks while staying partitioned") {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    val df = (1L to 5000L).map(i => (i, rnd.nextInt(1000), s"row $i"))
      .toDF("id", "score", "payload")
    val sort = Seq(col("score").desc, col("id").asc)
    val got = Relational.globalRank(df, sort, numParts = 8)
    // the facts are range-partitioned across tasks, never coalesced to 1
    assert(got.rdd.getNumPartitions > 1,
      "globalRank collapsed the data to one partition")
    val gotRows = got.select("id", "rnk").collect()
      .map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1)
    val winRows = df.withColumn("rnk",
        row_number().over(org.apache.spark.sql.expressions.Window.orderBy(sort: _*))
          .cast("long"))
      .select("id", "rnk").collect()
      .map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1)
    assert(gotRows.toSeq == winRows.toSeq,
      "distributed ranks differ from the window row_number")
    // ranks are a permutation of 1..n
    assert(gotRows.map(_._2).sorted.toSeq == (1L to 5000L).toSeq)
    // every input column rides through
    assert(got.columns.toSeq == Seq("id", "score", "payload", "rnk"))
  }

  test("redactPii replaces emails/IPs/phones with exact counts and passes clean text through") {
    import spark.implicits._
    val docs = Seq(
      (1L, "mail a.b+c@x-y.co or d@e.org now"),
      (2L, "call 123-456-7890 or visit 10.0.0.1 and 192.168.1.255"),
      (3L, "ring +44 20 7946 0958 today"),
      (4L, "nothing sensitive in here at all")
    ).toDF("k", "body")
    val out = TextOps.redactPii(docs, idCol = "k", textCol = "body")
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getInt(2), r.getInt(3), r.getInt(4)))
    assert(out(0) == ((1L, "mail <EMAIL> or <EMAIL> now", 2, 0, 0)))
    // the IP is replaced as an IP, not half-eaten by the phone pattern
    assert(out(1) == ((2L, "call <PHONE> or visit <IP> and <IP>", 0, 2, 1)))
    assert(out(2) == ((3L, "ring <PHONE> today", 0, 0, 1)))
    assert(out(3) == ((4L, "nothing sensitive in here at all", 0, 0, 0)))
  }

  test("multimodal binaryMeta/frameSample run on foreign columns without decoding") {
    import spark.implicits._
    val assets = Seq(
      (1L, ("x" * 600).getBytes), (2L, ("y" * 100).getBytes)
    ).toDF("asset_id", "blob")
    val meta = Multimodal.binaryMeta(assets, "asset_id", "blob")
      .orderBy("doc_id").collect()
    assert(meta.map(_.getInt(1)).toSeq == Seq(600, 100))
    val frames = Multimodal.frameSample(assets, "asset_id", "blob",
      frameSize = 256, stride = 2).orderBy("doc_id", "frame_idx").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getInt(2)))
    // 600 bytes -> frames 0,1,2 (sizes 256,256,88); stride 2 keeps 0 and 2
    assert(frames.toSeq == Seq((1L, 0, 256), (1L, 2, 88), (2L, 0, 100)))
  }

  test("resizeNearest samples raw BYTES — values >= 0x80 and non-UTF-8 payloads intact") {
    import spark.implicits._
    // 4-wide source grid, 2 rows; bytes deliberately NOT valid UTF-8
    // (0xC3 with a non-continuation successor, bare 0xFF): a char-based
    // read would shift offsets and return codepoints, not bytes.
    val payload = Array[Byte](0xC3.toByte, 0x41, 0xFF.toByte, 0x42,
      0x80.toByte, 0x43, 0xFE.toByte, 0x44)
    val df = Seq((1L, payload)).toDF("doc_id", "content")
    val out = Multimodal.resizeNearest(df, srcWidth = 4, outW = 2, outH = 2)
      .collect().head
    assert(out.getInt(1) == 2) // src_h = 8 bytes / 4
    // out pixel (r, c) samples source (r*2 div 2, c*4 div 2) = (r, 2c)
    val pix = out.getSeq[Long](2)
    assert(pix == Seq(0xC3L, 0xFFL, 0x80L, 0xFEL), s"got $pix")
  }

  test("vector_cosine matches an independent computation; zero norms and nulls are safe") {
    import spark.implicits._
    graft.functions.GraftExtensions.register(spark)
    val df = Seq(
      (Array(3.0, 4.0), Array(4.0, 3.0)),
      (Array(1.0, 0.0), Array(0.0, 2.0)),
      (Array(0.0, 0.0), Array(1.0, 1.0))
    ).toDF("a", "b")
    val got = df.select(expr("vector_cosine(a, b)")).as[Double].collect()
    assert(got(0) == (3.0 * 4 + 4 * 3) / (5.0 * 5.0))
    assert(got(1) == 0.0) // orthogonal
    assert(got(2) == 0.0) // zero-norm convention
    val n = df.select(expr("vector_cosine(a, cast(null as array<double>))")).collect().head
    assert(n.isNullAt(0))
  }

  test("vector_cosine returns null on mismatched dimensions (not a truncated score)") {
    import spark.implicits._
    graft.functions.GraftExtensions.register(spark)
    val df = Seq((Array(3.0, 4.0, 5.0), Array(3.0, 4.0))).toDF("a", "b")
    // codegen path
    val r = df.select(expr("vector_cosine(a, b)")).collect().head
    assert(r.isNullAt(0), s"expected null for 3-dim vs 2-dim, got $r")
    // interpreted path (fold over a literal forces eval())
    val lit3 = "array(3.0D, 4.0D, 5.0D)"
    val lit2 = "array(3.0D, 4.0D)"
    val i = spark.sql(s"SELECT vector_cosine($lit3, $lit2)").collect().head
    assert(i.isNullAt(0))
  }

  test("cosineTopK(normalized=false) ranks raw vectors scale-invariantly") {
    import spark.implicits._
    // same directions, wildly different magnitudes: cosine ranking must
    // ignore magnitude entirely (dot ranking would not)
    val corpus = Seq(
      (1L, Array(100.0, 0.0)),   // east, huge
      (2L, Array(0.001, 0.001)), // northeast, tiny
      (3L, Array(0.0, 50.0))     // north
    ).toDF("id", "vec")
    val probes = Seq((10L, Array(1.0, 1.0))).toDF("id", "vec") // northeast
    val ranked = Similarity.cosineTopK(corpus, probes, 3, "id", "vec", normalized = false)
      .orderBy("rnk").collect().map(r => (r.getLong(1), r.getDouble(3)))
    assert(ranked.head._1 == 2L, s"nearest by direction should be the tiny northeast vector: ${ranked.toSeq}")
    assert(math.abs(ranked.head._2 - 1.0) < 1e-12)
    // east and north are symmetric about the probe: identical cosines
    assert(ranked(1)._2 == ranked(2)._2)
  }

  test("pqRerankTopK answers EXTERNAL probes (ids absent from the corpus), on a non-64-dim corpus") {
    import spark.implicits._
    // 8-dim vectors also exercise the inferred-dimension path in
    // buildPqIndex (a hard-coded 64 would slice empty subvectors here).
    val rnd = new scala.util.Random(7)
    def unit(): Array[Double] = {
      val v = Array.fill(8)(rnd.nextGaussian())
      val n = math.sqrt(v.map(x => x * x).sum)
      v.map(_ / n)
    }
    val corpus = (0L until 60L).map(i => (i, unit())).toDF("vid", "emb")
    // probe id 1000 does not exist in the corpus; its vector is fresh
    val probeVec = unit()
    val probes = Seq((1000L, probeVec)).toDF("vid", "emb")
    val idx = Similarity.buildPqIndex(corpus, subs = 4, codesPerSub = 8,
      idCol = "vid", vecCol = "emb")
    assert(idx.dim == 8, s"dim should be inferred from the data, got ${idx.dim}")
    // shortlist >= corpus: the ADC stage keeps everything, so the
    // rerank must return the EXACT brute-force top-k for the probe
    val out = Similarity.pqRerankTopK(idx, corpus, probes, k = 3,
        shortlist = 60, idCol = "vid", vecCol = "emb")
      .orderBy("rnk").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(3)))
    assert(out.length == 3, s"external probe was dropped: ${out.toSeq}")
    assert(out.forall(_._1 == 1000L))
    // independent driver-side oracle with the same sequential fold order
    val expect = corpus.collect()
      .map(r => (r.getLong(0),
        r.getSeq[Double](1).zip(probeVec).foldLeft(0.0) { case (a, (x, y)) => a + x * y }))
      .sortBy { case (id, s) => (-s, id) }.take(3)
    assert(out.map(o => (o._2, o._3)).toSeq == expect.toSeq,
      s"got ${out.toSeq}, want ${expect.toSeq}")
  }

  test("cosineTopK and annTopK agree on scores for shared pairs (foreign columns)") {
    val e = graft.Tables.embeddings(spark, sf("sf0.001"))
      .select(col("vec_id").as("eid"), col("embedding").as("vec"))
    val probes = e.filter(col("eid") < 5)
    val exact = Similarity.cosineTopK(e, probes, 3, "eid", "vec").collect()
    assert(exact.map(_.getLong(0)).distinct.length == 5)
    assert(exact.length == 15) // 5 probes x top-3
    val exactScores = exact.map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(3))).toMap
    val ann = Similarity.annTopK(e, probes.select("eid"), 3, "eid", "vec").collect()
    assert(ann.nonEmpty)
    ann.foreach { r =>
      val k = (r.getLong(0), r.getLong(1))
      exactScores.get(k).foreach(s => assert(s == r.getDouble(3), s"score mismatch for $k"))
    }
  }

  test("weightedQuantiles equals brute-force weight expansion, handles ties, on foreign columns") {
    import spark.implicits._
    val rnd = new scala.util.Random(11)
    val rows = for {
      g <- 1 to 6; _ <- 1 to 40
    } yield (s"grp$g", rnd.nextInt(20) * 0.5, 1L + rnd.nextInt(9)) // ties guaranteed
    val df = rows.toDF("bucket", "price", "qty")
    val got = Relational.weightedQuantiles(df, "bucket", "price", col("qty"),
        Seq("wq25" -> 0.25, "wq50" -> 0.5, "wq99" -> 0.99))
      .collect()
      .map(r => r.getString(0) ->
        (r.getDouble(1), r.getDouble(2), r.getDouble(3), r.getLong(4)))
      .toMap
    // oracle: expand each row into `qty` copies, take the lower quantile
    val byGroup = rows.groupBy(_._1)
    for ((g, rs) <- byGroup) {
      val expanded = rs.flatMap { case (_, v, w) => Seq.fill(w.toInt)(v) }.sorted
      val tw = expanded.length.toLong
      def lower(q: Double): Double =
        expanded(math.ceil(q * tw).toInt - 1)
      val (wq25, wq50, wq99, totW) = got(g)
      assert(totW == tw, s"$g total weight")
      assert(wq25 == lower(0.25), s"$g wq25: got $wq25 want ${lower(0.25)}")
      assert(wq50 == lower(0.5), s"$g wq50")
      assert(wq99 == lower(0.99), s"$g wq99")
    }
    // q = 1.0 is the max; weight 1 everywhere degenerates to plain quantiles
    val unit = Relational.weightedQuantiles(df, "bucket", "price", lit(1L),
      Seq("wmax" -> 1.0)).collect()
    val maxes = df.groupBy("bucket").agg(max("price")).collect()
      .map(r => r.getString(0) -> r.getDouble(1)).toMap
    unit.foreach(r => assert(r.getDouble(1) == maxes(r.getString(0))))
  }

  test("madOutliers flags exactly the rows beyond k x MAD, including the MAD=0 degenerate group") {
    import spark.implicits._
    // group a: values 10..16 plus a wild 100 -> med=13, adevs {0..3, 87},
    // mad=2 (lower median of sorted adevs 0,1,1,2,2,3,3,87), gate 3*2=6
    val a = Seq(10.0, 11.0, 12.0, 13.0, 14.0, 15.0, 16.0, 100.0).map(("a", _))
    // group b: over half identical -> mad=0, every off-median row flags
    val b = Seq(5.0, 5.0, 5.0, 5.0, 7.0, 3.0).map(("b", _))
    val df = (a ++ b).zipWithIndex
      .map { case ((g, v), i) => (i.toLong, g, v) }.toDF("rid", "grp", "v")
    val out = Relational.madOutliers(df, "grp", "v", k = 3.0)
      .select("grp", "v").collect().map(r => (r.getString(0), r.getDouble(1)))
      .sortBy(identity)
    assert(out.toSeq == Seq(("a", 100.0), ("b", 3.0), ("b", 7.0)), s"got ${out.toSeq}")
    // med/adev/mad columns ride along after the original columns
    val cols = Relational.madOutliers(df, "grp", "v").columns.toSeq
    assert(cols == Seq("rid", "grp", "v", "med", "adev", "mad"))
  }

  test("gopherRules: each rule trips independently on crafted docs") {
    import spark.implicits._
    val fifty = (1 to 50).map(i => s"word${i % 7} the of and").mkString(" ") // 200 words
    val docs = Seq(
      (1L, fifty),                                        // passes everything
      (2L, "too short to pass the gate"),                 // word count < 50
      (3L, fifty + " ####### ####### " + "# ".repeat(30)),// symbol ratio
      (4L, fifty + "\n" + (1 to 60).map(_ => "- bullet").mkString("\n")), // bullets
      (5L, (1 to 60).map(_ => "zz...").mkString("\n")),   // ellipsis lines
      (6L, (1 to 60).map(_ => "12345 678").mkString(" ")) // no alpha, no stops
    ).toDF("k", "body")
    val got = TextOps.gopherRules(docs, idCol = "k", textCol = "body")
      .orderBy("doc_id").collect()
    val byId = got.map(r => r.getLong(0) -> r).toMap
    assert(byId(1L).getAs[Boolean]("gopher_pass"), "doc 1 should pass")
    assert(!byId(2L).getAs[Boolean]("gopher_pass") &&
      byId(2L).getAs[Int]("n_words") < 50)
    assert(!byId(3L).getAs[Boolean]("gopher_pass") &&
      byId(3L).getAs[Double]("symbol_ratio") >= 0.1)
    assert(!byId(4L).getAs[Boolean]("gopher_pass") &&
      byId(4L).getAs[Double]("bullet_frac") >= 0.9)
    assert(!byId(5L).getAs[Boolean]("gopher_pass") &&
      byId(5L).getAs[Double]("ellipsis_frac") >= 0.3)
    assert(!byId(6L).getAs[Boolean]("gopher_pass") &&
      byId(6L).getAs[Double]("alpha_frac") < 0.8 &&
      byId(6L).getAs[Int]("stop_count") < 2)
    // stopword counting is distinct-word presence, not occurrences
    assert(byId(1L).getAs[Int]("stop_count") == 3) // the, of, and
  }

  test("invertedIndex: df counts the whole corpus while postings cap at the k smallest ids") {
    import spark.implicits._
    // 'common' in all 12 docs, 'rare' in 2, 'mid' in docs 3..8
    val docs = (1L to 12L).map { i =>
      val extra = (if (i <= 2) " rare" else "") +
        (if (i >= 3 && i <= 8) " mid" else "")
      (i, s"common filler$i$extra")
    }.toDF("k", "body")
    val got = TextOps.invertedIndex(docs, idCol = "k", textCol = "body",
        k = 4, minDf = 2L)
      .orderBy("tok").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getString(2)))
    assert(got.toSeq == Seq(
      ("common", 12L, "1,2,3,4"), // df counts all 12; postings cap at 4
      ("mid", 6L, "3,4,5,6"),
      ("rare", 2L, "1,2")), s"got ${got.toSeq}")
    // minDf prunes the filler singletons
    assert(!got.exists(_._1.startsWith("filler")))
  }

  test("perceptualHash + phashNearDup: aHash bit math by hand, lossless band blocking") {
    import spark.implicits._
    // srcWidth=8 on 64-byte content → the 8×8 resize is the identity
    // grid, so every bit is hand-computable.
    val a = ("a" * 32 + "z" * 32).getBytes("UTF-8") // mean 109 → top half set
    val b = ("a" * 32 + "z" * 32).getBytes("UTF-8") // identical → hamming 0
    val c = ("z" + "a" * 31 + "z" * 32).getBytes("UTF-8") // one flipped bit
    val d = ("a" * 32 + "b" * 32).getBytes("UTF-8") // all ≥ mean 97 → 32 bits off A
    val docs = Seq((1L, a), (2L, b), (3L, c), (4L, d)).toDF("k", "bytes")
    val h = Multimodal.perceptualHash(docs, srcWidth = 8,
        idCol = "k", contentCol = "bytes")
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getInt(3),
        r.getInt(4), r.getString(5)))
    assert(h(0) == ((1L, 0, 0, 0xFFFF, 0xFFFF, "FFFFFFFF00000000")), s"got ${h(0)}")
    assert(h(3) == ((4L, 0xFFFF, 0xFFFF, 0xFFFF, 0xFFFF, "FFFFFFFFFFFFFFFF")))
    val pairs = Multimodal.phashNearDup(docs, srcWidth = 8, maxHamming = 3,
        idCol = "k", contentCol = "bytes")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(pairs == Set((1L, 2L, 0), (1L, 3L, 1), (2L, 3L, 1)), s"got $pairs")
    // lossless blocking: band-joined pairs equal the all-pairs relation
    val sigs = h.map(t => t._1 -> Seq(t._2, t._3, t._4, t._5))
    val allPairs = (for {
      (i, bi) <- sigs; (j, bj) <- sigs if i < j
      ham = bi.zip(bj).map { case (x, y) => Integer.bitCount(x ^ y) }.sum
      if ham <= 3
    } yield (i, j, ham)).toSet
    assert(pairs == allPairs, "band blocking diverged from all-pairs ground truth")
  }

  test("typoPairs: insert/delete/substitute found, transpositions excluded, blocking lossless") {
    import spark.implicits._
    val docs = Seq(
      (1L, "spark spark spark sprak"), // transposition: ed 2, must NOT pair
      (2L, "stream straem sream streams"), // sream=del, streams=ins; straem=transpose
      (3L, "filter fylter"), // substitution
      (4L, "window windo window") // deletion
    ).toDF("k", "body")
    val got = TextOps.typoPairs(docs, idCol = "k", textCol = "body")
      .collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3), r.getInt(4)))
      .sortBy(t => (t._1, t._2))
    val pairs = got.map(t => (t._1, t._2)).toSet
    assert(pairs.contains(("sream", "stream")) && pairs.contains(("stream", "streams"))
      && pairs.contains(("filter", "fylter")) && pairs.contains(("windo", "window")),
      s"missing expected pairs: $pairs")
    assert(!pairs.contains(("spark", "sprak")) && !pairs.contains(("straem", "stream")),
      s"transpositions (ed 2) leaked through: $pairs")
    // term frequencies ride along: 'spark' x3 vs 'sprak' x1 would be the
    // typo signal; check one pair's counts
    val wp = got.find(t => t._1 == "windo" && t._2 == "window").get
    assert(wp._3 == 1L && wp._4 == 2L, s"tf wrong: $wp")
    // lossless vs brute force over the whole vocabulary
    def lev(a: String, b: String): Int = {
      val d = Array.tabulate(a.length + 1, b.length + 1)((i, j) => if (i == 0) j else if (j == 0) i else 0)
      for (i <- 1 to a.length; j <- 1 to b.length)
        d(i)(j) = math.min(math.min(d(i - 1)(j) + 1, d(i)(j - 1) + 1),
          d(i - 1)(j - 1) + (if (a(i - 1) == b(j - 1)) 0 else 1))
      d(a.length)(b.length)
    }
    val vocab = docs.as[(Long, String)].collect()
      .flatMap(_._2.split("\\s+")).distinct.sorted
    val expect = (for {
      (x, i) <- vocab.zipWithIndex; y <- vocab.drop(i + 1) if lev(x, y) <= 1
    } yield (x, y)).toSet
    assert(pairs == expect, s"blocked pairs $pairs != brute force $expect")
  }

  test("timeWeightedAvg: hand-computed holding-time mean; last sample contributes no interval") {
    import spark.implicits._
    import java.sql.Timestamp
    def ts(sec: Int) = Timestamp.valueOf(f"2024-01-01 00:00:$sec%02d")
    val rows = Seq(
      // user 7: 10.00 held 10 s, then 20.00 held 30 s → twa = (10*10+20*30)/40 = 17.5
      (7L, ts(0), 10.0, 1L), (7L, ts(10), 20.0, 2L), (7L, ts(40), 99.0, 3L),
      // user 8: single event → no interval → absent from output
      (8L, ts(5), 42.0, 4L),
      // user 9: tie on ts broken by event_id — 1.00 then 3.00 at the same
      // instant (dt 0), then 2.00: twa = (1*0 + 3*10)/10 = 3.0
      (9L, ts(0), 1.0, 5L), (9L, ts(0), 3.0, 6L), (9L, ts(10), 2.0, 7L)
    ).toDF("user_id", "ts", "value", "event_id")
    val got = Relational.timeWeightedAvg(rows).orderBy("user_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    assert(got.toSeq == Seq(
      (7L, 2L, 40000000L, 17.5),
      (9L, 2L, 10000000L, 3.0)), s"got ${got.toSeq}")
  }

  test("lengthBucketBatches: deterministic, size-bounded, like-sized batches") {
    import spark.implicits._
    val docs = (1L to 200L).map(i => (i, ("w " * ((i % 60).toInt + 1)).trim))
      .toDF("k", "body")
    val a = Pipeline.lengthBucketBatches(docs, batchSize = 8,
      bucketWidth = 16, shards = 2, idCol = "k", textCol = "body").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getInt(3), r.getInt(4)))
    // every doc assigned exactly once; re-run is byte-identical
    assert(a.length == 200 && a.map(_._1).distinct.length == 200)
    val b = Pipeline.lengthBucketBatches(docs, batchSize = 8,
      bucketWidth = 16, shards = 2, idCol = "k", textCol = "body").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getInt(3), r.getInt(4)))
    assert(a.sortBy(_._1).toSeq == b.sortBy(_._1).toSeq, "assignment not deterministic")
    // batches respect the size bound and are homogeneous in bucket
    val byBatch = a.groupBy(t => (t._3, t._4, t._5))
    byBatch.foreach { case (key, ds) =>
      assert(ds.length <= 8, s"batch $key overflows: ${ds.length}")
      assert(ds.map(_._3).distinct.length == 1)
      // bucket really is n_toks div 16
      ds.foreach(d => assert(d._2 / 16 == d._3, s"bad bucket for $d"))
    }
    // only the last batch of a (bucket, shard) run may be short
    byBatch.groupBy { case ((bu, sh, _), _) => (bu, sh) }.foreach {
      case (_, batches) =>
        val short = batches.count(_._2.length < 8)
        assert(short <= 1, "non-final short batch found")
    }
  }

  test("stateIntervals: runs collapse, valid_to chains, same-instant flips keep distinct seq") {
    import spark.implicits._
    import java.sql.Timestamp
    def ts(sec: Int) = Timestamp.valueOf(f"2024-01-01 00:00:$sec%02d")
    val rows = Seq(
      // user 1: a,a,b,a — three intervals, middle one 1 event
      (1L, ts(0), "a", 1L), (1L, ts(10), "a", 2L), (1L, ts(20), "b", 3L),
      (1L, ts(30), "a", 4L),
      // user 2: b,b — one open-ended interval
      (2L, ts(5), "b", 5L), (2L, ts(6), "b", 6L),
      // user 3: a then b AT THE SAME INSTANT (tie broken by event_id),
      // then a later — three runs, first two share valid_from
      (3L, ts(0), "a", 7L), (3L, ts(0), "b", 8L), (3L, ts(9), "a", 9L)
    ).toDF("user_id", "ts", "event_type", "event_id")
    val got = Relational.stateIntervals(rows).orderBy("user_id", "seq")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2),
        r.getTimestamp(3), Option(r.getTimestamp(4)), r.getLong(5)))
    assert(got.toSeq == Seq(
      (1L, 1L, "a", ts(0), Some(ts(20)), 2L),
      (1L, 2L, "b", ts(20), Some(ts(30)), 1L),
      (1L, 3L, "a", ts(30), None, 1L),
      (2L, 1L, "b", ts(5), None, 2L),
      (3L, 1L, "a", ts(0), Some(ts(0)), 1L),
      (3L, 2L, "b", ts(0), Some(ts(9)), 1L),
      (3L, 3L, "a", ts(9), None, 1L)), s"got ${got.toSeq}")
  }

  test("exactKSample: equals the naive whole-stratum window; short strata return all rows") {
    import spark.implicits._
    val docs = (1L to 300L).map(i => (i, s"s${i % 3}", s"text number $i"))
      .toDF("doc_id", "lang", "text") // 100 per stratum
      .union(Seq((301L, "tiny", "lone doc")).toDF("doc_id", "lang", "text"))
    val got = Pipeline.exactKSample(docs, k = 10, strataCol = "lang")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
    // naive reference: rank everything, keep rk <= 10
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("lang").orderBy(md5(col("text")), col("doc_id"))
    val naive = docs.withColumn("rk", row_number().over(w).cast("long"))
      .filter(col("rk") <= 10).select("doc_id", "lang", "rk")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
    assert(got == naive, s"two-phase != naive: ${got.diff(naive)} / ${naive.diff(got)}")
    assert(got.count(_._2 == "tiny") == 1, "stratum smaller than k must return all its rows")
    assert(Seq("s0", "s1", "s2").forall(l => got.count(_._2 == l) == 10))
  }

  test("exactKSample: undersampling prefilter raises instead of returning a short sample") {
    import spark.implicits._
    // craft a stratum where margin=1, k=2, n=4 undersamples: threshold
    // is ceil(2*65536/4) = 32768, so pick 3 texts hashing ABOVE 0x8000
    // and 1 below — only 1 survivor < min(k, n) = 2.
    def prefix16(s: String): Int = {
      val d = java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8"))
      ((d(0) & 0xff) << 8) | (d(1) & 0xff)
    }
    val cands = (1 to 200).map(i => s"cand $i")
    val hi = cands.filter(prefix16(_) >= 0x8000).take(3)
    val lo = cands.filter(prefix16(_) < 0x8000).take(1)
    assert(hi.size == 3 && lo.size == 1)
    val docs = (hi ++ lo).zipWithIndex
      .map { case (t, i) => (i.toLong, "x", t) }.toDF("doc_id", "lang", "text")
    val e = intercept[Exception] {
      Pipeline.exactKSample(docs, k = 2, strataCol = "lang", margin = 1).collect()
    }
    def messages(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x => Option(x.getMessage).toSeq ++ messages(x.getCause))
    assert(messages(e).exists(_.contains("undersampled")),
      s"expected loud undersample error, got: $e")
  }

  test("byteEntropy: uniform bytes hit ln(k), constant blobs hit 0, empty blobs drop") {
    import spark.implicits._
    val docs = Seq(
      (1L, "abcd"),     // 4 distinct, uniform → H = ln 4
      (2L, "aaaa"),     // constant → H = 0
      (3L, "aab"),      // H = ln 3 − (2 ln 2)/3
      (4L, "")          // empty → dropped
    ).toDF("doc_id", "text")
      .select(col("doc_id"), col("text").cast("binary").as("content"))
    val got = Multimodal.byteEntropy(docs).orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getDouble(3)))
    assert(got.map(t => (t._1, t._2, t._3)).toSeq ==
      Seq((1L, 4L, 4), (2L, 4L, 1), (3L, 3L, 2)), s"got ${got.toSeq}")
    val h = got.map(t => t._1 -> t._4).toMap
    assert(math.abs(h(1L) - math.log(4)) < 1e-5, s"uniform: ${h(1L)}")
    assert(h(2L) == 0.0, s"constant: ${h(2L)}")
    assert(math.abs(h(3L) - (math.log(3) - 2 * math.log(2) / 3)) < 1e-5,
      s"mixed: ${h(3L)}")
  }

  test("kmeansStep: hand-computed assignment, equidistant ties go to the lowest cid") {
    import spark.implicits._
    val cents = Seq((0L, Seq(0.0, 0.0)), (1L, Seq(10.0, 10.0)))
      .toDF("cid", "embedding")
    val emb = Seq(
      (11L, Seq(1.0, 1.0)), (12L, Seq(2.0, 2.0)), // → c0
      (13L, Seq(9.0, 9.0)), (14L, Seq(6.0, 6.0)), // → c1
      (15L, Seq(5.0, 5.0))                        // equidistant → c0 (tie)
    ).toDF("vec_id", "embedding")
    val got = Similarity.kmeansStep(emb, cents).orderBy("cluster", "dim")
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3)))
    assert(got.toSeq == Seq(
      (0L, 1, 3L, 2.666667), (0L, 2, 3L, 2.666667),
      (1L, 1, 2L, 7.5), (1L, 2, 2L, 7.5)), s"got ${got.toSeq}")
  }

  test("bigramSurprisal: hand-computed conditional surprisals; single-token docs drop") {
    import spark.implicits._
    val docs = Seq(
      (1L, "a b a c"), // bigrams: "a b", "b a", "a c"
      (2L, "a b"),
      (3L, "x")        // no bigrams → absent
    ).toDF("doc_id", "text")
    // model: c(a b)=2, c(b a)=1, c(a c)=1; contexts: c(a ·)=3, c(b ·)=1
    // st(a b) = round(ln3·1e6) − round(ln2·1e6) = 1098612 − 693147 = 405465
    // st(b a) = 0 − 0 = 0; st(a c) = 1098612 − 0 = 1098612
    val got = TextOps.bigramSurprisal(docs).orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    assert(got.toSeq == Seq(
      (1L, 3L, 1504077L, 0.501359),
      (2L, 1L, 405465L, 0.405465)), s"got ${got.toSeq}")
  }

  test("sceneChanges: hand-computed frame-mean jumps; partial frames and short assets drop") {
    import spark.implicits._
    // frameSize 4: doc 1 = frames of means 65 ('A'), 97 ('a'), 65, plus
    // a 2-byte partial tail that must be ignored; doc 2 has 1 full
    // frame → dropped entirely.
    val docs = Seq(
      (1L, "AAAA" + "aaaa" + "AAAA" + "zz"),
      (2L, "BBBB" + "cc")
    ).toDF("doc_id", "text")
      .select(col("doc_id"), col("text").cast("binary").as("content"))
    val got = Multimodal.sceneChanges(docs, frameSize = 4, thresholdMilli = 20000)
      .orderBy("doc_id", "frame_idx").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getBoolean(3)))
    // |97−65|·1000 = 32000 > 20000 → cut on both transitions
    assert(got.toSeq == Seq(
      (1L, 1, 32000L, true), (1L, 2, 32000L, true)), s"got ${got.toSeq}")
  }

  test("keepBestRepresentatives: clusters keep the highest score, ties break to min id") {
    import spark.implicits._
    val docs = Seq(
      (1L, 10L), (2L, 30L), (3L, 30L), // cluster {1,2,3}: 2 and 3 tie on score → keep 2
      (4L, 5L), (5L, 99L),             // cluster {4,5}: keep 5
      (6L, 1L)                         // unpaired → always kept
    ).toDF("doc_id", "score")
    val pairs = Seq((1L, 2L), (2L, 3L), (4L, 5L)).toDF("doc_a", "doc_b")
    val got = Dedup.keepBestRepresentatives(docs, pairs, scoreCol = "score")
      .orderBy("doc_id").collect().map(_.getLong(0)).toSeq
    assert(got == Seq(2L, 5L, 6L), s"got $got")
    // contrast: the min-id policy keeps 1 and 4
    val minId = Dedup.keepRepresentatives(docs, pairs)
      .orderBy("doc_id").collect().map(_.getLong(0)).toSeq
    assert(minId == Seq(1L, 4L, 6L), s"got $minId")
  }

  test("kmeansAssign: input columns pass through unchanged with the cluster label appended") {
    import spark.implicits._
    val cents = Seq((0L, Seq(0.0, 0.0)), (1L, Seq(10.0, 10.0)))
      .toDF("cid", "embedding")
    val emb = Seq((21L, "a", Seq(1.0, 2.0)), (22L, "b", Seq(9.0, 8.0)))
      .toDF("vec_id", "tag", "embedding")
    val got = Similarity.kmeansAssign(emb, cents).orderBy("vec_id")
      .select("vec_id", "tag", "cluster").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    assert(got.toSeq == Seq((21L, "a", 0L), (22L, "b", 1L)), s"got ${got.toSeq}")
  }

  test("zipfTop: hand-computed coverage curve with tie-broken ranks and exact shares") {
    import spark.implicits._
    val docs = Seq((1L, "a a a b b c"), (2L, "a b d")).toDF("doc_id", "text")
    // counts: a=4, b=3, c=1, d=1 (tie c<d); total 9
    val got = TextOps.zipfTop(docs, k = 3).orderBy("rnk").collect()
      .map(r => (r.getInt(0), r.getString(1), r.getLong(2), r.getLong(3), r.getDouble(4)))
    assert(got.toSeq == Seq(
      (1, "a", 4L, 4L, 4.0 / 9.0),
      (2, "b", 3L, 7L, 7.0 / 9.0),
      (3, "c", 1L, 8L, 8.0 / 9.0)), s"got ${got.toSeq}")
  }

  test("silenceRuns: hand-computed runs — boundary minRun, trailing run, no-quiet asset") {
    import spark.implicits._
    val q = "\u0001" // a quiet byte (< 32)
    val docs = Seq(
      (1L, "ab" + q * 3 + "c" + q * 2),  // runs 3 (max) and trailing 2; none >= 3? minRun=3 → trailing misses, first counts
      (2L, "abcdef"),                    // no quiet bytes
      (3L, q * 4)                        // entire payload one quiet run
    ).toDF("doc_id", "text")
      .select(col("doc_id"), col("text").cast("binary").as("content"))
    val got = Multimodal.silenceRuns(docs, threshold = 32, minRun = 3)
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(got.toSeq == Seq(
      (1L, 8L, 3L, 1L),
      (2L, 6L, 0L, 0L),
      (3L, 4L, 4L, 1L)), s"got ${got.toSeq}")
  }

  test("ngramNovelty: shared grams score low, unique grams score high, short docs absent") {
    import spark.implicits._
    val shared = "alpha beta gamma delta"          // grams shared by docs 1/2
    val docs = Seq(
      (1L, shared),                               // 2 grams, both df=2 → novelty 0
      (2L, shared + " epsilon"),                  // 3 grams: 2 shared + 1 unique → 1/3
      (3L, "zeta eta theta iota"),                // 2 grams, both unique → 1.0
      (4L, "one two")                             // < 3 tokens → absent
    ).toDF("doc_id", "text")
    val got = TextOps.ngramNovelty(docs).orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    assert(got.toSeq == Seq(
      (1L, 2L, 0L, 0.0),
      (2L, 3L, 1L, 1.0 / 3.0),
      (3L, 2L, 2L, 1.0)), s"got ${got.toSeq}")
  }

  test("shuffleShard: epoch 0 is byte-identical to the unsalted form; epochs reorder independently") {
    import spark.implicits._
    val docs = (1L to 100L).map(i => (i, s"doc body $i")).toDF("doc_id", "text")
    def run(e: Int) = Pipeline.shuffleShard(docs, nShards = 4, epoch = e)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getString(2), r.getInt(3)))
      .sortBy(_._1).toSeq
    val e0 = run(0)
    val legacy = Pipeline.shuffleShard(docs, nShards = 4)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getString(2), r.getInt(3)))
      .sortBy(_._1).toSeq
    assert(e0 == legacy, "epoch 0 must preserve the unsalted order")
    val e1 = run(1)
    assert(e1 != e0, "epoch 1 must reshuffle")
    assert(run(1) == e1, "each epoch's order must be deterministic")
    assert(e1.map(_._1) == e0.map(_._1), "same rows, different order only")
  }

  test("classDiversity: centroid identity reproduces the hand-computed pairwise means") {
    import spark.implicits._
    val emb = Seq(
      (1L, Array(1.0f, 0.0f), 0),   // pairs within label 0:
      (2L, Array(1.0f, 0.0f), 0),   //   (1,2)=1, (1,3)=0, (2,3)=0 → mean 1/3
      (3L, Array(0.0f, 1.0f), 0),
      (4L, Array(0.5f, 0.5f), 2),   // identical pair → mean 0.5
      (5L, Array(0.5f, 0.5f), 2),
      (6L, Array(0.9f, 0.1f), 7)    // singleton: no pairs → absent
    ).toDF("vec_id", "embedding", "label")
    val got = Similarity.classDiversity(emb).collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getDouble(2)))
    assert(got.toSeq == Seq((0, 3L, 1.0 / 3.0), (2, 2L, 0.5)), s"got ${got.toSeq}")
  }

  test("weightedPrioritySample: k smallest h/w priorities win; non-positive weights excluded") {
    import spark.implicits._
    val docs = Seq(
      (1L, "apples and oranges", 120L), (2L, "pears or plums", 45L),
      (3L, "kiwi fruit salad", 800L), (4L, "banana bread recipe", 10L),
      (5L, "cherry pie filling", 300L), (6L, "never drawn", 0L)
    ).toDF("doc_id", "text", "n_chars")
    // Engine-independent expectation: same md5-prefix / weight key in JVM.
    def prio(text: String, w: Long): Double = {
      val md = java.security.MessageDigest.getInstance("MD5")
      val hex = md.digest(text.getBytes("UTF-8"))
        .map(b => f"$b%02x").mkString.substring(0, 8)
      java.lang.Long.parseLong(hex, 16).toDouble / w.toDouble
    }
    val exp = Seq((1L, "apples and oranges", 120L), (2L, "pears or plums", 45L),
        (3L, "kiwi fruit salad", 800L), (4L, "banana bread recipe", 10L),
        (5L, "cherry pie filling", 300L))
      .map { case (id, t, w) => (id, w, prio(t, w)) }
      .sortBy(x => (x._3, x._1)).take(3)
    val got = Pipeline.weightedPrioritySample(docs, k = 3)
      .orderBy("priority", "doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(got.toSeq == exp, s"got ${got.toSeq}, want $exp")
  }

  test("slidingDistinctUsers: trailing-window counts dedup users active on several days") {
    import spark.implicits._
    import java.sql.Timestamp
    def ts(day: Int) = Timestamp.valueOf(f"2024-01-$day%02d 12:00:00")
    val ev = Seq(
      (ts(1), 100L), (ts(1), 200L),   // day 1: {100, 200}
      (ts(2), 100L),                  // day 2 window [..-6,2]: {100, 200}
      (ts(2), 100L),                  // same user same day — no double count
      (ts(9), 300L)                   // day 9 window [3..9]: {300} only
    ).toDF("ts", "user_id")
    val out = Relational.slidingDistinctUsers(ev, windowDays = 7)
      .collect().map(r => (r.getDate(0).toString, r.getLong(1)))
    assert(out.toSeq == Seq(("2024-01-01", 2L), ("2024-01-02", 2L), ("2024-01-09", 1L)),
      s"got ${out.toSeq}")
  }

  test("ewma: fold order follows (ts, id); singleton series returns its value; alpha bounds enforced") {
    import spark.implicits._
    import java.sql.Timestamp
    def ts(sec: Int) = Timestamp.valueOf(f"2024-01-01 00:00:$sec%02d")
    val ev = Seq(
      // user 1 in SCRAMBLED input order; event-time order is 10, 20, 30
      (1L, 3L, ts(30), 3.0), (1L, 1L, ts(10), 5.0), (1L, 2L, ts(20), 2.0),
      (7L, 9L, ts(5), 42.0) // singleton
    ).toDF("user_id", "event_id", "ts", "value")
    val got = Relational.ewma(ev, alpha = 0.2).orderBy("user_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    // fold: 5.0 → 0.8*5.0+0.2*2.0 = 4.4 → 0.8*4.4+0.2*3.0 = 4.12
    assert(got.toSeq == Seq((1L, 3L, 4.12), (7L, 1L, 42.0)), s"got ${got.toSeq}")
    intercept[IllegalArgumentException] { Relational.ewma(ev, alpha = 0.0) }
    intercept[IllegalArgumentException] { Relational.ewma(ev, alpha = 1.5) }
  }

  test("oovRate: tokens outside the top-k vocabulary count as OOV occurrences") {
    import spark.implicits._
    // corpus counts: the=4, cat=3, dog=2, runs=1, fast=1 → top-2 vocab {cat, the}
    val docs = Seq(
      (1L, "the cat the cat"),          // all in vocab → 0/4
      (2L, "the dog runs"),             // dog, runs OOV → 2/3
      (3L, "dog fast cat the")          // dog, fast OOV → 2/4
    ).toDF("doc_id", "text")
    val got = TextOps.oovRate(docs, vocabK = 2).orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    assert(got.toSeq == Seq(
      (1L, 4L, 0L, 0.0),
      (2L, 3L, 2L, 2.0 / 3.0),
      (3L, 4L, 2L, 0.5)), s"got ${got.toSeq}")
  }

  test("passageDups: cross-doc shared chunks surface; within-doc repeats and uniques don't") {
    import spark.implicits._
    val shared = (1 to 8).map(i => s"s$i").mkString(" ") // one aligned 8-word chunk
    val docs = Seq(
      (1L, shared + " tail one"),
      (2L, shared + " other words here"),       // same first chunk as doc 1
      (3L, "unique text that nobody else has"), // no dup
      (4L, "x y z " + shared + " pad1 pad2 pad3 pad4 pad5") // chunk grid offset by 3
    ).toDF("k", "body")
    val out = Dedup.passageDups(docs, idCol = "k", textCol = "body", w = 8)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(out.length == 1, s"got ${out.toSeq}")
    assert(out(0)._2 == 2L && out(0)._4 == 1L) // docs 1+2; doc 4's copy is offset
    // within-doc repetition alone never flags
    val rep = Seq((9L, (shared + " " + shared))).toDF("k", "body")
    assert(Dedup.passageDups(rep, "k", "body", w = 8).count() == 0)
  }

  test("triangleCounts: hand graph — K4 gives 3 each; dirty edges (dups/reversed/loops) collapse") {
    import spark.implicits._
    val edges = Seq(
      // two triangles sharing vertex 3
      (1L, 2L), (2L, 3L), (1L, 3L),
      (3L, 4L), (4L, 5L), (3L, 5L),
      // K4 on 10..13: C(4,3) = 4 triangles, each vertex in 3
      (10L, 11L), (10L, 12L), (10L, 13L), (11L, 12L), (11L, 13L), (12L, 13L),
      // noise the canonicalization must absorb
      (2L, 1L),   // reversed duplicate
      (1L, 2L),   // exact duplicate
      (7L, 7L),   // self-loop
      (5L, 6L)    // dangling edge, no triangle
    ).toDF("x", "y")
    val got = Relational.triangleCounts(edges, "x", "y")
      .orderBy("part").collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(got.toSeq == Seq(
      1L -> 1L, 2L -> 1L, 3L -> 2L, 4L -> 1L, 5L -> 1L,
      10L -> 3L, 11L -> 3L, 12L -> 3L, 13L -> 3L), s"got ${got.toSeq}")
  }

  test("pagerankStep: path graph — exact grid sums and the IEEE rank formula") {
    import spark.implicits._
    // path 1—2—3: deg(1)=deg(3)=1, deg(2)=2, N=3
    val edges = Seq((1L, 2L), (2L, 3L)).toDF("a", "b")
    val got = Relational.pagerankStep(edges)
      .orderBy("v").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    def rank(s: Long) = 0.15 / 3 + 0.85 * ((s.toDouble / 1e12) / 3)
    val ends = 500000000000L  // 2 halves its mass: round(1e12/2)
    val mid = 2000000000000L  // both endpoints send their whole mass
    assert(got.toSeq == Seq(
      (1L, ends, rank(ends)), (2L, mid, rank(mid)), (3L, ends, rank(ends))),
      s"got ${got.toSeq}")
    // mass conservation on the grid: total inbound = N × 1e12 exactly
    assert(got.map(_._2).sum == 3L * 1000000000000L)
  }

  test("linkJaccard: K4 plus pendant — overlap scores match hand-computed neighborhoods") {
    import spark.implicits._
    // K4 on 1..4 with a pendant vertex 5 hanging off 1: every K4 edge
    // has 2 common neighbors; deg(1)=4, deg(2..4)=3, deg(5)=1; the
    // pendant edge (1,5) is in no triangle and must be ABSENT
    val edges = Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L),
      (3L, 4L), (1L, 5L)).toDF("x", "y")
    val oriented = Relational.orientEdges(
      Relational.canonicalEdges(edges, "x", "y"))
    val got = Relational.linkJaccard(oriented)
      .orderBy("a", "b").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    def j(c: Long, da: Long, db: Long) = c.toDouble / (da + db - c)
    assert(got.toSeq == Seq(
      (1L, 2L, 2L, j(2, 4, 3)), (1L, 3L, 2L, j(2, 4, 3)),
      (1L, 4L, 2L, j(2, 4, 3)), (2L, 3L, 2L, j(2, 3, 3)),
      (2L, 4L, 2L, j(2, 3, 3)), (3L, 4L, 2L, j(2, 3, 3))),
      s"got ${got.toSeq}")
  }

  test("minLabelPropagate: path graph — labels spread exactly one hop per round") {
    import spark.implicits._
    // path 1—2—3—4—5: after k rounds, label(v) = min id within k hops
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L)).toDF("a", "b")
    def labels(k: Int) = Relational.minLabelPropagate(edges, k)
      .orderBy("v").collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(labels(1) == Seq(1L -> 1L, 2L -> 1L, 3L -> 2L, 4L -> 3L, 5L -> 4L))
    assert(labels(3) == Seq(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L, 5L -> 2L))
    assert(labels(4) == Seq(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L, 5L -> 1L),
      "k = diameter must converge to the component min")
  }

  test("weightedPagerankStep: weighted path — mass splits by weight on the exact grid") {
    import spark.implicits._
    // path 1—2—3 with w(1,2)=3, w(2,3)=1: vertex 2 sends 3/4 of its
    // mass to 1 and 1/4 to 3; the ends send everything to 2
    val edges = Seq((1L, 2L, 3L), (2L, 3L, 1L)).toDF("a", "b", "w")
    val got = Relational.weightedPagerankStep(edges, "a", "b", "w")
      .orderBy("v").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    def rank(s: Long) = 0.15 / 3 + 0.85 * ((s.toDouble / 1e12) / 3)
    val s1 = 750000000000L   // round(1e12·3/4)
    val s2 = 2000000000000L  // 1e12·3/3 + 1e12·1/1
    val s3 = 250000000000L   // round(1e12·1/4)
    assert(got.toSeq == Seq(
      (1L, s1, rank(s1)), (2L, s2, rank(s2)), (3L, s3, rank(s3))),
      s"got ${got.toSeq}")
    // grid mass conservation: every vertex's outbound fractions sum to 1e12
    assert(got.map(_._2).sum == 3L * 1000000000000L)
  }

  test("pagerankIterate: path graph — symmetry, ordering, mass conservation across k") {
    import spark.implicits._
    // path 1—2—3: the ends are symmetric, the middle dominates, and
    // total rank stays ~1 at every depth (grid error ≤ |E|·5e-13/iter)
    val edges = Seq((1L, 2L), (2L, 3L)).toDF("a", "b")
    for (k <- Seq(1, 3)) {
      val r = Relational.pagerankIterate(edges, k)
        .orderBy("v").collect().map(x => (x.getLong(0), x.getDouble(1))).toSeq
      assert(r.map(_._1) == Seq(1L, 2L, 3L))
      assert(r(0)._2 == r(2)._2, s"k=$k: path ends must tie: $r")
      assert(r(1)._2 > r(0)._2, s"k=$k: middle must outrank ends: $r")
      assert(math.abs(r.map(_._2).sum - 1.0) < 1e-9, s"k=$k: mass drifted: $r")
    }
    // k=1 closed form: r1(end) = 0.15/3 + 0.85·(r0(2)/2) with r0 = 1/3
    // snapped to the 1e12 grid
    val k1 = Relational.pagerankIterate(edges, 1)
      .orderBy("v").collect().map(_.getDouble(1))
    val endIn = math.round(1.0 / 3 * 1e12 / 2)   // half the middle's mass
    val midIn = 2 * math.round(1.0 / 3 * 1e12)   // both ends' full mass
    assert(k1(0) == 0.15 / 3 + 0.85 * (endIn.toDouble / 1e12))
    assert(k1(1) == 0.15 / 3 + 0.85 * (midIn.toDouble / 1e12))
  }

  test("prepared graph loop: q74/q75/q77 registered paths match the generic operators row for row") {
    val dir = sf("sf0.001")
    val g = Relational.orientedCooccurGraph(spark, dir)
    // loop context invariants: clamped width, bidirectional row count
    assert(g.loop.parts >= 1 && g.loop.bi.count() == 2 * g.ne)
    assert(g.loop.deg.count() == g.nv && g.loop.selfLoops.count() == g.nv)

    // q74: prepared loop vs generic lazy plan — rank is a fixed IEEE fn
    // of exact grid ints, so equality is exact, not approximate
    val prGen = Relational.pagerankIterate(g.oriented, 3, "src", "dst")
    val prLoop = Relational.pagerankIterateLoop(g.loop, 3)
    assert(prLoop.count() == g.nv)
    assert(prGen.join(prLoop.withColumnRenamed("rank", "r2"), Seq("v"))
      .filter(col("rank") =!= col("r2")).count() == 0)

    // q72: single prepared step vs generic
    val stGen = Relational.pagerankStep(g.oriented, "src", "dst")
    val stLoop = Relational.pagerankStepLoop(g.loop)
    assert(stLoop.count() == g.nv)
    assert(stGen.join(stLoop.select(col("v"), col("s").as("s2"),
        col("rank").as("r2")), Seq("v"))
      .filter(col("s") =!= col("s2") || col("rank") =!= col("r2"))
      .count() == 0)

    // q77: integer labels, exact
    val mlGen = Relational.minLabelPropagate(g.oriented, 3, "src", "dst")
    val mlLoop = Relational.minLabelPropagateLoop(g.loop, 3)
    assert(mlLoop.count() == g.nv)
    assert(mlGen.join(mlLoop.withColumnRenamed("label", "l2"), Seq("v"))
      .filter(col("label") =!= col("l2")).count() == 0)

    // q75: the artifact's weighted tables vs in-plan derivation
    val wGen = Relational.weightedPagerankStep(g.pairs, "p1", "p2", "n_orders")
    val wLoop = Relational.weightedPagerankStepLoop(g)
    assert(wLoop.count() == g.nv)
    assert(wGen.join(wLoop.select(col("v"), col("s").as("s2"),
        col("rank").as("r2")), Seq("v"))
      .filter(col("s") =!= col("s2") || col("rank") =!= col("r2"))
      .count() == 0)
  }

  test("buildGraphLoop: public loop builder matches generic operators on a hand-built graph") {
    import spark.implicits._
    // two components: path 1—2—3—4 and pair 10—11, with a duplicate
    // and a reversed edge the canonicalization must collapse
    val edges = Seq((1L, 2L), (2L, 1L), (2L, 3L), (3L, 4L), (10L, 11L), (10L, 11L))
      .toDF("a", "b")
    val loop = Relational.buildGraphLoop(edges)
    try {
      assert(loop.nv == 6 && loop.bi.count() == 8) // 4 canonical edges
      assert(loop.parts == 1, "tiny graph must clamp to one partition")
      val canon = Relational.canonicalEdges(edges)
      val prGen = Relational.pagerankIterate(canon, 3)
        .orderBy("v").collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
      val prLoop = Relational.pagerankIterateLoop(loop, 3)
        .orderBy("v").collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
      assert(prGen == prLoop, s"$prGen vs $prLoop")
      val mlLoop = Relational.minLabelPropagateLoop(loop, 3)
        .orderBy("v").collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
      // k=3 ≥ both diameters → component minima
      assert(mlLoop == Seq(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
        10L -> 10L, 11L -> 10L), s"got $mlLoop")
    } finally Relational.releaseGraphLoop(loop)
  }

  test("buildGraphLoop: the giant-graph u-layout (vMode off) matches the v-layout bit for bit") {
    import spark.implicits._
    // fixture |V| can never cross the vMode flip (≈5M vertices), so
    // force the u-partitioned/no-hint branch via the internal bound
    // override and prove both layouts agree on a graph with real
    // structure (two components, a hub, a cycle)
    val edges = (Seq((1L, 2L), (2L, 3L), (3L, 1L), (3L, 4L), (4L, 5L)) ++
      (20L to 28L).map(v => (10L, v))).toDF("a", "b")
    val vLoop = Relational.buildGraphLoop(edges)
    val uLoop = Relational.buildGraphLoop(edges, "a", "b", vertexBroadcastMaxBytes = 0L)
    try {
      assert(vLoop.vMode && !uLoop.vMode, "override must flip the layout")
      assert(uLoop.bi.count() == vLoop.bi.count() &&
        uLoop.selfLoops.count() == vLoop.nv)
      def pr(l: Relational.GraphLoop) = Relational.pagerankIterateLoop(l, 3)
        .orderBy("v").collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
      def st(l: Relational.GraphLoop) = Relational.pagerankStepLoop(l)
        .orderBy("v").collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
      def ml(l: Relational.GraphLoop) = Relational.minLabelPropagateLoop(l, 3)
        .orderBy("v").collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
      assert(pr(uLoop) == pr(vLoop))
      assert(st(uLoop) == st(vLoop))
      assert(ml(uLoop) == ml(vLoop))
    } finally {
      Relational.releaseGraphLoop(vLoop)
      Relational.releaseGraphLoop(uLoop)
    }
  }

  test("exactPercentileSelect sizes its hints by key cardinality: no broadcast above the bound") {
    import spark.implicits._
    // 50k distinct keys, 4 values each — values hand-computable per
    // key: v ∈ {k, k+10, k+20, k+30} → p50 = k+15 (lerp between the
    // 2nd/3rd order stats), p90 = k+27 (pos 2.7 → 10+0.7·10).
    val df = spark.range(0, 50000).select(col("id").as("g"))
      .crossJoin(spark.range(0, 4).select((col("id") * 10).as("o")))
      .select(col("g"), (col("g") + col("o")).cast("double").as("v"))
    def hints(d: org.apache.spark.sql.DataFrame): Int =
      "ResolvedHint".r.findAllIn(
        d.queryExecution.optimizedPlan.toString // pre-AQE: hints survive
      ).size
    // LOW cardinality (declared): hints present — the q55 fast shape
    val lo = Relational.exactPercentileSelect(
      df.filter(col("g") < 3), "g",
      Seq("v" -> Seq("p50" -> 0.5, "p90" -> 0.9)), keyCount = Some(3L))
    // analyzed (not optimized) plan keeps UnresolvedHint/ResolvedHint
    assert(lo.queryExecution.analyzed.toString.contains("Hint"),
      "low-cardinality path lost its broadcast hints")
    // HIGH cardinality (declared above the 4M-row side-table bound):
    // NO broadcast hints — the joins stay key-partitioned, driver-safe
    val hi = Relational.exactPercentileSelect(df, "g",
      Seq("v" -> Seq("p50" -> 0.5, "p90" -> 0.9)),
      keyCount = Some(5L * 1000 * 1000))
    assert(!hi.queryExecution.analyzed.toString.contains("Hint"),
      "high-cardinality path still hints a |keys|-row broadcast")
    // and the unhinted path is still EXACT (spot-check 3 keys + count)
    val got = hi.filter(col("g").isin(0L, 777L, 49999L))
      .orderBy("g").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getDouble(3)))
    assert(got.toSeq == Seq(
      (0L, 4L, 15.0, 27.0), (777L, 4L, 792.0, 804.0),
      (49999L, 4L, 50014.0, 50026.0)), s"got ${got.toSeq}")
    assert(hi.count() == 50000L)
    // undeclared cardinality: the sizing pass counts the groups itself
    // and still lands on the safe shape at 50k·6 ≤ 4M → hinted
    val auto = Relational.exactPercentileSelect(df, "g",
      Seq("v" -> Seq("p50" -> 0.5)))
    assert(auto.queryExecution.analyzed.toString.contains("Hint"))
  }

  test("degreeHistogram: star graph — hub and leaves land in integer log2 buckets") {
    import spark.implicits._
    val star = (2L to 6L).map(v => (1L, v)).toDF("a", "b")
    val got = Relational.degreeHistogram(star)
      .orderBy("bucket").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    // leaves: deg 1 → bucket 0; hub: deg 5 → floor(log2 5) = 2
    assert(got.toSeq == Seq((0L, 5L, 1L, 1L), (2L, 1L, 5L, 5L)),
      s"got ${got.toSeq}")
  }
}
