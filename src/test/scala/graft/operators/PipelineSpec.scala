package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkSuite

/** Training-data pipeline assembly operators (Pipeline.scala) and the
  * decontamination screen (Dedup.decontaminate): semantics on hand
  * corpora with foreign column names, plus the scale-shape invariants
  * (broadcast decontamination join, quantization bounds).
  */
class PipelineSpec extends SparkSuite {

  test("chunkOverlap: chunks tile the token stream — stride starts, full coverage, exact reconstruction") {
    import spark.implicits._
    val rnd = new scala.util.Random(41)
    val docs = (1L to 40L).map { id =>
      val n = 1 + rnd.nextInt(90) // spans 1-token through multi-chunk
      (id, (1 to n).map(i => s"w${id}_$i").mkString(" "))
    }.toDF("doc_id", "text")
    val size = 16
    val overlap = 5
    val stride = size - overlap
    val out = Pipeline.chunkOverlap(docs, size, overlap)
      .collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getInt(3), r.getString(4)))
      .groupBy(_._1).view.mapValues(_.sortBy(_._2)).toMap
    docs.collect().foreach { row =>
      val id = row.getLong(0)
      val toks = row.getString(1).trim.split("\\s+").toSeq
      val chunks = out(id)
      // expected chunk count and stride-aligned starts
      val expNc = if (toks.size <= size) 1
                  else 1 + math.ceil((toks.size - size).toDouble / stride).toInt
      assert(chunks.length == expNc, s"doc $id: ${chunks.length} vs $expNc chunks")
      chunks.zipWithIndex.foreach { case ((_, idx, start, nTok, text), i) =>
        assert(idx == i && start == i * stride)
        val exp = toks.slice(start, start + size)
        assert(nTok == exp.size && text == exp.mkString(" "),
          s"doc $id chunk $i: wrong slice")
      }
      // full coverage: the last chunk reaches the final token, and
      // dropping each chunk's first `overlap` tokens (except chunk 0)
      // reconstructs the original stream exactly
      val rebuilt = chunks.zipWithIndex.flatMap { case ((_, _, _, _, text), i) =>
        val ts = text.split(" ").toSeq
        if (i == 0) ts else ts.drop(overlap)
      }
      assert(rebuilt.toSeq == toks, s"doc $id: reconstruction mismatch")
    }
  }

  test("packSequences chunks each stratum's token stream at the budget boundary") {
    import spark.implicits._
    // strata A: docs of 6, 5, 4 tokens; budget 10 →
    //   doc 1 starts at 0 → bin 0; doc 2 starts at 6 → bin 0;
    //   doc 3 starts at 11 → bin 1.
    val docs = Seq(
      (1L, "A", "a b c d e f"),
      (2L, "A", "g h i j k"),
      (3L, "A", "l m n o"),
      (4L, "B", "p q r")
    ).toDF("sid", "stratum", "body")
    val out = Pipeline.packSequences(docs, budget = 10, strataCol = "stratum",
        idCol = "sid", textCol = "body")
      .orderBy("sid").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getInt(2), r.getLong(3), r.getLong(4)))
    assert(out.toSeq == Seq(
      (1L, "A", 6, 6L, 0L),
      (2L, "A", 5, 11L, 0L),
      (3L, "A", 4, 15L, 1L),
      (4L, "B", 3, 3L, 0L)), s"got ${out.toSeq}")
  }

  test("packSequences strata are packed independently (no cross-stratum bleed)") {
    import spark.implicits._
    val docs = (1L to 40L).map { i =>
      (i, if (i % 2 == 0) "even" else "odd", ("tok " * 7).trim)
    }.toDF("doc_id", "lang", "text")
    val out = Pipeline.packSequences(docs, budget = 21, strataCol = "lang")
    // 7 tokens/doc, budget 21 → exactly 3 docs per bin within each stratum
    val perBin = out.groupBy("lang", "bin").count().collect()
    assert(perBin.forall(r => r.getLong(2) <= 3))
    // 20 docs per stratum → bins 0..6 (6 full of 3, last of 2)
    assert(out.agg(max("bin")).head.getLong(0) == 6L)
  }

  test("sampleStratified is deterministic, respects per-stratum thresholds, and keeps dup texts together") {
    import spark.implicits._
    val docs = (1L to 400L).map { i =>
      (i, if (i % 4 == 0L) "high" else "low", s"document body number ${i % 200}")
    }.toDF("rid", "grp", "body") // ids 1..200 and 201..400 share texts pairwise
    val keep = Pipeline.sampleStratified(docs, rates = Map("high" -> 65536),
      defaultRate = 16384, strataCol = "grp", idCol = "rid", textCol = "body")
    val rows = keep.collect().map(r => (r.getLong(0), r.getString(1), r.getString(2)))
    // rate 65536 keeps EVERY "high" row (threshold 'g' > any 4-hex bucket)
    assert(rows.count(_._2 == "high") == 100)
    // thresholds honored exactly
    assert(rows.forall { case (_, g, b) => if (g == "high") true else b < "4000" })
    // determinism: second run identical
    val again = Pipeline.sampleStratified(docs, rates = Map("high" -> 65536),
      defaultRate = 16384, strataCol = "grp", idCol = "rid", textCol = "body")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2)))
    assert(rows.sortBy(_._1).toSeq == again.sortBy(_._1).toSeq)
    // content-hash property: i and i+200 share text AND stratum parity
    // only when both are "low"; where both are low, their keep decisions
    // must agree.
    val kept = rows.map(_._1).toSet
    (1L to 200L).foreach { i =>
      val j = i + 200L
      if (i % 4 != 0 && j % 4 != 0)
        assert(kept.contains(i) == kept.contains(j), s"dup split: $i vs $j")
    }
  }

  test("quantizeEmbeddings: levels bounded, extremes map to 0/255, dequant error within one step") {
    import spark.implicits._
    val vecs = Seq(
      (1L, Array(0.0f, 0.5f, 1.0f, 0.25f)),
      (2L, Array(-2.0f, 2.0f, 0.0f, 1.0f)),
      (3L, Array(7.5f, 7.5f, 7.5f, 7.5f)) // degenerate constant vector
    ).toDF("vid", "emb")
    val out = Pipeline.quantizeEmbeddings(vecs, idCol = "vid", vecCol = "emb")
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3), r.getDouble(4)))
    assert(out.forall { case (_, _, q, _, _) => q >= 0L && q <= 255L })
    val v1 = out.filter(_._1 == 1L).sortBy(_._2).map(_._3)
    assert(v1(0) == 0L && v1(2) == 255L, s"extremes: ${v1.toSeq}") // min→0, max→255
    assert(out.filter(_._1 == 3L).forall(_._3 == 0L)) // constant vector → 0
    // reconstruction: |x − (mn + q·step)| < step where step = (mx−mn)/255
    val orig = vecs.select(col("vid"), posexplode(col("emb"))).collect()
      .map(r => ((r.getLong(0), r.getInt(1)), r.getFloat(2).toDouble)).toMap
    out.filter(_._1 != 3L).foreach { case (vid, dim, q, mn, mx) =>
      val step = (mx - mn) / 255.0
      val err = math.abs(orig((vid, dim)) - (mn + q * step))
      assert(err < step + 1e-12, s"vec $vid dim $dim err $err step $step")
    }
  }

  test("splitAssign covers every row, keeps dup texts together, and honors thresholds") {
    import spark.implicits._
    val docs = (1L to 300L).map(i => (i, s"content payload ${i % 150}")).toDF("rid", "body")
    val out = Pipeline.splitAssign(docs, testRate = 3277, valRate = 3277,
        idCol = "rid", textCol = "body")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2)))
    assert(out.length == 300, "split must assign every row")
    assert(out.forall(r => Set("test", "val", "train").contains(r._3)))
    // threshold boundaries honored exactly
    out.foreach { case (_, b, s) =>
      val expect = if (b < "0ccd") "test" else if (b < "199a") "val" else "train"
      assert(s == expect, s"bucket $b assigned $s")
    }
    // content-hash property: i and i+150 share text → same split always
    val byId = out.map(r => r._1 -> r._3).toMap
    (1L to 150L).foreach(i => assert(byId(i) == byId(i + 150),
      s"dup split leak: $i vs ${i + 150}"))
  }

  test("shuffleShard: full coverage, contiguous ranks, md5-derived shards, deterministic") {
    import spark.implicits._
    val docs = (1L to 300L).map(i => (i, s"shuffled body ${i % 150}")).toDF("rid", "body")
    val out = Pipeline.shuffleShard(docs, nShards = 8, idCol = "rid", textCol = "body")
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getString(2), r.getInt(3)))
    assert(out.length == 300, "every row must be assigned")
    assert(out.forall(r => r._2 >= 0 && r._2 < 8))
    // ranks are exactly 1..n within each shard (a training order, not
    // just a sort key)
    out.groupBy(_._2).foreach { case (shard, rows) =>
      assert(rows.map(_._4).sorted.toSeq == (1 to rows.length).toSeq,
        s"shard $shard ranks not contiguous")
    }
    // shard and order derive from md5(text): recompute independently
    val mdInst = java.security.MessageDigest.getInstance("MD5")
    def md5hex(s: String): String =
      mdInst.digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    out.foreach { case (rid, shard, ord, _) =>
      val h = md5hex(s"shuffled body ${rid % 150}")
      assert(shard == java.lang.Long.parseLong(h.substring(0, 4), 16) * 8 / 65536,
        s"row $rid shard mismatch")
      assert(ord == h.substring(4, 16), s"row $rid ord mismatch")
    }
    // byte-identical duplicate texts land in the same shard at adjacent
    // positions (same (ord) key, id tie-break)
    val byText = out.groupBy(r => r._1 % 150).values
    byText.foreach { pair =>
      assert(pair.map(_._2).distinct.length == 1, "dup texts split across shards")
      assert(math.abs(pair.map(_._4).max - pair.map(_._4).min) == 1,
        "dup texts not adjacent in training order")
    }
    // determinism: second run identical
    val again = Pipeline.shuffleShard(docs, nShards = 8, idCol = "rid", textCol = "body")
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getString(2), r.getInt(3)))
    assert(out.sortBy(_._1).toSeq == again.sortBy(_._1).toSeq)
  }

  test("mixtureSample: binding stratum kept whole, thresholds honored, absent strata dropped") {
    import spark.implicits._
    // en=200 docs at weight 2, de=70 at 1, fr=50 at 1 → capacities
    // 100/70/50 → T=50 → rates en=0.5 ('8000'), de=50/70, fr=1 (all).
    val docs = ((1L to 200L).map(i => (i, "en", s"english doc $i")) ++
        (201L to 270L).map(i => (i, "de", s"german doc $i")) ++
        (271L to 320L).map(i => (i, "fr", s"french doc $i")) ++
        (321L to 340L).map(i => (i, "zh", s"chinese doc $i")))
      .toDF("rid", "grp", "body")
    val out = Pipeline.mixtureSample(docs,
        weights = Map("en" -> 2.0, "de" -> 1.0, "fr" -> 1.0),
        strataCol = "grp", idCol = "rid", textCol = "body")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2)))
    assert(!out.exists(_._2 == "zh"), "unweighted stratum must be dropped")
    assert(out.count(_._2 == "fr") == 50, "binding stratum must keep every row")
    // en threshold is exactly floor(0.5·65536) = 0x8000
    assert(out.filter(_._2 == "en").forall(_._3 < "8000"))
    val enKept = out.count(_._2 == "en")
    val deKept = out.count(_._2 == "de")
    // md5 uniformity puts binomial(200, .5) and binomial(70, 50/70)
    // far from 0 and n — loose sanity that the rates actually applied
    assert(enKept > 60 && enKept < 140, s"en kept $enKept of 200 at rate 0.5")
    assert(deKept > 30 && deKept < 70, s"de kept $deKept of 70 at rate 5/7")
    // deterministic
    val again = Pipeline.mixtureSample(docs,
        weights = Map("en" -> 2.0, "de" -> 1.0, "fr" -> 1.0),
        strataCol = "grp", idCol = "rid", textCol = "body")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2)))
    assert(out.sortBy(_._1).toSeq == again.sortBy(_._1).toSeq)
  }

  test("mixtureSample fails loudly when a weighted stratum has no corpus rows") {
    import spark.implicits._
    val docs = (1L to 60L).map(i => (i, "en", s"text $i")).toDF("rid", "grp", "body")
    val ex = intercept[Exception] {
      Pipeline.mixtureSample(docs, weights = Map("en" -> 1.0, "fr" -> 1.0),
        strataCol = "grp", idCol = "rid", textCol = "body").count()
    }
    def chain(t: Throwable): Seq[String] =
      if (t == null) Nil else t.getMessage +: chain(t.getCause)
    assert(chain(ex).exists(m => m != null && m.contains("mixtureSample")),
      s"expected the unsatisfiable-mixture error, got: ${chain(ex)}")
  }

  test("mixtureSample with an ingest-time stats table matches the derived-counts path") {
    import spark.implicits._
    val docs = ((1L to 100L).map(i => (i, "a", s"alpha $i")) ++
        (101L to 140L).map(i => (i, "b", s"beta $i"))).toDF("rid", "grp", "body")
    val weights = Map("a" -> 1.0, "b" -> 1.0)
    val derived = Pipeline.mixtureSample(docs, weights, "grp", "rid", "body")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2))).sortBy(_._1)
    val stats = Seq(("a", 100L), ("b", 40L)).toDF("grp", "n")
    val viaStats = Pipeline.mixtureSample(docs, weights, "grp", "rid", "body",
        stratumCounts = Some(stats))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2))).sortBy(_._1)
    assert(derived.nonEmpty && derived.toSeq == viaStats.toSeq,
      "stats-table path diverged from derived counts")
  }

  test("mixtureSample corpus scan pays no shuffle (thresholds broadcast back)") {
    import spark.implicits._
    val docs = (1L to 100L).map(i =>
      (i, if (i % 2 == 0) "a" else "b", s"text $i")).toDF("rid", "grp", "body")
    val plan = Pipeline.mixtureSample(docs, weights = Map("a" -> 1.0, "b" -> 1.0),
        strataCol = "grp", idCol = "rid", textCol = "body")
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"),
      s"threshold join must broadcast, not shuffle the corpus:\n$plan")
  }

  test("decontaminate flags only docs sharing an 8-gram with the benchmark, with exact counts") {
    import spark.implicits._
    val evalText = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    val bench = Seq((900L, evalText)).toDF("bid", "btext")
    val corpus = Seq(
      // contains eval 8-grams: windows 1-8 and 2-9 of evalText's first 9 tokens
      (1L, "alpha beta gamma delta epsilon zeta eta theta iota trailing words here"),
      (2L, "totally unrelated content with enough tokens to form many eight gram windows easily"),
      (3L, "prefix words then alpha beta gamma delta epsilon zeta eta theta suffix")
    ).toDF("cid", "ctext")
    val out = Dedup.decontaminate(corpus, bench, idCol = "cid", textCol = "ctext",
        benchTextCol = "btext")
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    // doc 1: 12 tokens → 5 distinct 8-grams, of which windows starting at
    // tokens 1 and 2 (alpha..theta, beta..iota) appear in the benchmark.
    // doc 3: 12 tokens → 5 windows, 1 contaminated (alpha..theta).
    assert(out.toSeq == Seq((1L, 2L, 5L), (3L, 1L, 5L)), s"got ${out.toSeq}")
  }

  test("decontaminate joins the corpus against a BROADCAST benchmark (no corpus shuffle for the probe)") {
    import spark.implicits._
    val bench = Seq((1L, "one two three four five six seven eight")).toDF("doc_id", "text")
    val corpus = (1L to 50L).map(i => (i, s"filler $i one two three four five six seven eight"))
      .toDF("doc_id", "text")
    val plan = Dedup.decontaminate(corpus, bench)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), s"expected broadcast probe join in:\n$plan")
  }

  test("profile: nulls/ndv/min-max per column in one pass; min/max keep native ordering") {
    import spark.implicits._
    val df = Seq(
      (1L, Option("a"), 10),
      (2L, Option("b"), 5),
      (3L, Option.empty[String], 10),
      (4L, Option("a"), 7)
    ).toDF("id", "tag", "v")
    def run(approx: Boolean) =
      Pipeline.profile(df, Seq("id", "tag", "v"), approxNdv = approx)
        .orderBy("col_name").collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
          r.getString(4), r.getString(5)))
    val exact = run(approx = false)
    // v's min/max are "5"/"10": string-ordering would have said min "10"
    assert(exact.toSeq == Seq(
      ("id", 4L, 0L, 4L, "1", "4"),
      ("tag", 4L, 1L, 2L, "a", "b"),
      ("v", 4L, 0L, 3L, "5", "10")), s"got ${exact.toSeq}")
    // HLL++ is exact at these cardinalities → identical rows
    assert(run(approx = true).toSeq == exact.toSeq,
      "approx-NDV path diverged on small data")
  }

  test("the six stages compose from raw corpus to packed sequences, and no stage adds rows") {
    val docs = graft.Tables.documents(spark, sf("sf0.001"))
    // each stage is persisted before its count, so a later count does
    // not re-run the earlier stages' joins and components
    val pinned = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    def pin(df: DataFrame) = { pinned += df.persist(); df }
    try {
      // 1. quality screen (p05)
      val kept = pin(docs.join(
        Pipeline.qualityFilter(docs).filter(col("keep")).select("doc_id"), "doc_id"))
      // 2. near-dup dedup (d03 pairs, d08 survivors)
      val deduped = pin(Dedup.keepRepresentatives(kept,
        Dedup.nearDupPairs(kept, "doc_id", "text").select("doc_a", "doc_b")))
      // 3. decontamination (d07) against every 10th doc as the eval suite
      val corpus = deduped.filter(col("doc_id") % 10 =!= 0)
      val contam = Dedup.decontaminate(corpus, docs.filter(col("doc_id") % 10 === 0))
        .filter(col("contamination") > 0.5).select("doc_id")
      val clean = pin(corpus.join(contam, Seq("doc_id"), "left_anti"))
      // 4. mixture sampling (p02), downweighting the dominant language
      val sampled = pin(clean.join(
        Pipeline.sampleStratified(clean, rates = Map("en" -> 49152),
          defaultRate = 65536, strataCol = "lang").select("doc_id"), "doc_id"))
      // 5. train/val/test split (p04)
      val train = pin(sampled.join(
        Pipeline.splitAssign(sampled, testRate = 3277, valRate = 3277)
          .filter(col("split") === "train").select("doc_id"), "doc_id"))
      val counts = Seq(docs, kept, deduped, clean, sampled, train).map(_.count())
      assert(counts.zip(counts.tail).forall { case (a, b) => a >= b },
        s"a stage added rows: ${counts.mkString(" -> ")}")
      assert(counts.last > 0, s"no training rows: ${counts.mkString(" -> ")}")
      // 6. per-language sequence packing (p01)
      val packs = Pipeline.packSequences(train, budget = 512, strataCol = "lang")
        .select("lang", "bin").distinct().count()
      assert(packs > 0)
    } finally pinned.foreach(_.unpersist())
  }
}
