package graft.operators

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.{SparkEntry, SparkSuite, Tables}

/** Accuracy bounds for the sketch aggregates (no oracle possible — HLL
  * and percentile sketches differ across engines) and source/sink
  * round-trips for the file formats the engine reads and writes.
  */
class SketchAndFormatSpec extends SparkSuite {

  private val dir = sf("sf0.001")

  test("approx_count_distinct within 10% of exact; percentiles bracket the true median") {
    val approx = Relational.sketchAggs(Tables.lineitem(spark, dir)).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getDouble(2), r.getDouble(3))).toMap
    val exact = Tables.lineitem(spark, dir)
      .groupBy("l_returnflag")
      .agg(countDistinct("l_partkey").as("nd"),
        expr("percentile(l_extendedprice, 0.5)").as("p50"))
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getDouble(2))).toMap
    exact.foreach { case (flag, (nd, p50)) =>
      val (acd, ap50, ap99) = approx(flag)
      assert(math.abs(acd - nd).toDouble / nd < 0.10, s"$flag HLL off: $acd vs $nd")
      assert(math.abs(ap50 - p50) / p50 < 0.10, s"$flag p50 off: $ap50 vs $p50")
      assert(ap99 > ap50, s"$flag p99 <= p50")
    }
    // the REGISTERED (oracled) form certifies the same bounds as flags
    val certified = SparkEntry.queries("q27_sketches")(spark, dir).collect()
    assert(certified.nonEmpty)
    certified.foreach { r =>
      assert(r.getBoolean(2) && r.getBoolean(3) && r.getBoolean(4),
        s"q27 certification flag false: $r")
    }
  }

  test("q37 HLL sketches: estimates within 5% and union-of-sketches == sketch-of-union") {
    // raw estimates: per-nation sketches merged per region vs exact
    val c = Tables.customer(spark, dir)
    val n = Tables.nation(spark, dir)
    val cn = c.join(n, c("c_nationkey") === n("n_nationkey"))
    val merged = cn.groupBy("n_regionkey", "n_nationkey")
      .agg(expr("hll_sketch_agg(c_custkey)").as("sk"))
      .groupBy("n_regionkey")
      .agg(expr("hll_sketch_estimate(hll_union_agg(sk))").as("est"))
      .collect().map(r => r.get(0) -> r.getLong(1)).toMap
    val exact = cn.groupBy("n_regionkey")
      .agg(countDistinct("c_custkey").as("nd"))
      .collect().map(r => r.get(0) -> r.getLong(1)).toMap
    assert(merged.nonEmpty && merged.keySet == exact.keySet)
    exact.foreach { case (region, nd) =>
      assert(math.abs(merged(region) - nd).toDouble / nd < 0.05,
        s"region $region: HLL estimate ${merged(region)} vs exact $nd")
    }
    // merge algebra: merging per-nation sketches must equal sketching
    // the region's customers directly (HLL union is exact over sketches)
    val direct = cn.groupBy("n_regionkey")
      .agg(expr("hll_sketch_estimate(hll_sketch_agg(c_custkey))").as("direct_est"))
      .collect().map(r => r.get(0) -> r.getLong(1)).toMap
    merged.foreach { case (region, est) =>
      assert(direct(region) == est,
        s"region $region: merged estimate != direct sketch estimate")
    }
    // the REGISTERED (oracled) form certifies both properties as flags
    val certified = SparkEntry.queries("q37_hll_union")(spark, dir).collect()
    assert(certified.nonEmpty)
    certified.foreach { r =>
      assert(r.getBoolean(2) && r.getBoolean(3),
        s"q37 certification flag false: $r")
    }
  }

  test("q65 sketch-form sliding distinct within 2% of exact q64, same day set") {
    val exact = SparkEntry.queries("q64_sliding_distinct")(spark, dir)
      .collect().map(r => r.getDate(0).toString -> r.getLong(1)).toMap
    val approx = Relational.slidingDistinctApprox(
        Tables.events(spark, dir)
          .groupBy(org.apache.spark.sql.functions.to_date(col("ts")).as("day"))
          .agg(expr("hll_sketch_agg(user_id, 12)").as("sk")), windowDays = 7)
      .collect().map(r => r.getDate(0).toString -> r.getLong(1)).toMap
    assert(approx.keySet == exact.keySet,
      s"day sets differ: ${approx.keySet} vs ${exact.keySet}")
    exact.foreach { case (day, n) =>
      assert(math.abs(approx(day) - n) / n.toDouble < 0.02,
        s"$day: hll ${approx(day)} vs exact $n")
    }
    // the REGISTERED (oracled) form certifies the (looser, 5%) bound
    // as a per-day flag on the same day set
    val certified = SparkEntry.queries("q65_sliding_distinct_hll")(spark, dir)
      .collect()
    assert(certified.map(_.getDate(0).toString).toSet == exact.keySet)
    certified.foreach(r => assert(r.getBoolean(2),
      s"q65 certification flag false: $r"))
  }

  test("q38 histogram percentiles within one bucket width of the exact percentiles") {
    val rows = SparkEntry.queries("q38_percentile_hist")(spark, dir).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getDouble(2), r.getDouble(3))).toMap
    assert(rows.nonEmpty)
    val stats = Tables.lineitem(spark, dir)
      .agg(min("l_extendedprice"), max("l_extendedprice")).head
    val bucketWidth = (stats.getDouble(1) - stats.getDouble(0)) / 1024.0
    // exact rank statistics (type-1 quantile: smallest value whose CDF
    // reaches q — the convention the histogram's cum ≥ q·total mirrors)
    val exact = Tables.lineitem(spark, dir)
      .groupBy("l_returnflag")
      .agg(count(lit(1)).as("n"),
        expr("element_at(sort_array(collect_list(l_extendedprice)), " +
          "CAST(ceil(0.5 * count(1)) AS INT))").as("v50"),
        expr("element_at(sort_array(collect_list(l_extendedprice)), " +
          "CAST(ceil(0.9 * count(1)) AS INT))").as("v90"))
      .collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getDouble(2), r.getDouble(3))).toMap
    exact.foreach { case (flag, (n, v50, v90)) =>
      val (gn, g50, g90) = rows(flag)
      assert(gn == n, s"$flag: count mismatch")
      // the reported estimate is a bucket's LOWER edge, and the true
      // rank statistic must lie inside that bucket: error < one width
      assert(v50 >= g50 - 1e-6 && v50 < g50 + bucketWidth + 1e-6,
        s"$flag: p50 bucket edge $g50 does not contain rank stat $v50 (width $bucketWidth)")
      assert(v90 >= g90 - 1e-6 && v90 < g90 + bucketWidth + 1e-6,
        s"$flag: p90 bucket edge $g90 does not contain rank stat $v90 (width $bucketWidth)")
    }
  }

  test("q55 rank-interpolated percentiles equal q31's exact aggregate percentiles") {
    // q31 and q55 both run exactPercentileSelect, so comparing them to
    // each other checks nothing. Each is compared instead with Spark's
    // built-in exact `percentile` aggregate, an independent algorithm
    // (it collects and sorts each group's values). The queries round
    // to 4 dp, so they agree within one unit of that rounding.
    val exact = Tables.lineitem(spark, dir).groupBy("l_returnflag")
      .agg(expr("percentile(l_extendedprice, 0.5)"),
        expr("percentile(l_extendedprice, 0.9)"))
      .collect().map(r => r.getString(0) -> (r.getDouble(1), r.getDouble(2))).toMap
    assert(exact.nonEmpty)
    for (q <- Seq("q31_percentiles", "q55_percentile_rank")) {
      val got = SparkEntry.queries(q)(spark, dir)
        .select("l_returnflag", "p50", "p90").collect()
        .map(r => r.getString(0) -> (r.getDouble(1), r.getDouble(2))).toMap
      assert(got.keySet == exact.keySet, s"$q groups: ${got.keySet}")
      got.foreach { case (flag, (p50, p90)) =>
        val (e50, e90) = exact(flag)
        assert(math.abs(p50 - e50) <= 1e-4 && math.abs(p90 - e90) <= 1e-4,
          s"$q $flag: p50/p90 ($p50, $p90) vs exact ($e50, $e90)")
      }
    }
  }

  test("exactPercentileSelect == rank-window form on adversarial groups") {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.expressions.Window
    import spark.implicits._
    // Edge cases the fixture can't produce: a constant-valued key, a
    // single-row key, a two-row key (pure interpolation), heavy
    // duplicate concentration (most mass in ONE bucket), a spread
    // key, and a key holding a NaN (its max and bucket width are NaN;
    // both forms order NaN last) — with buckets=8 so multiple ranks
    // land in one bucket and bucket boundaries actually bite.
    val rows =
      Seq.fill(500)(("const", 42.5)) ++
      Seq(("one", 7.0)) ++
      Seq(("two", 1.0), ("two", 2.0)) ++
      (1 to 400).map(i => ("heavy", if (i <= 380) 5.0 else i.toDouble)) ++
      (1 to 997).map(i => ("spread", (i * 37 % 1009).toDouble)) ++
      Seq(("nan", 1.0), ("nan", 2.0), ("nan", Double.NaN), ("nan", 4.0))
    val df = rows.toDF("k", "v")
    val ps = Seq("p50" -> 0.5, "p90" -> 0.9, "p99" -> 0.99)

    val sel = graft.operators.Relational
      .exactPercentileSelect(df, "k", Seq("v" -> ps), buckets = 8)
      .orderBy("k").collect().map(_.toSeq)

    // the pre-r13 rank-window reference, inline
    val ranked = df.select(col("k"), col("v"))
      .withColumn("rn", row_number().over(
        Window.partitionBy("k").orderBy("v")).cast("long") - 1)
      .withColumn("n", count(lit(1)).over(Window.partitionBy("k")))
    val aggCols = ps.flatMap { case (nm, p) =>
      val pos = lit(p) * (col("n") - 1)
      Seq(min(when(col("rn") === floor(pos), col("v"))).as(s"__lo_$nm"),
        min(when(col("rn") === ceil(pos), col("v"))).as(s"__hi_$nm"))
    }
    val g = ranked.groupBy("k").agg(max("n").as("n"), aggCols: _*)
    val selCols = col("k") +: col("n") +: ps.map { case (nm, p) =>
      val pos = lit(p) * (col("n") - 1)
      val frac = pos - floor(pos)
      round(col(s"__lo_$nm") + frac * (col(s"__hi_$nm") - col(s"__lo_$nm")), 4)
        .as(nm)
    }
    val ref = g.select(selCols: _*).orderBy("k").collect().map(_.toSeq)

    // NaN-aware: boxed NaN == NaN is false, so compare a NaN marker
    def nanSafe(rows: Array[Seq[Any]]): Seq[Seq[Any]] =
      rows.toSeq.map(_.map { case d: Double if d.isNaN => "NaN"; case x => x })
    assert(ref.nonEmpty && nanSafe(sel) == nanSafe(ref),
      s"selection != window form:\nsel=${sel.toSeq}\nref=${ref.toSeq}")
  }

  test("exactPercentileSelect == percentile-buffer aggregate on adversarial groups") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    // The r17 q31 re-plan: the stacked multi-column selection must
    // reproduce, after the shared round-4, exactly what the sort-based
    // `percentile` buffer it replaced computed — per column, per key,
    // including the edge shapes (constant key, single-row key, pure
    // interpolation, heavy one-bucket concentration) and a SECOND
    // column with a different distribution and different requested ps.
    val rows =
      Seq.fill(500)(("const", 42.5, 1.0)) ++
      Seq(("one", 7.0, 3.5)) ++
      Seq(("two", 1.0, 10.0), ("two", 2.0, 20.0)) ++
      (1 to 400).map(i =>
        ("heavy", if (i <= 380) 5.0 else i.toDouble, (i % 7).toDouble)) ++
      (1 to 997).map(i =>
        ("spread", (i * 37 % 1009).toDouble, (i * 53 % 89).toDouble))
    val df = rows.toDF("k", "v1", "v2")
    val sel = graft.operators.Relational.exactPercentileSelect(
        df, "k",
        Seq("v1" -> Seq("a50" -> 0.5, "a90" -> 0.9),
          "v2" -> Seq("b25" -> 0.25, "b99" -> 0.99)),
        buckets = 8)
      .orderBy("k").collect().map(_.toSeq)
    val ref = df.groupBy("k").agg(
        count(lit(1)).as("n"),
        round(percentile(col("v1"), lit(0.5)), 4).as("a50"),
        round(percentile(col("v1"), lit(0.9)), 4).as("a90"),
        round(percentile(col("v2"), lit(0.25)), 4).as("b25"),
        round(percentile(col("v2"), lit(0.99)), 4).as("b99"))
      .orderBy("k").collect().map(_.toSeq)
    assert(ref.nonEmpty && sel.toSeq == ref.toSeq,
      s"multi selection != percentile buffer:\nsel=${sel.toSeq}\nref=${ref.toSeq}")
  }

  test("q50 CMS: never undercounts, and merge-of-partials == sketch-of-whole") {
    import org.apache.spark.sql.functions._
    val dir = sf("sf0.001")
    val toks = graft.Tables.documents(spark, dir)
      .select(explode(split(trim(lower(col("text"))), "\\s+")).as("tok"))
      .filter(col("tok") =!= "")
    val exact = toks.groupBy("tok").agg(count(lit(1)).as("exact"))
    // CMS guarantee on EVERY key, not just the registered top-20
    val est = Sketch.cmsEstimate(Sketch.cmsBuild(toks, "tok"), toks, "tok")
    val joined = est.join(exact, col("key") === col("tok")).collect()
    assert(joined.nonEmpty)
    joined.foreach { r =>
      assert(r.getAs[Long]("est") >= r.getAs[Long]("exact"),
        s"CMS undercounted ${r.getAs[String]("key")}")
    }
    // merge algebra: per-half partial sketches summed == whole sketch
    val halves = Seq(toks.filter(crc32(col("tok")) % 2 === 0),
      toks.filter(crc32(col("tok")) % 2 === 1))
    val merged = Sketch.cmsMerge(halves.map(Sketch.cmsBuild(_, "tok")): _*)
      .orderBy("row", "bucket").collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2)))
    val whole = Sketch.cmsBuild(toks, "tok")
      .orderBy("row", "bucket").collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2)))
    assert(merged.toSeq == whole.toSeq, "CMS merge is not the sketch of the union")
  }

  test("KMV: union property, sub-k exactness, and estimator accuracy") {
    import spark.implicits._
    // 40k distinct keys in one group (>> k = 256), 100 in another
    val items = spark.range(40000).select(lit("big").as("g"),
        concat(lit("key_"), col("id")).as("x"))
      .unionAll(spark.range(100).select(lit("small").as("g"),
        concat(lit("key_"), col("id")).as("x")))
    val est = Sketch.kmvEstimate(Sketch.kmvSketch(items, Seq("g"), "x"))
      .collect().map(r => r.getString(0) -> r.getAs[Long]("est")).toMap
    // below k distinct → the estimate IS the exact count
    assert(est("small") == 100L, s"sub-k group not exact: ${est("small")}")
    // k = 256 → σ ≈ 6%; 4σ bound keeps the test deterministic-ish
    assert(math.abs(est("big") - 40000L) < 40000L * 0.25,
      s"KMV estimate off: ${est("big")} vs 40000")
    // union property: merging per-half sketches == sketching the union
    val halves = Seq(items.filter(crc32(col("x")) % 2 === 0),
      items.filter(crc32(col("x")) % 2 === 1))
    val merged = Sketch.kmvMerge(
        halves.map(h => Sketch.kmvSketch(h, Seq("g"), "x"))
          .reduce(_ unionByName _), Seq("g"))
      .collect().map(r => r.getString(0) -> r.getSeq[Long](1)).toMap
    val whole = Sketch.kmvSketch(items, Seq("g"), "x")
      .collect().map(r => r.getString(0) -> r.getSeq[Long](1)).toMap
    assert(merged == whole, "KMV merge is not the sketch of the union")
  }

  test("distributionHist: one-row groups get pr_est 0.0 (never a 0/0 NaN)") {
    import spark.implicits._
    // group "B" has a single order — the raw cum_lt/(n-1) ratio is 0/0
    val o = Seq(
      (1L, "A", 10.0), (2L, "A", 20.0), (3L, "A", 30.0),
      (4L, "B", 15.0)
    ).toDF("o_orderkey", "o_orderpriority", "o_totalprice")
    val out = Relational.distributionHist(o, nb = 8)
      .orderBy("o_orderkey").collect()
      .map(r => (r.getLong(0), r.getInt(2), r.getDouble(3), r.getDouble(4)))
    assert(out.forall(r => !r._3.isNaN && !r._4.isNaN), s"NaN estimate: ${out.toSeq}")
    val singleton = out.find(_._1 == 4L).get
    assert(singleton._3 == 0.0, s"singleton pr_est should be 0.0: $singleton")
    assert(singleton._4 == 1.0) // cume_dist of the only row
    assert(singleton._2 == 1)   // first quartile
    // the multi-row group still estimates a real distribution
    assert(out.find(_._1 == 1L).get._3 == 0.0) // min of A
    assert(out.find(_._1 == 3L).get._3 == 1.0) // max of A: cum_lt/(n-1) = 2/2
  }

  test("csv/json/orc sinks round-trip the data (engine source+sink surface)") {
    val base = Tables.orders(spark, dir)
      .select("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice")
      .orderBy("o_orderkey")
    val expected = base.collect().toSeq
    val tmp = Files.createTempDirectory("fmt").toString
    // csv (header + explicit schema on read)
    base.write.mode("overwrite").option("header", "true").csv(s"$tmp/csv")
    val csv = spark.read.option("header", "true")
      .schema(base.schema).csv(s"$tmp/csv").orderBy("o_orderkey")
    assert(csv.collect().toSeq == expected, "csv round-trip mismatch")
    // json
    base.write.mode("overwrite").json(s"$tmp/json")
    val json = spark.read.schema(base.schema).json(s"$tmp/json").orderBy("o_orderkey")
    assert(json.collect().toSeq == expected, "json round-trip mismatch")
    // orc
    base.write.mode("overwrite").orc(s"$tmp/orc")
    val orc = spark.read.orc(s"$tmp/orc").orderBy("o_orderkey")
    assert(orc.collect().toSeq == expected, "orc round-trip mismatch")
    // partitioned parquet write prunes on read
    base.withColumn("bucket", (col("o_orderkey") % 4).cast("int"))
      .write.mode("overwrite").partitionBy("bucket").parquet(s"$tmp/part")
    val pruned = spark.read.parquet(s"$tmp/part").filter(col("bucket") === 1)
    val plan = pruned.queryExecution.executedPlan.toString
    assert(pruned.count() == expected.count(r => r.getLong(0) % 4 == 1))
    assert(plan.contains("PartitionFilters: [isnotnull(bucket") ||
      plan.contains("PartitionFilters: [(bucket"),
      s"partition filter missing from scan:\n$plan")
  }
}
