package graft.operators

import org.apache.spark.sql.execution.FormattedMode

import graft.{SparkEntry, SparkSuite}

/** Physical-plan regression tests: at 100 TB these plan shapes are the
  * difference between a working job and a dead cluster. Failures here
  * mean a refactor silently broke pushdown/broadcast/top-k planning
  * even though results are still correct.
  */
class PlanShapeSpec extends SparkSuite {

  private val dir = sf("sf0.01")

  private def plan(name: String): String =
    SparkEntry.queries(name)(spark, dir).queryExecution
      .explainString(FormattedMode)

  test("q02: filters reach the parquet scan and columns are pruned") {
    val p = plan("q02_filter_project")
    assert(p.contains("PushedFilters:"), "no pushdown section")
    assert(p.contains("LessThan(l_quantity,24.0)"), s"quantity filter not pushed:\n$p")
    assert(p.contains("GreaterThanOrEqual(l_shipdate"), "shipdate filter not pushed")
    // only the referenced columns are read (no l_returnflag etc.)
    assert(!p.contains("l_returnflag"), "scan reads unused columns")
  }

  test("q06: small dims are broadcast, never shuffled") {
    val p = plan("q06_broadcast_join")
    assert(p.contains("BroadcastHashJoin"), s"expected broadcast join:\n$p")
    assert(!p.contains("SortMergeJoin"), "dims should not sort-merge")
  }

  test("q13: top-k plans as TakeOrderedAndProject, not a global sort") {
    val p = plan("q13_topk")
    assert(p.contains("TakeOrderedAndProject"), s"expected top-k operator:\n$p")
  }

  test("q03: join pipeline has no cartesian product") {
    val p = plan("q03_shipping_priority")
    assert(!p.contains("CartesianProduct"), s"accidental cross join:\n$p")
  }

  test("q01: aggregation is two-phase (partial before shuffle)") {
    val p = plan("q01_pricing_summary")
    // HashAggregate appears at least twice: partial + final
    assert("HashAggregate".r.findAllIn(p).size >= 2, s"no map-side partial agg:\n$p")
  }

  test("scalar subquery broadcasts the 1-row aggregate side") {
    val p = plan("q20_scalar_subquery")
    assert(p.contains("Broadcast"), s"agg side should broadcast:\n$p")
  }

  test("dedup exact is a single hash aggregate, no join") {
    val p = plan("d01_dedup_exact")
    assert(!p.contains("Join"), s"dedup should be agg-only:\n$p")
  }

  test("q29: correlated EXISTS/NOT EXISTS decorrelate to semi/anti joins") {
    val p = plan("q29_exists_subquery")
    assert(p.contains("LeftSemi"), s"EXISTS did not decorrelate to a semi join:\n$p")
    assert(p.contains("LeftAnti"), s"NOT EXISTS did not decorrelate to an anti join:\n$p")
    assert(!p.contains("CartesianProduct"), "decorrelation produced a cartesian")
  }

  test("s03: embedding near-dup is bucket-blocked — no nested-loop or cartesian join") {
    val p = plan("s03_embed_neardup")
    assert(!p.contains("BroadcastNestedLoopJoin"),
      s"s03 fell back to an all-pairs nested loop:\n$p")
    assert(!p.contains("CartesianProduct"), s"s03 plans a cartesian product:\n$p")
  }

  test("s03/s10: cross-table pair dedup is the in-row first-collision filter, not a shuffle") {
    // the r13 re-plan: each colliding pair survives in exactly one
    // bucket table via the native prefix_distinct predicate — there
    // must be NO pair-keyed distinct (HashAggregate over id pairs
    // between the bucket join and the vector fetch would be the
    // 95-second shuffle shape SCALE.md documents and rejects)
    for (q <- Seq("s03_embed_neardup", "s10_knn_join")) {
      val p = plan(q)
      assert(p.contains("prefix_distinct"),
        s"$q lost the first-collision dedup filter:\n$p")
    }
  }

  test("hot expression pipelines stay inside whole-stage codegen") {
    // scalar/text pipelines must be codegen'd — a UDF or non-codegen
    // expression sneaking in shows up as a missing span. AQE only
    // finalizes the physical plan at execution, so run through the noop
    // sink first and inspect the executed plan.
    for (q <- Seq("q02_filter_project", "q15_string_fns", "t01_text_tokens",
        "t02_text_quality", "m01_binary_meta")) {
      val df = SparkEntry.queries(q)(spark, dir)
      df.collect() // finalize the adaptive plan on THIS QueryExecution
      val p = df.queryExecution.executedPlan match {
        case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
          a.executedPlan.toString
        case other => other.toString
      }
      // codegen stages print as "*(n) Operator" in the final plan tree
      assert(p.contains("*("), s"$q lost whole-stage codegen:\n$p")
    }
  }

  test("q36: one inner join on (key, salt); hot-key flag joins are broadcasts") {
    val p = plan("q36_salted_join")
    // exactly ONE inner fact-fact join carries the salted key — a
    // regression to per-branch hot/cold unions would show two
    val inner = "Join Inner".r.findAllIn(p).size
    assert(inner == 1, s"expected exactly 1 inner join, got $inner:\n$p")
    // the hot-key flag joins must be broadcasts (the hot set is tiny
    // by definition), never shuffles of the facts
    val outer = "Join LeftOuter".r.findAllIn(p).size
    val bcastOuter = "BroadcastHashJoin LeftOuter".r.findAllIn(p).size
    assert(outer == 2 && bcastOuter == 2,
      s"hot-key flag joins not broadcast ($bcastOuter/$outer):\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"))
  }

  test("q38: histogram sketch aggregates are two-phase; no window over fact rows") {
    val p = plan("q38_percentile_hist")
    // partial+final for the bucket counts (map-side combine is what
    // makes the sketch mergeable/cheap)
    assert("HashAggregate".r.findAllIn(p).size >= 2, s"no partial agg:\n$p")
    // the only Window operators run over merged bucket rows (≤1024 per
    // group), never over the fact table: the window input must come
    // from an aggregate, which prints between the scan and the window
    val winIdx = p.indexOf("Window")
    val aggIdx = p.indexOf("HashAggregate")
    assert(winIdx > aggIdx && aggIdx >= 0, s"window runs before aggregation:\n$p")
  }

  test("q47: distribution estimates join a broadcast histogram; windows never touch facts") {
    val p = plan("q47_distribution_hist")
    // the cumulative table reaches the facts via a broadcast hash join,
    // not a shuffled sort-merge join on (priority, bucket)
    assert(p.contains("BroadcastHashJoin"), s"histogram not broadcast:\n$p")
    // every Window operator consumes aggregated histogram rows (≤5×1024),
    // never the fact table: an aggregate must print before the first window
    val winIdx = p.indexOf("Window")
    val aggIdx = p.indexOf("HashAggregate")
    assert(winIdx > aggIdx && aggIdx >= 0, s"window runs before aggregation:\n$p")
    // and the fact-side output itself needs no sort-based window at all:
    // exactly the two windows the tiny histogram needs (formatted mode
    // prints each node once in the tree and once in the detail section —
    // count the "(n) Window" detail headers)
    assert("""\(\d+\) Window""".r.findAllIn(p).size <= 2,
      s"unexpected extra windows:\n$p")
  }

  test("q49: range join is a bucketed equi-join — no nested loop over facts") {
    val p = plan("q49_range_join")
    assert(!p.contains("BroadcastNestedLoopJoin"), s"range join nested-looped:\n$p")
    assert(!p.contains("CartesianProduct"), s"range join went cartesian:\n$p")
    // the bucket ids meet in a hash equi-join (broadcast here — the
    // sampled interval side is tiny; shuffled hash at fact-fact scale)
    assert(p.contains("HashJoin"), s"no hash equi-join on the bucket id:\n$p")
  }

  test("q55: exact percentiles via bucketed selection — no buffer, no per-group fact sort") {
    val p = plan("q55_percentile_rank")
    // exact percentiles WITHOUT an aggregation buffer holding a
    // group's every value (q31's shape) AND without the pre-r13 rank
    // window's per-group sort of the whole fact relation: the heavy
    // lifting is two combinable HashAggregates (stats + bucket
    // histogram); the only Windows left run over per-key bucket rows
    // and the targeted buckets' rows
    assert(!p.toLowerCase.contains("percentile"),
      s"q55 fell back to a percentile aggregate buffer:\n$p")
    assert(p.contains("Window"), s"expected the cum/pick windows:\n$p")
    assert("HashAggregate".r.findAllIn(p).size >= 2, s"no partial agg:\n$p")
    // the per-key stats/targets attach to the fact scan as broadcasts
    assert(p.contains("BroadcastHashJoin"),
      s"stats/targets should broadcast onto the fact scan:\n$p")
  }

  test("q54: interval-overlap join is a bucketed equi-join — no nested loop") {
    val p = plan("q54_interval_overlap")
    assert(!p.contains("BroadcastNestedLoopJoin"), s"overlap join nested-looped:\n$p")
    assert(!p.contains("CartesianProduct"), s"overlap join went cartesian:\n$p")
    assert(p.contains("HashJoin"), s"no hash equi-join on the bucket id:\n$p")
  }

  test("q50: CMS build is a two-phase aggregate and the sketch reaches probes by broadcast") {
    val p = plan("q50_freq_sketch")
    // counters built with map-side partial combine (the mergeable-
    // sketch property in plan form)
    assert("HashAggregate".r.findAllIn(p).size >= 2, s"no partial agg:\n$p")
    // the d×w sketch is broadcast onto the probe keys, never shuffled
    // against them
    assert(p.contains("BroadcastHashJoin"), s"sketch not broadcast:\n$p")
    assert(!p.contains("SortMergeJoin"), s"sketch join shuffled:\n$p")
  }

  test("p02: stratified sampling is a pure scan+filter — zero exchanges") {
    val p = graft.operators.Pipeline.sampleStratified(
        graft.Tables.documents(spark, dir), rates = Map("en" -> 16384),
        defaultRate = 32768, strataCol = "lang")
      .queryExecution.explainString(FormattedMode)
    assert(!p.contains("Exchange"), s"sampling shuffled:\n$p")
    assert(p.contains("[codegen id :"), "sampling fell out of codegen")
  }

  test("q43: episode window and aggregate share one exchange on o_custkey") {
    val p = plan("q43_order_episodes")
    // lag + running-sum windows and the final group-by are all
    // partitioned by o_custkey: the sort-based window output feeds the
    // aggregate without re-shuffling (plus the gate's final order-by
    // range exchange = 2 total).
    val exchanges = "\\) Exchange".r.findAllIn(p).length
    assert(exchanges == 2,
      s"expected 2 exchanges (custkey hash + output sort range), got $exchanges:\n$p")
  }

  test("q45: stat aggregate family is one two-phase hash aggregate, no join") {
    val p = plan("q45_stat_aggs")
    // corr/covar/moments/regr are all associative partial aggregates:
    // the whole family must plan as partial + final over 3 groups with
    // nothing joined and nothing windowed.
    assert(!p.contains("Join"), s"stat agg family should be join-free:\n$p")
    assert(!p.contains("Window"), s"stat agg family should be window-free:\n$p")
    assert("HashAggregate".r.findAllIn(p).size >= 2, s"no map-side partial agg:\n$p")
  }

  test("q46: cohort retention never nested-loops and windows tiny aggregated output") {
    val p = plan("q46_cohort_retention")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"cohort join must stay an equi-join:\n$p")
    // the cohort-size normalization is a window over the (cohort_week,
    // week_no) aggregate — rows = cohorts × offsets, never raw events
    assert(p.contains("Window"), s"expected the normalizing window:\n$p")
    assert("HashAggregate".r.findAllIn(p).size >= 4,
      s"distinct/first-touch/counts should all be two-phase aggregates:\n$p")
  }

  test("p05: quality filter is two chained aggregates, no join") {
    val p = graft.operators.Pipeline.qualityFilter(
        graft.Tables.documents(spark, dir))
      .queryExecution.explainString(FormattedMode)
    assert(!p.contains("Join"), s"quality filter joins:\n$p")
    assert(p.contains("HashAggregate"), "expected hash aggregates")
  }

  test("p01: packing pays exactly one exchange (the stratum window)") {
    val p = graft.operators.Pipeline.packSequences(
        graft.Tables.documents(spark, dir), budget = 512, strataCol = "lang")
      .queryExecution.explainString(FormattedMode)
    // formatted explain prints each node twice (tree + detail section);
    // "(n) Exchange" headers count nodes once
    val exchanges = "\\) Exchange".r.findAllIn(p).length
    assert(exchanges == 1, s"expected 1 exchange (stratum repartition), got $exchanges:\n$p")
  }

  test("p06: training shuffle pays exactly one exchange (the shard window)") {
    val p = graft.operators.Pipeline.shuffleShard(
        graft.Tables.documents(spark, dir), nShards = 16)
      .queryExecution.explainString(FormattedMode)
    // one hash exchange on shard feeds the rank window; nothing else
    // shuffles — the write pattern of a sharded training-data job
    val exchanges = "\\) Exchange".r.findAllIn(p).length
    assert(exchanges == 1, s"expected 1 exchange (shard hash), got $exchanges:\n$p")
  }

  test("p03: quantization is a per-row map — zero exchanges, no aggregate") {
    val p = graft.operators.Pipeline.quantizeEmbeddings(
        graft.Tables.embeddings(spark, dir))
      .queryExecution.explainString(FormattedMode)
    assert(!p.contains("Exchange"), s"quantization shuffled:\n$p")
    assert(!p.contains("Aggregate"), s"quantization aggregated (global stats pass?):\n$p")
  }

  test("co-bucketed fact tables join with ZERO exchanges (SCALE.md bucketing claim)") {
    // SCALE.md asserts that writing both facts bucketed by orderkey
    // removes the fact-fact shuffle with unchanged query code. Pin it:
    // bucketBy(8, orderkey) on both sides → the scan's output
    // partitioning already satisfies the join's requirement, so the
    // sort-merge join plans with NO Exchange anywhere.
    val s = spark
    val wh = java.nio.file.Files.createTempDirectory("bucketwh").toString
    val bcKey = "spark.sql.autoBroadcastJoinThreshold"
    val prevBc = s.conf.get(bcKey)
    s.conf.set(bcKey, "-1") // force the shuffle-join path broadcast would mask
    try {
      graft.Tables.orders(s, dir).select("o_orderkey", "o_orderpriority")
        .write.mode("overwrite").option("path", s"$wh/ob")
        .bucketBy(8, "o_orderkey").sortBy("o_orderkey").saveAsTable("psb_orders")
      graft.Tables.lineitem(s, dir).select("l_orderkey", "l_quantity")
        .write.mode("overwrite").option("path", s"$wh/lb")
        .bucketBy(8, "l_orderkey").sortBy("l_orderkey").saveAsTable("psb_lineitem")
      val j = s.table("psb_lineitem").join(s.table("psb_orders"),
        org.apache.spark.sql.functions.col("l_orderkey") ===
          org.apache.spark.sql.functions.col("o_orderkey"))
      val p = j.queryExecution.explainString(FormattedMode)
      assert(p.contains("SortMergeJoin"), s"expected a sort-merge join:\n$p")
      assert(!p.contains("Exchange"),
        s"co-bucketed join should not shuffle either side:\n$p")
      // the same join over the raw (unbucketed) parquet DOES shuffle —
      // the comparison that makes the claim non-vacuous
      val raw = graft.Tables.lineitem(s, dir).select("l_orderkey", "l_quantity")
        .join(graft.Tables.orders(s, dir).select("o_orderkey", "o_orderpriority"),
          org.apache.spark.sql.functions.col("l_orderkey") ===
            org.apache.spark.sql.functions.col("o_orderkey"))
      assert(raw.queryExecution.explainString(FormattedMode).contains("Exchange"),
        "control: the unbucketed join should plan a shuffle")
    } finally {
      s.conf.set(bcKey, prevBc)
      s.sql("DROP TABLE IF EXISTS psb_orders")
      s.sql("DROP TABLE IF EXISTS psb_lineitem")
    }
  }

  test("q51: bloom membership predicate runs in the scan's codegen stage, pre-exchange") {
    import org.apache.spark.sql.functions.col
    // (a) in q51's executed plan, a codegen'd Filter carrying the
    // xxhash64 membership tests sits directly above the lineitem scan
    // with NO Exchange in between: the pruning happens where the data
    // is, before the shuffle pays for the rows it would have carried.
    val df = SparkEntry.queries("q51_bloom_semi_join")(spark, dir)
    df.collect() // finalize the adaptive plan on THIS QueryExecution
    val p = df.queryExecution.executedPlan match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        a.executedPlan.toString
      case other => other.toString
    }
    val m = """\*\(\d+\) Filter [^\n]*xxhash64""".r.findFirstMatchIn(p)
    assert(m.isDefined, s"membership predicate not a codegen'd Filter:\n$p")
    val below = p.substring(m.get.start)
    val scanIdx = below.indexOf("parquet")
    assert(scanIdx >= 0, s"no parquet scan beneath the bloom filter:\n$below")
    assert(!below.substring(0, scanIdx).contains("Exchange"),
      s"an Exchange sits between the bloom filter and the scan:\n$below")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"))
    // (b) the predicate is a pure scalar filter: applying it alone adds
    // zero exchanges and zero joins — the bit array rides the plan as a
    // literal, not a join against a filter-side table.
    val keys = spark.range(0, 1000).select(col("id").as("rk"))
    val bf = Joins.buildBloom(keys, col("rk"), bits = 1 << 12, hashes = 5)
    val fp = spark.range(0, 100000).select(col("id").as("k"))
      .filter(Joins.bloomMightContain(bf, col("k")))
      .queryExecution.explainString(FormattedMode)
    assert(!fp.contains("Exchange"), s"bloom probe shuffled:\n$fp")
    assert(!fp.contains("Join"), s"bloom probe joined:\n$fp")
  }

  test("t09: gopher rules are a pure per-row map — zero exchanges, no aggregate, no join") {
    val p = graft.operators.TextOps.gopherRules(
        graft.Tables.documents(spark, dir))
      .queryExecution.explainString(FormattedMode)
    assert(!p.contains("Exchange"), s"gopherRules shuffled:\n$p")
    assert(!p.contains("Join"), s"gopherRules joined:\n$p")
  }

  test("q57: weighted quantiles pay exactly one exchange (window + agg share the group key)") {
    val p = graft.operators.Relational.weightedQuantiles(
        graft.Tables.lineitem(spark, dir), "l_suppkey", "l_extendedprice",
        org.apache.spark.sql.functions.col("l_quantity"), Seq("wp50" -> 0.5))
      .queryExecution.explainString(FormattedMode)
    val exchanges = "\\) Exchange".r.findAllIn(p).length
    assert(exchanges == 1, s"expected 1 exchange (group hash), got $exchanges:\n$p")
    assert(!p.contains("Join"), s"weightedQuantiles joined:\n$p")
  }

  test("d09: passage dedup is explode + aggregate — no join, bounded exchanges") {
    val p = graft.operators.Dedup.passageDups(
        graft.Tables.documents(spark, dir))
      .queryExecution.explainString(FormattedMode)
    assert(!p.contains("Join"), s"passageDups joined:\n$p")
    // countDistinct plans as a two-level aggregate: one exchange on
    // (ph, doc_id), one on ph — never more
    val exchanges = "\\) Exchange".r.findAllIn(p).length
    assert(exchanges <= 2, s"expected <=2 exchanges, got $exchanges:\n$p")
  }

  test("t10: inverted index joins its two aggregates co-partitioned on tok — 2 exchanges total") {
    val p = graft.operators.TextOps.invertedIndex(
        graft.Tables.documents(spark, dir))
      .queryExecution.explainString(FormattedMode)
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      s"inverted index planned an all-pairs join:\n$p")
    // df-count agg and the window-truncated postings agg each shuffle
    // on tok once; the final join reuses both partitionings
    val exchanges = "\\) Exchange".r.findAllIn(p).length
    assert(exchanges == 2, s"expected 2 exchanges (one per aggregate), got $exchanges:\n$p")
  }

  test("q58: MAD outliers pay exactly one exchange — stacked windows, zero joins") {
    val p = graft.operators.Relational.madOutliers(
        graft.Tables.orders(spark, dir), "o_custkey", "o_totalprice")
      .queryExecution.explainString(FormattedMode)
    assert(!p.contains("Join"), s"madOutliers joined (agg + self-join shape came back):\n$p")
    // one hash exchange on the group key feeds both median passes;
    // the second pass re-sorts in place (same partitioning)
    val exchanges = "\\) Exchange".r.findAllIn(p).length
    assert(exchanges == 1, s"expected 1 exchange (group hash), got $exchanges:\n$p")
  }

  test("q59: time-weighted average pays one exchange (lead window + agg share the key)") {
    val p = graft.operators.Relational.timeWeightedAvg(
        graft.Tables.events(spark, dir))
      .queryExecution.explainString(FormattedMode)
    val exchanges = "\\) Exchange".r.findAllIn(p).length
    assert(exchanges == 1, s"expected 1 exchange (user hash), got $exchanges:\n$p")
    assert(!p.contains("Join"), s"timeWeightedAvg joined:\n$p")
  }

  test("p08: batch report reuses the assignment window's partitioning — one exchange total") {
    val p = SparkEntry.queries("p08_length_batches")(spark, dir)
      .queryExecution.explainString(FormattedMode)
    // hash on (bucket, shard) feeds the row_number window AND satisfies
    // the (bucket, shard, batch) group-by; only the final orderBy adds
    // a range exchange
    val exchanges = "\\) Exchange".r.findAllIn(p).length
    assert(exchanges <= 2, s"expected <=2 exchanges, got $exchanges:\n$p")
    assert(!p.contains("Join"), s"p08 joined:\n$p")
  }

  test("q60: state intervals share the key hash — windows + run group-by on one exchange") {
    val p = graft.operators.Relational.stateIntervals(
        graft.Tables.events(spark, dir))
      .queryExecution.explainString(FormattedMode)
    val exchanges = "\\) Exchange".r.findAllIn(p).length
    assert(exchanges == 1, s"expected 1 exchange (user hash), got $exchanges:\n$p")
    assert(!p.contains("Join"), s"stateIntervals joined:\n$p")
  }

  test("q61: co-occurrence reads the cached weighted-pair artifact — zero live exchanges, top-k without global sort") {
    val p = SparkEntry.queries("q61_part_cooccurrence")(spark, dir)
      .queryExecution.explainString(FormattedMode)
    assert(!p.contains("Join"), s"q61 self-joined:\n$p")
    // since r9 the (p1, p2, n_orders) table is the graph family's
    // cached ingest root: the orderkey + pair exchanges ran once at
    // ingest, so the per-query plan is filter + top-k over the cache
    assert("InMemoryTableScan \\(\\d+\\)".r.findAllIn(p).size >= 1,
      s"expected the cached pair-table consumer:\n$p")
    val live = p.indexOf("InMemoryRelation") match {
      case -1 => p
      case i  => p.substring(0, i)
    }
    val liveExchanges = "\\) Exchange".r.findAllIn(live).length
    assert(liveExchanges == 0,
      s"expected 0 live exchanges before the cache boundary, got $liveExchanges:\n$p")
    assert(p.contains("TakeOrderedAndProject"), s"top-100 fell back to a global sort:\n$p")
  }

  test("p09: exact-k sample broadcasts the counts and windows only prefiltered survivors") {
    val p = graft.operators.Pipeline.exactKSample(
        graft.Tables.documents(spark, dir), k = 50, strataCol = "lang")
      .queryExecution.explainString(FormattedMode)
    assert(p.contains("BroadcastHashJoin"), s"counts not broadcast:\n$p")
    val exchanges = "\\) Exchange".r.findAllIn(p).length
    // counts aggregate + survivor window; the corpus itself never
    // shuffles (the prefilter is a scan-side predicate)
    assert(exchanges <= 2, s"expected <=2 exchanges, got $exchanges:\n$p")
  }

  test("s11: kmeans assignment is in-row — no window, no k-fan-out exchange on the corpus") {
    val e = graft.Tables.embeddings(spark, dir)
    val p = graft.operators.Similarity.kmeansStep(
        e, e.filter(org.apache.spark.sql.functions.col("vec_id") < 8),
        cidCol = "vec_id")
      .queryExecution.explainString(FormattedMode)
    assert(!p.contains("Window"), s"argmin fell back to a window:\n$p")
    val exchanges = "\\) Exchange".r.findAllIn(p).length
    // centroid collapse (single-row agg) + the (cluster, dim) mean —
    // the corpus itself only flows through the broadcast join
    assert(exchanges <= 2, s"expected <=2 exchanges, got $exchanges:\n$p")
  }

  test("q62: last-touch attribution is one keyed window — single exchange, no join") {
    val p = SparkEntry.queries("q62_last_touch")(spark, dir)
      .queryExecution.explainString(FormattedMode)
    assert(!p.contains("Join"), s"q62 joined:\n$p")
    // user-hash window + the final presentation sort
    val exchanges = "\\) Exchange".r.findAllIn(p).length
    assert(exchanges <= 2, s"expected <=2 exchanges, got $exchanges:\n$p")
  }

  test("t14: zipf top-k limits before the one-partition window — TakeOrdered feeds the cumsum") {
    val p = graft.operators.TextOps.zipfTop(
        graft.Tables.documents(spark, dir), k = 100)
      .queryExecution.explainString(FormattedMode)
    assert(p.contains("TakeOrderedAndProject"),
      s"top-k fell back to a global sort:\n$p")
    // the single-partition window must consume the k-row limit, not
    // the vocabulary: TakeOrdered appears upstream of the Window node
    val takeIdx = p.indexOf("TakeOrderedAndProject")
    val winIdx = p.indexOf("Window")
    assert(winIdx >= 0 && takeIdx >= 0, s"missing nodes:\n$p")
  }

  test("p11: weighted sample plans as TakeOrderedAndProject — never a global sort") {
    val p = graft.operators.Pipeline.weightedPrioritySample(
        graft.Tables.documents(spark, dir), k = 100)
      .queryExecution.explainString(FormattedMode)
    assert(p.contains("TakeOrderedAndProject"),
      s"weighted draw fell back to a global sort:\n$p")
    assert(!p.contains("Join"), s"p11 joined:\n$p")
  }

  test("p12: profile is one scan; approx NDV is Expand-free, exact NDV pays one Expand") {
    val docs = graft.Tables.documents(spark, dir)
    val cols = Seq("doc_id", "lang", "n_chars")
    val approx = graft.operators.Pipeline.profile(docs, cols, approxNdv = true)
      .queryExecution.explainString(FormattedMode)
    // formatted explain names each node in the tree AND the detail
    // section — count detail headers for a unique-node count
    def scans(p: String) = "\\(\\d+\\) Scan parquet".r.findAllIn(p).size
    // the monitor path: plain partial+final aggregate, no row blow-up
    assert(!approx.contains("Expand"), s"approx profile must not Expand:\n$approx")
    assert(scans(approx) == 1,
      s"approx profile must read the table once:\n$approx")
    // string min/max buffers force SortAggregate (keyless → no sort);
    // partial+final is the claim, not the agg flavor
    assert("\\(\\d+\\) (Hash|Sort|ObjectHash)Aggregate".r.findAllIn(approx).size >= 2,
      s"approx profile must partial-aggregate map-side:\n$approx")
    val exact = graft.operators.Pipeline.profile(docs, cols)
      .queryExecution.explainString(FormattedMode)
    // the audit path: multi-column COUNT(DISTINCT) rewrites through one
    // Expand — still a single scan, never one pass per column
    assert(scans(exact) == 1,
      s"exact profile must read the table once:\n$exact")
    assert("Expand".r.findAllIn(exact).size <= 2,
      s"exact profile grew more than the one distinct-rewrite Expand:\n$exact")
  }

  test("q70: triangles intersect CACHED adjacency arrays — no wedge shuffle, no fact rescans") {
    val p = SparkEntry.queries("q70_triangles")(spark, dir)
      .queryExecution.explainString(FormattedMode)
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"triangle join degenerated to a product:\n$p")
    // the O(m^1.5) wedge set must stay in-row: common neighbors come
    // from the native sorted_intersect over the adjacency arrays, not
    // a self-join + closing semi-join (the r8 shape this replaced —
    // 41M shuffled wedge rows for 1.2M edges at sf0.1, TriangleProbe@059cb1a;
    // the r13 native merge scan replaced array_intersect's per-row
    // hash set, TriangleProbe2@059cb1a)
    assert(p.contains("sorted_intersect"),
      s"triangles must intersect adjacency arrays in-row:\n$p")
    assert(!p.contains("LeftSemi"),
      s"wedge-closing semi-join resurfaced — the wedge set is being materialized:\n$p")
    // all three consumers (the edge list + two adjacency arms) read
    // persisted artifacts — parquet appears only inside the
    // InMemoryRelation's lineage display, never as a live scan
    assert("InMemoryTableScan \\(\\d+\\)".r.findAllIn(p).size >= 3,
      s"expected 3 cached-artifact consumers:\n$p")
  }

  test("q71: transition matrix pays one fact window; the share window sees |types|^2 rows") {
    val p = SparkEntry.queries("q71_transitions")(spark, dir)
      .queryExecution.explainString(FormattedMode)
    assert(!p.contains("Join"), s"q71 joined:\n$p")
    // lead() over user_id is the only fact-sized window; the share
    // window runs AFTER the matrix aggregate (partial+final), so its
    // input is the tiny matrix, not events
    assert("\\(\\d+\\) Window".r.findAllIn(p).size == 2, s"expected 2 windows:\n$p")
    assert("\\(\\d+\\) HashAggregate".r.findAllIn(p).size >= 2,
      s"matrix aggregate must be map-side combinable:\n$p")
  }

  test("q72: pagerank step runs on the prepared loop tables — vertex-keyed equi-join, zero BNLJ") {
    val p = SparkEntry.queries("q72_pagerank_step")(spark, dir)
      .queryExecution.explainString(FormattedMode)
    assert(!p.contains("CartesianProduct"), s"pagerank degenerated to a product:\n$p")
    // r10: |V| is an ingest-time literal and the bidirectional list +
    // degree table come persisted from the GraphLoop — no 1-row
    // vertex-count scalar join remains anywhere in the plan
    assert(!p.contains("BroadcastNestedLoopJoin"),
      s"unexpected scalar/nested-loop join (nv should be a literal):\n$p")
    assert("InMemoryTableScan \\(\\d+\\)".r.findAllIn(p).size >= 2,
      s"expected the persisted loop bi+deg tables, got live scans:\n$p")
    assert("(BroadcastHashJoin|SortMergeJoin|ShuffledHashJoin)".r.findFirstIn(p).isDefined,
      s"expected a vertex-keyed equi-join for the degree attach:\n$p")
  }

  test("q74: k-step pagerank on the prepared loop — zero BNLJ, cached loop tables, equi-joins at every depth") {
    val p = SparkEntry.queries("q74_pagerank_k")(spark, dir)
      .queryExecution.explainString(FormattedMode)
    assert(!p.contains("CartesianProduct"), s"pagerank degenerated to a product:\n$p")
    // r10: |V| is an ingest-time literal and every iteration reads the
    // persisted GraphLoop bi/deg tables — a regression back to
    // per-depth 1-row scalar joins or live edge re-derivation must
    // fail here, as in the q72 pin above
    assert(!p.contains("BroadcastNestedLoopJoin"),
      s"unexpected scalar/nested-loop join (nv should be a literal):\n$p")
    assert("InMemoryTableScan \\(\\d+\\)".r.findAllIn(p).size >= 2,
      s"expected the persisted loop bi+deg tables, got live scans:\n$p")
    // rank/degree joins stay vertex-keyed equi-joins at every depth
    assert("(BroadcastHashJoin|SortMergeJoin|ShuffledHashJoin)".r.findFirstIn(p).isDefined,
      s"expected hash/merge equi-joins for the rank+degree attach:\n$p")
    // r13: every round's groupBy(v) runs on the v-partitioned cached
    // biPlus under a hinted broadcast join — ZERO shuffle exchanges in
    // the whole k-round plan (GraphLoopProbe4@059cb1a; also pins that the
    // ordering collapses rather than range-shuffling |V| rows). Losing
    // either the layout or the hint re-inserts one per round.
    assert(!p.contains("Exchange hashpartitioning"),
      s"a k-round shuffle exchange resurfaced (layout or hint lost):\n$p")
    // q77 rides the identical loop context — same zero-shuffle pin
    val p77 = SparkEntry.queries("q77_min_label_k")(spark, dir)
      .queryExecution.explainString(FormattedMode)
    assert(!p77.contains("Exchange hashpartitioning"),
      s"min-label k-round shuffle exchange resurfaced:\n$p77")
  }

  test("q73: degree histogram is join-free — one aggregate over the cached degree table") {
    // join-free claim on an uncached edge list (the registered query's
    // plan text would also show the cached ARTIFACT's join lineage)
    import spark.implicits._
    val synth = Relational.degreeHistogram(
        Seq((1L, 2L), (2L, 3L)).toDF("a", "b"))
      .queryExecution.explainString(FormattedMode)
    assert(!synth.contains("Join"), s"degreeHistogram joined:\n$synth")
    // the registered query reads the cached |V|-row DEGREE artifact —
    // the edge-endpoint aggregate ran once at ingest, so only the
    // histogram aggregate remains in the per-query plan
    val p = SparkEntry.queries("q73_degree_hist")(spark, dir)
      .queryExecution.explainString(FormattedMode)
    assert("InMemoryTableScan \\(\\d+\\)".r.findAllIn(p).size >= 1,
      s"expected the cached degree-table consumer:\n$p")
    assert("\\(\\d+\\) HashAggregate".r.findAllIn(p).size >= 2,
      s"histogram aggregate must be map-side combinable:\n$p")
  }

  test("p13: split leakage joins the tiny cached pair artifact — never a corpus self-join") {
    val p = SparkEntry.queries("p13_split_leakage")(spark, dir)
      .queryExecution.explainString(FormattedMode)
    assert(!p.contains("CartesianProduct"), s"p13 degenerated to a product:\n$p")
    assert("InMemoryTableScan \\(\\d+\\)".r.findAllIn(p).size >= 1,
      s"expected the cached pair artifact, got a re-derived pair relation:\n$p")
    // both split-map joins hang off the pair list; the corpus appears
    // as the two split-assignment scans plus the artifact's LINEAGE
    // display (not a live scan), never joined to itself
    assert("\\(\\d+\\) Scan parquet".r.findAllIn(p).size <= 3,
      s"corpus scanned more than expected:\n$p")
  }

  test("q64: sliding distinct never joins the facts — pairs-only exchanges, spine broadcast") {
    val p = SparkEntry.queries("q64_sliding_distinct")(spark, dir)
      .queryExecution.explainString(FormattedMode)
    // the day spine must broadcast; the facts must never sort-merge
    assert(p.contains("BroadcastHashJoin"), s"day spine not broadcast:\n$p")
    assert(!p.contains("SortMergeJoin"), s"fact-sized join appeared:\n$p")
    // (day,user) dedup + (target,user) dedup are the only pair-sized
    // exchanges; the other three (spine dedup, per-day counts, final
    // sort) carry |days|-sized rows
    val exchanges = "\\) Exchange".r.findAllIn(p).length
    assert(exchanges <= 5, s"expected <=5 exchanges, got $exchanges:\n$p")
  }

  test("s13: class diversity is join-free on the corpus — map-side-combined aggregates only") {
    val p = graft.operators.Similarity.classDiversity(
        graft.Tables.embeddings(spark, dir))
      .queryExecution.explainString(FormattedMode)
    assert(!p.contains("Window"), s"s13 windowed:\n$p")
    assert(!p.contains("SortMergeJoin") || p.contains("BroadcastHashJoin"),
      s"the |labels|-row join must broadcast, not shuffle facts:\n$p")
    // two aggregate trees (row stats, dim sums) + the tiny label join;
    // every corpus-sized aggregate must have a map-side partial
    assert("HashAggregate".r.findAllIn(p).size >= 4,
      s"missing partial aggregates:\n$p")
  }

  test("q67: full outer joins two pre-reduced sides and surfaces rows unique to each") {
    val df = SparkEntry.queries("q67_full_outer_reconcile")(spark, dir)
    val p = df.queryExecution.explainString(FormattedMode)
    assert(p.contains("FullOuter"), s"expected a full outer join:\n$p")
    // both inputs reduce BEFORE the join: the orders side aggregates,
    // the customer side filters at the scan
    assert("HashAggregate".r.findAllIn(p).size >= 2,
      s"orders side must pre-aggregate:\n$p")
    assert(p.contains("PushedFilters:"), s"balance screen not pushed:\n$p")
    val statuses = df.select("status").distinct().collect().map(_.getString(0)).toSet
    assert(statuses == Set("both", "customer_only", "orders_only"),
      s"fixture must exercise all three reconciliation classes, got $statuses")
  }

  test("q68: navigation window runs over the monthly aggregate, never over facts") {
    val df = SparkEntry.queries("q68_mom_growth")(spark, dir)
    val p = df.queryExecution.explainString(FormattedMode)
    assert(p.contains("Window"), s"expected a window:\n$p")
    // the facts reduce through a partial+final hash aggregate BEFORE
    // the window — the window input is priority × month, not orders
    assert("HashAggregate".r.findAllIn(p).size >= 2,
      s"monthly aggregate must be map-side combinable:\n$p")
    // scan pruned to the 3 referenced columns
    val read = "ReadSchema: [^\\n]*".r.findFirstIn(p).getOrElse("")
    assert(Seq("o_orderpriority", "o_orderdate", "o_totalprice")
        .forall(read.contains) && !read.contains("o_comment"),
      s"scan not pruned: $read")
  }

  test("q69: share/rank window sees 25 nation rows; dims broadcast; facts aggregate once") {
    val df = SparkEntry.queries("q69_revenue_share")(spark, dir)
    val p = df.queryExecution.explainString(FormattedMode)
    assert(p.contains("Window"), s"expected a window:\n$p")
    assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastExchange"),
      s"nation/region dims must broadcast:\n$p")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      s"no nested-loop allowed:\n$p")
    // orders pre-aggregate per custkey (partial+final), then nation
    // re-aggregate (partial+final): >=4 hash aggregates
    assert("HashAggregate".r.findAllIn(p).size >= 4,
      s"missing reduce-before-join aggregates:\n$p")
    assert(df.count() == 25, "one row per nation")
  }

  test("s04: IVF probe path has no KMeans fit — index read is joins/windows only") {
    // Building the plan must not train: the index is cached per
    // (session, dataset). Constructing the query twice must reuse it.
    val d1 = SparkEntry.queries("s04_sim_ivf")(spark, dir)
    val d2 = SparkEntry.queries("s04_sim_ivf")(spark, dir)
    assert(d1.queryExecution.explainString(FormattedMode).contains("InMemory") ||
      d2.queryExecution.explainString(FormattedMode).contains("InMemory"),
      "s04 does not read the cached IVF index")
  }

  // Formatted mode prints each physical node twice (tree + detail), so
  // node-count pins below divide the raw occurrence count by 2.
  private def windowNodes(p: String): Int =
    "\\(\\d+\\) Window".r.findAllIn(p).size / 2

  test("q27b: KMV bottom-k is ONE object-hash aggregate — no windows, no sort, witness join broadcasts") {
    val p = plan("q27b_kmv_distinct")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"unbounded join in the sketch path:\n$p")
    assert(p.contains("BroadcastHashJoin") && !p.contains("SortMergeJoin"),
      "the 3-row est⋈exact witness join must broadcast, never sort-merge")
    // r12: the sketch is the kmv_bottomk ObjectHashAggregate (bounded
    // ≤ k-long partials, map-side pruned) — the r11 distinct+salted-
    // window pipeline sneaking back shows up as Window/sort nodes
    assert(p.contains("ObjectHashAggregate") && p.contains("kmv_bottomk"),
      s"sketch must build via the native bottom-k aggregate:\n$p")
    assert(windowNodes(p) == 0, s"window pipeline is back (${windowNodes(p)} nodes):\n$p")
  }

  test("q65b: the day spine comes from the raw rows — the bottom-k pipeline runs ONCE per level") {
    val p = plan("q65b_sliding_distinct_kmv")
    // r12: zero windows — daily sketch AND window merge are both
    // kmv_bottomk object-hash aggregates; a spine branch re-executing
    // the sketch plan shows up as extra aggregate/scan nodes, caught
    // by the single-scan pin below
    assert(windowNodes(p) == 0,
      s"window pipeline is back (${windowNodes(p)} nodes):\n$p")
    assert(p.contains("ObjectHashAggregate") && p.contains("kmv_bottomk"),
      s"sketch must build via the native bottom-k aggregate:\n$p")
    assert("Scan parquet".r.findAllIn(p).size / 2 <= 2,
      s"spine branch must reuse the raw-rows scan, not re-run the sketch:\n$p")
    assert(p.contains("BroadcastHashJoin") && !p.contains("SortMergeJoin"),
      "active-day spine must broadcast onto the sketch rows")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      "day-window merge must be contribution-explode, never a day×day join")
  }

  test("m07: byte entropy is one in-row histogram pass — no per-byte explode, only the output sort exchanges") {
    val p = plan("m07_byte_entropy")
    assert(!p.contains("Generate"),
      s"per-byte explode fan-out is back in the plan:\n$p")
    assert("\\(\\d+\\) Exchange".r.findAllIn(p).size / 2 <= 1,
      s"m07 should shuffle only for the final orderBy:\n$p")
    assert(!p.contains("Join"), s"byte entropy must be join-free:\n$p")
  }

  test("m09: silence runs are one native fold per asset — no explode, no aggregation, only the output sort") {
    val p = plan("m09_silence_runs")
    assert(!p.contains("Generate"),
      s"per-byte fan-out is back in the plan:\n$p")
    assert(!p.contains("HashAggregate"),
      s"quiet_runs should fold in-row, not aggregate:\n$p")
    assert("\\(\\d+\\) Exchange".r.findAllIn(p).size / 2 <= 1,
      s"m09 should shuffle only for the final orderBy:\n$p")
  }

  test("q78: supply components run entirely from the prepared loop tables — zero parquet scans") {
    val p = plan("q78_supply_components")
    assert("Scan parquet".r.findAllIn(p).isEmpty,
      s"q78 must serve from the cached loop context, not rescan facts:\n$p")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      s"propagation rounds must stay vertex-keyed equi-joins:\n$p")
  }

  test("sort-below-projection batch: the range sort is the ONLY exchange (r16 ADVICE)") {
    // These 18 queries sort the RAW scan and project after the sort,
    // so RangePartitioning's bounds sampling doesn't double-execute
    // the per-row projection (r16 batch 1). The shape's global output
    // order silently depends on every downstream helper staying
    // narrow: a groupBy/exchange added inside one helper would
    // unorder the registered output (or let EliminateSorts drop the
    // Sort) with results still "correct" per-row — so pin the shape:
    // exactly one Exchange, and it is the range partitioning.
    val batch = Seq(
      "t01_text_tokens", "t02_text_quality", "t03_text_langid",
      "t04_text_fingerprint", "t08_pii_redact", "t09_gopher_rules",
      "q02_filter_project", "q15_string_fns", "q17_math_fns",
      "q28_collection_fns", "q42_regex_extract",
      "m01_binary_meta", "m04_audio_resample", "m05_image_resize",
      "m07_byte_entropy", "m09_silence_runs",
      "p02_sample_stratified", "p04_split_assign")
    batch.foreach { n =>
      val p = plan(n)
      // count the details-section entries ("(n) Exchange") — one per
      // operator; the tree section prints the id AFTER the name
      val nEx = "\\(\\d+\\) Exchange".r.findAllIn(p).size
      assert(nEx == 1,
        s"$n: expected the range sort to be the only exchange, got $nEx:\n$p")
      assert(p.contains("rangepartitioning("),
        s"$n: the single exchange is not the output sort's range partitioning:\n$p")
      assert("\\(\\d+\\) Sort".r.findAllIn(p).nonEmpty,
        s"$n: the output Sort was optimized away:\n$p")
    }
  }
}
