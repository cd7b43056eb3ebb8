package graft.operators

import org.apache.spark.sql.functions._
import graft.SparkSuite

/** Property-style tests for the graph family over seeded random
  * graphs (deterministic — no scalacheck/scalatest bridge in the
  * offline dependency set): the fixture-graph specs in PublicApiSpec
  * pin exact values on hand-built paths/stars; these check the
  * INVARIANTS that must hold on any graph — component labels equal a
  * reference union-find, triangle counts equal brute-force
  * enumeration, PageRank conserves mass, and the prepared-loop
  * variants agree with the generic operators row for row.
  */
class GraphPropertySpec extends SparkSuite {
  import spark.implicits._

  /** Seeded G(n, p): canonical (a < b) edge list, no dups. */
  private def randomEdges(rnd: scala.util.Random, n: Int, p: Double): Seq[(Long, Long)] =
    (for {
      a <- 1 to n; b <- (a + 1) to n
      if rnd.nextDouble() < p
    } yield (a.toLong, b.toLong)).toSeq

  private def unionFind(n: Int, edges: Seq[(Long, Long)]): Map[Long, Long] = {
    val parent = Array.tabulate(n + 1)(identity)
    def find(x: Int): Int = { var r = x; while (parent(r) != r) r = parent(r); r }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a.toInt), find(b.toInt))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    // min vertex id per component, only for vertices with >= 1 edge
    val verts = edges.flatMap(e => Seq(e._1, e._2)).distinct
    verts.map(v => v -> {
      var r = v.toInt; while (parent(r) != r) r = parent(r); r.toLong
    }).toMap
  }

  test("minLabelPropagate at k >= diameter equals reference union-find components") {
    val rnd = new scala.util.Random(10)
    for (i <- 1 to 8) {
      val n = 6 + rnd.nextInt(5) // <= 10 vertices: k = n bounds diameter
      val edges = randomEdges(rnd, n, 0.25)
      if (edges.nonEmpty) {
        val expected = unionFind(n, edges)
        val got = Relational.minLabelPropagate(edges.toDF("a", "b"), n)
          .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
        assert(got == expected, s"case $i (n=$n, edges=$edges)")
      }
    }
  }

  test("trianglesFromOriented equals brute-force enumeration on random graphs") {
    val rnd = new scala.util.Random(20)
    for (i <- 1 to 6) {
      val n = 8 + rnd.nextInt(10)
      val edges = randomEdges(rnd, n, 0.3)
      if (edges.nonEmpty) {
        val es = edges.toSet
        val verts = edges.flatMap(e => Seq(e._1, e._2)).distinct.sorted
        // brute force: per-vertex triangle membership counts
        val triangles = for {
          a <- verts; b <- verts if a < b && es((a, b))
          c <- verts if b < c && es((b, c)) && es((a, c))
        } yield (a, b, c)
        val expected = triangles.flatMap(t => Seq(t._1, t._2, t._3))
          .groupBy(identity).map { case (v, xs) => v -> xs.size.toLong }
        val got = Relational.triangleCounts(edges.toDF("a", "b"))
          .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
        assert(got == expected,
          s"case $i (n=$n): got $got expected $expected")
      }
    }
  }

  test("per-vertex counts from triangleCommonCounts equal trianglesFromOriented") {
    // The r17 q70 derivation: n_tri(v) = Σ_{e∋v} common(e) / 2 (each
    // triangle contributes 1 to the common count of exactly TWO edges
    // incident to v; the halving is an exact even-integer shiftright).
    // Must agree with the direct instance-explode aggregate on any
    // graph — q70 rides the cached common table through exactly this.
    val rnd = new scala.util.Random(25)
    for (i <- 1 to 6) {
      val n = 8 + rnd.nextInt(10)
      val edges = randomEdges(rnd, n, 0.3)
      if (edges.nonEmpty) {
        val oriented = Relational.orientEdges(
          Relational.canonicalEdges(edges.toDF("a", "b")))
        val direct = Relational.trianglesFromOriented(oriented)
          .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
        val viaCommon = Relational.triangleCommonCounts(oriented)
          .select(explode(array(col("a"), col("b"))).as("part"), col("common"))
          .groupBy("part").agg(shiftright(sum("common"), 1).as("n_tri"))
          .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
        assert(viaCommon == direct,
          s"case $i (n=$n): viaCommon $viaCommon != direct $direct")
      }
    }
  }

  test("pagerankIterate conserves unit mass on random graphs at every depth") {
    val rnd = new scala.util.Random(30)
    for (_ <- 1 to 4) {
      val n = 10 + rnd.nextInt(15)
      val edges = randomEdges(rnd, n, 0.2)
      if (edges.nonEmpty) {
        for (k <- Seq(1, 3)) {
          val mass = Relational.pagerankIterate(edges.toDF("a", "b"), k)
            .agg(sum("rank")).head().getDouble(0)
          // grid error <= |E|·5e-13 per iteration
          assert(math.abs(mass - 1.0) < 1e-8,
            s"mass drifted to $mass (n=$n, k=$k)")
        }
      }
    }
  }

  test("prepared loop variants equal generic operators on random graphs") {
    val rnd = new scala.util.Random(40)
    for (i <- 1 to 6) {
      val n = 8 + rnd.nextInt(8)
      val edges = randomEdges(rnd, n, 0.25)
      if (edges.nonEmpty) {
        val df = edges.toDF("a", "b")
        // odd cases force the giant-graph u-layout (vMode off) so the
        // random sweep covers BOTH loop layouts, not just the one the
        // fixture vertex counts can reach
        val forceU = i % 2 == 1
        val loop =
          if (forceU) Relational.buildGraphLoop(df, "a", "b", vertexBroadcastMaxBytes = 0L)
          else Relational.buildGraphLoop(df)
        assert(loop.vMode == !forceU, s"case $i layout flag")
        try {
          val canon = Relational.canonicalEdges(df)
          val prGen = Relational.pagerankIterate(canon, 3)
            .orderBy("v").collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
          val prLoop = Relational.pagerankIterateLoop(loop, 3)
            .orderBy("v").collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
          assert(prGen == prLoop, s"case $i pagerank: $prGen vs $prLoop")
          val mlGen = Relational.minLabelPropagate(canon, 3)
            .orderBy("v").collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
          val mlLoop = Relational.minLabelPropagateLoop(loop, 3)
            .orderBy("v").collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
          assert(mlGen == mlLoop, s"case $i minlabel: $mlGen vs $mlLoop")
        } finally Relational.releaseGraphLoop(loop)
      }
    }
  }

  test("loop-vs-generic parity holds on a LARGE graph in both layouts (real-data-scale flip)") {
    // The random sweep above covers both layouts on toy graphs; this
    // case exercises the u-layout flip at a size where the layout
    // actually matters — 30k vertices / ~90k hash-random edges (many
    // components, nontrivial diameter) — and asserts both branches
    // equal the generic operators. GraphLoopProbe5@059cb1a carries the
    // million-vertex timing A/B; this keeps row-exact parity at the
    // largest size a unit test can afford.
    val nV = 30000L
    val syn = spark.range(90000).select(
      abs(xxhash64(col("id"), lit(11)) % nV).as("a"),
      abs(xxhash64(col("id"), lit(12)) % nV).as("b"))
      .filter(col("a") =!= col("b"))
    val canon = Relational.canonicalEdges(syn).persist()
    try {
      val prGen = Relational.pagerankIterate(canon, 3)
        .select(expr("bit_xor(xxhash64(v, CAST(round(rank * 1e9) AS BIGINT)))"),
          count(lit(1))).head()
      val mlGen = Relational.minLabelPropagate(canon, 3)
        .select(expr("bit_xor(xxhash64(v, label))"), count(lit(1))).head()
      Seq(Some("0"), None).foreach { forceU =>
        val loop = forceU.fold(Relational.buildGraphLoop(canon))(b =>
          Relational.buildGraphLoop(canon, "a", "b", vertexBroadcastMaxBytes = b.toLong))
        assert(loop.vMode == forceU.isEmpty, s"layout flag (forceU=$forceU)")
        try {
          val prLoop = Relational.pagerankIterateLoop(loop, 3)
            .select(expr("bit_xor(xxhash64(v, CAST(round(rank * 1e9) AS BIGINT)))"),
              count(lit(1))).head()
          val mlLoop = Relational.minLabelPropagateLoop(loop, 3)
            .select(expr("bit_xor(xxhash64(v, label))"), count(lit(1))).head()
          assert(prLoop == prGen, s"pagerank diverged in ${if (loop.vMode) "v" else "u"}-layout")
          assert(mlLoop == mlGen, s"minlabel diverged in ${if (loop.vMode) "v" else "u"}-layout")
        } finally Relational.releaseGraphLoop(loop)
      }
    } finally canon.unpersist()
  }

  test("q78 supply loop equals the generic operator on the real bipartite graph") {
    // the registered q78 path (public buildGraphLoop over the
    // supplier–part graph) must agree with the generic lazy operator
    // on the actual fixture — the loop-vs-generic parity claim at the
    // data the gate runs on, not just random toys
    val dir = sf("sf0.001")
    val edges = graft.Tables.lineitem(spark, dir).select(
      (col("l_partkey") * 2).as("a"), (col("l_suppkey") * 2 + 1).as("b"))
    val viaLoop = graft.SparkEntry.queries("q78_supply_components")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    val generic = Relational.minLabelPropagate(
        Relational.canonicalEdges(edges), 3)
      .orderBy("v").collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(viaLoop.nonEmpty && viaLoop == generic,
      s"loop path diverged from generic (${viaLoop.size} vs ${generic.size} rows)")
  }

  test("buildGraphLoop: a build step failing mid-flight leaks no cached tables") {
    import spark.implicits._
    // raise_error fires while canon.count() materializes the input, i.e.
    // AFTER the builder started persisting intermediates — the r10
    // ADVICE leak scenario. Every persisted handle must be released on
    // the way out, so retries can't accumulate zombie cached blocks.
    val before = spark.sparkContext.getPersistentRDDs.size
    val bad = spark.range(0, 20).toDF("id").selectExpr(
      "id as a",
      "if(id < 10, id + 1, cast(raise_error('boom') as bigint)) as b")
    intercept[Exception](Relational.buildGraphLoop(bad))
    assert(spark.sparkContext.getPersistentRDDs.size == before,
      "failed buildGraphLoop left persisted tables behind")
  }
}
