package graft.functions

import org.apache.spark.sql.functions._
import graft.SparkSuite

/** `sorted_intersect`'s contract is exact equivalence with
  * `array_intersect` on SORTED null-free bigint arrays (the graph
  * family's adjacency shape). The randomized sweep drives both the
  * interpreted and codegen paths through real plans; the edge cases
  * pin empties, disjoint ranges, duplicate runs, and null propagation.
  */
class SortedIntersectSpec extends SparkSuite {

  private def si(a: Seq[Long], b: Seq[Long]): Seq[Long] = {
    import spark.implicits._
    GraftExtensions.register(spark)
    Seq((a, b)).toDF("a", "b")
      .select(expr("sorted_intersect(a, b)")).as[Seq[Long]].head()
  }

  test("edges: empty, disjoint, subset, identical, bounds") {
    assert(si(Nil, Nil) == Nil)
    assert(si(Seq(1L, 2L, 3L), Nil) == Nil)
    assert(si(Nil, Seq(1L)) == Nil)
    assert(si(Seq(1L, 3L, 5L), Seq(2L, 4L, 6L)) == Nil)
    assert(si(Seq(1L, 2L, 3L), Seq(2L)) == Seq(2L))
    assert(si(Seq(2L), Seq(1L, 2L, 3L)) == Seq(2L))
    assert(si(Seq(1L, 2L, 3L), Seq(1L, 2L, 3L)) == Seq(1L, 2L, 3L))
    assert(si(Seq(Long.MinValue, 0L, Long.MaxValue),
      Seq(Long.MinValue, Long.MaxValue)) == Seq(Long.MinValue, Long.MaxValue))
  }

  test("duplicate runs dedup exactly like array_intersect") {
    assert(si(Seq(1L, 1L, 2L, 2L), Seq(1L, 2L)) == Seq(1L, 2L))
    assert(si(Seq(1L, 2L), Seq(1L, 1L, 2L, 2L)) == Seq(1L, 2L))
    assert(si(Seq(5L, 5L, 5L), Seq(5L, 5L)) == Seq(5L))
  }

  test("null array propagates; null vs empty distinguished") {
    import spark.implicits._
    GraftExtensions.register(spark)
    val out = Seq((Some(Seq(1L, 2L)), Option.empty[Seq[Long]]),
        (Option.empty[Seq[Long]], Some(Seq(1L, 2L))),
        (Some(Seq.empty[Long]), Some(Seq(1L, 2L))))
      .toDF("a", "b")
      .select(expr("sorted_intersect(a, b)").as("i"))
      .collect()
    assert(out(0).isNullAt(0) && out(1).isNullAt(0))
    assert(!out(2).isNullAt(0) && out(2).getSeq[Long](0).isEmpty)
  }

  test("type mismatch is an analysis error, not a runtime one") {
    import spark.implicits._
    GraftExtensions.register(spark)
    val e = intercept[Exception] {
      Seq(("x", Seq(1L))).toDF("a", "b")
        .select(expr("sorted_intersect(a, b)")).collect()
    }
    assert(e.getMessage.contains("sorted_intersect") ||
      e.getMessage.toLowerCase.contains("data type"))
  }

  test("nullable ELEMENT type is an analysis error (silent-corruption guard)") {
    import spark.implicits._
    GraftExtensions.register(spark)
    // Seq[Option[Long]] encodes as array<bigint> with containsNull=true —
    // exactly the shape whose null slots getLong() would misread as 0 /
    // undefined bytes. Must fail analysis, not return plausible data.
    val df = Seq((Seq(Option(1L), None, Option(3L)), Seq(Option(1L))))
      .toDF("a", "b")
    assert(df.schema("a").dataType
      .asInstanceOf[org.apache.spark.sql.types.ArrayType].containsNull)
    val e = intercept[Exception] {
      df.select(expr("sorted_intersect(a, b)")).collect()
    }
    assert(e.getMessage.contains("sorted_intersect") ||
      e.getMessage.toLowerCase.contains("data type"))
  }

  test("randomized equivalence with array_intersect on sorted arrays, both eval paths") {
    import spark.implicits._
    GraftExtensions.register(spark)
    val rnd = new scala.util.Random(13)
    // sorted DISTINCT arrays from a small id universe → dense overlap
    def arr(): Seq[Long] =
      (0 until rnd.nextInt(30)).map(_ => rnd.nextInt(40).toLong)
        .distinct.sorted
    val rows = Seq.fill(500)((arr(), arr()))
    val df = rows.toDF("a", "b")
    // one plan computes both spellings; any element/order divergence
    // surfaces as a non-equal pair
    val bad = df.select(
        expr("sorted_intersect(a, b)").as("x"),
        array_intersect(col("a"), col("b")).as("y"))
      .where(not(col("x") <=> col("y"))).count()
    assert(bad == 0, s"$bad rows diverged from array_intersect")
    // interpreted path (no whole-stage codegen) must agree too
    val prev = spark.conf.get("spark.sql.codegen.wholeStage", "true")
    spark.conf.set("spark.sql.codegen.wholeStage", "false")
    try {
      val bad2 = df.select(
          expr("sorted_intersect(a, b)").as("x"),
          array_intersect(col("a"), col("b")).as("y"))
        .where(not(col("x") <=> col("y"))).count()
      assert(bad2 == 0, s"$bad2 rows diverged on the interpreted path")
    } finally spark.conf.set("spark.sql.codegen.wholeStage", prev)
  }
}
