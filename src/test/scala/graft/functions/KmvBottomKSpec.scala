package graft.functions

import org.apache.spark.sql.catalyst.expressions.{BoundReference, Literal}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

import graft.SparkSuite

/** Unit tests for the native bottom-k-distinct aggregate backing the
  * KMV sketch family (the same direct-expression coverage the other
  * native expressions get): buffer semantics, serde round-trip,
  * duplicate/eviction behavior, merge ≡ insert-all, and
  * partition-independence at the DataFrame level.
  */
class KmvBottomKSpec extends SparkSuite {

  private def agg(k: Int) = KmvBottomK(BoundReference(0, LongType, nullable = true), k)

  private def bufOf(a: KmvBottomK, xs: Seq[Long]) = {
    val b = a.createAggregationBuffer()
    xs.foreach(x => a.update(b, InternalRow(x)))
    b
  }

  test("buffer keeps the k smallest DISTINCT values, bounded at k, nulls skipped") {
    val a = agg(4)
    val b = bufOf(a, Seq(9L, 3L, 7L, 3L, 1L, 8L, 2L, 9L, 5L))
    assert(b.size == 4, "buffer must never exceed k")
    assert(a.eval(b).asInstanceOf[org.apache.spark.sql.catalyst.util.GenericArrayData]
      .toLongArray().toSeq == Seq(1L, 2L, 3L, 5L))
    // null input is a no-op
    val before = b.size
    a.update(b, InternalRow(null))
    assert(b.size == before)
    // below capacity: everything distinct kept, sorted
    val small = bufOf(a, Seq(42L, 7L))
    assert(a.eval(small).asInstanceOf[org.apache.spark.sql.catalyst.util.GenericArrayData]
      .toLongArray().toSeq == Seq(7L, 42L))
  }

  test("eviction: a value >= current kth-smallest never displaces, a duplicate never evicts") {
    val a = agg(3)
    val b = bufOf(a, Seq(10L, 20L, 30L))
    a.update(b, InternalRow(40L)) // >= max: ignored
    assert(b.last() == 30L && b.size == 3)
    a.update(b, InternalRow(20L)) // duplicate below max: no eviction
    assert(b.size == 3 && b.last() == 30L)
    a.update(b, InternalRow(5L)) // genuinely smaller: evicts 30
    assert(b.size == 3 && b.first() == 5L && b.last() == 20L)
  }

  test("serialize/deserialize round-trips the buffer; merge == inserting the other side's values") {
    val a = agg(5)
    val b1 = bufOf(a, Seq(1L, 4L, 9L, 16L, 25L, 36L))
    val back = a.deserialize(a.serialize(b1))
    assert(back.equals(b1), s"serde drift: $back vs $b1")
    val b2 = bufOf(a, Seq(2L, 4L, 50L))
    val merged = a.merge(a.deserialize(a.serialize(b1)), b2)
    val direct = bufOf(a, Seq(1L, 4L, 9L, 16L, 25L, 36L, 2L, 4L, 50L))
    assert(merged.equals(direct), "merge must equal inserting all values")
  }

  test("k < 2 and non-bigint input are analysis-time failures") {
    assert(!agg(1).checkInputDataTypes().isSuccess)
    assert(!KmvBottomK(Literal("x"), 4).checkInputDataTypes().isSuccess)
    assert(agg(2).checkInputDataTypes().isSuccess)
  }

  test("registered builder: wrong arity and non-literal k fail with clear messages") {
    GraftExtensions.register(spark)
    val one = intercept[Exception](
      spark.sql("SELECT kmv_bottomk(CAST(1 AS BIGINT)) AS x").collect())
    assert(one.getMessage.contains("2 arguments"),
      s"one-arg call must name the arity, got: ${one.getMessage}")
    val nonLit = intercept[Exception](
      spark.sql("SELECT kmv_bottomk(CAST(1 AS BIGINT), CAST(1 AS BIGINT) + 1) AS x")
        .collect())
    assert(nonLit.getMessage.contains("integer literal"),
      s"non-literal k must name the constraint, got: ${nonLit.getMessage}")
    // smallint (2S) / tinyint (2Y) literals are valid k encodings
    // (a CAST is an expression, not a literal — still rejected, by design)
    import spark.implicits._
    val r = Seq(5L, 3L, 9L).toDF("h")
      .selectExpr("kmv_bottomk(h, 2S) AS ks")
      .collect()(0).getSeq[Long](0)
    assert(r == Seq(3L, 5L), s"smallint k must work, got $r")
    val ry = Seq(5L, 3L, 9L).toDF("h")
      .selectExpr("kmv_bottomk(h, 2Y) AS ks")
      .collect()(0).getSeq[Long](0)
    assert(ry == Seq(3L, 5L), s"tinyint k must work, got $ry")
  }

  test("DataFrame-level: result is partition-count independent and equals brute force") {
    import spark.implicits._
    GraftExtensions.register(spark)
    val xs = (1 to 5000).map(i => ((i % 7).toString, (i * 2654435761L) % 100000))
    def run(parts: Int) =
      xs.toDF("g", "h").repartition(parts)
        .groupBy("g").agg(expr("kmv_bottomk(h, 16)").as("ks"))
        .collect().map(r => r.getString(0) -> r.getSeq[Long](1)).toMap
    val one = run(1)
    assert(run(13) == one, "bottom-k must be partition-independent")
    val brute = xs.groupBy(_._1).map { case (g, vs) =>
      g -> vs.map(_._2).distinct.sorted.take(16)
    }
    assert(one == brute, "aggregate must equal brute-force bottom-k distinct")
  }
}
