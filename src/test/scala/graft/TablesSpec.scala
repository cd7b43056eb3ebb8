package graft

import org.apache.spark.sql.types._

/** Schema canary for the driver-generated fixtures (FIXTURES.md §3-§5).
  *
  * Round-8 lesson: the testdata generator changed events.ts from
  * timestamp[ns] to timestamp[us] and 32 tests failed with an opaque
  * DATATYPE_MISMATCH deep inside query plans. This suite pins (a) the
  * *post-load* contract of Tables.events — always TimestampType — for
  * every physical variant the generator has shipped, and (b) each
  * fixture table's column set, so the next generator drift fails ONE
  * named test with a message pointing at FIXTURES.md.
  */
class TablesSpec extends SparkSuite {
  private val dir = sf("sf0.001")

  private def cols(df: org.apache.spark.sql.DataFrame): Set[String] =
    df.schema.fields.map(_.name).toSet

  test("events post-load schema: ts is TimestampType regardless of physical type (FIXTURES.md §3)") {
    val ev = Tables.events(spark, dir)
    val sch = ev.schema
    assert(sch("ts").dataType == TimestampType,
      s"Tables.events must normalize ts to TimestampType; got ${sch("ts").dataType}. " +
        "If the testdata generator changed the physical type again, extend the " +
        "match in Tables.events and document it in FIXTURES.md §3.")
    assert(sch("event_id").dataType == LongType)
    assert(sch("user_id").dataType == LongType)
    assert(sch("event_type").dataType == StringType)
    assert(sch("value").dataType == DoubleType)
    assert(sch("props").dataType == StringType)
    assert(ev.limit(1).count() == 1, "events must be readable end-to-end")
  }

  test("events ts values are sane (UTC, within the generated range)") {
    import org.apache.spark.sql.functions._
    val r = Tables.events(spark, dir)
      .agg(min("ts").as("lo"), max("ts").as("hi"), count(lit(1)).as("n"))
      .head()
    val lo = r.getTimestamp(0).toInstant
    val hi = r.getTimestamp(1).toInstant
    assert(r.getLong(2) > 0)
    assert(lo.isAfter(java.time.Instant.parse("2000-01-01T00:00:00Z")) &&
      hi.isBefore(java.time.Instant.parse("2100-01-01T00:00:00Z")),
      s"events.ts range [$lo, $hi] looks wrong — unit mix-up (s/ms/us/ns) in the " +
        "Tables.events repair? See FIXTURES.md §3.")
  }

  test("relational fixture tables have the documented column sets (FIXTURES.md §4)") {
    assert(cols(Tables.lineitem(spark, dir)) == Set(
      "l_orderkey", "l_partkey", "l_suppkey", "l_linenumber", "l_quantity",
      "l_extendedprice", "l_discount", "l_tax", "l_returnflag", "l_linestatus",
      "l_shipdate"), "lineitem columns drifted from FIXTURES.md §4")
    assert(cols(Tables.orders(spark, dir)) == Set(
      "o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice", "o_orderdate",
      "o_orderpriority"), "orders columns drifted from FIXTURES.md §4")
    assert(cols(Tables.customer(spark, dir)) == Set(
      "c_custkey", "c_name", "c_nationkey", "c_acctbal", "c_mktsegment"),
      "customer columns drifted from FIXTURES.md §4")
    assert(cols(Tables.supplier(spark, dir)) == Set(
      "s_suppkey", "s_name", "s_nationkey", "s_acctbal"),
      "supplier columns drifted from FIXTURES.md §4")
    assert(cols(Tables.part(spark, dir)) == Set(
      "p_partkey", "p_name", "p_brand", "p_type", "p_size", "p_retailprice"),
      "part columns drifted from FIXTURES.md §4")
    assert(cols(Tables.nation(spark, dir)) == Set("n_nationkey", "n_name", "n_regionkey"))
    assert(cols(Tables.region(spark, dir)) == Set("r_regionkey", "r_name"))
  }

  test("documents/embeddings fixture tables have the documented column sets (FIXTURES.md §5)") {
    assert(cols(Tables.documents(spark, dir)) == Set(
      "doc_id", "text", "lang", "source", "n_chars"),
      "documents columns drifted from FIXTURES.md §5")
    val emb = Tables.embeddings(spark, dir)
    assert(cols(emb) == Set("vec_id", "embedding", "label"),
      "embeddings columns drifted from FIXTURES.md §5")
    assert(emb.schema("embedding").dataType == ArrayType(FloatType, containsNull = true) ||
      emb.schema("embedding").dataType == ArrayType(FloatType, containsNull = false),
      s"embeddings.embedding must be array<float>; got ${emb.schema("embedding").dataType}")
  }

  private def fixtureCopy(): java.nio.file.Path = {
    val d = java.nio.file.Files.createTempDirectory("graft-fp")
    java.nio.file.Files.list(java.nio.file.Paths.get(dir))
      .forEach(f => java.nio.file.Files.copy(f, d.resolve(f.getFileName)))
    d
  }

  test("fingerprint is stable across calls on an untouched dir") {
    val d = fixtureCopy().toString
    val fp = Tables.fingerprint(spark, d)
    assert((1 to 3).map(_ => Tables.fingerprint(spark, d)).forall(_ == fp))
  }

  test("fingerprint changes when one table file is rewritten") {
    val d = fixtureCopy()
    val before = Tables.fingerprint(spark, d.toString)
    java.nio.file.Files.copy(java.nio.file.Paths.get(sf("sf0.01"), "customer.parquet"),
      d.resolve("customer.parquet"), java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    assert(Tables.fingerprint(spark, d.toString) != before)
  }

  test("fingerprint forks no process") {
    import jdk.jfr.Recording
    import jdk.jfr.consumer.RecordingFile
    import scala.jdk.CollectionConverters._
    val d = fixtureCopy().toString
    val rec = new Recording()
    rec.enable("jdk.ProcessStart")
    rec.start()
    try (1 to 5).foreach(_ => Tables.fingerprint(spark, d)) finally rec.stop()
    val jfr = java.nio.file.Files.createTempFile("graft-fp", ".jfr")
    rec.dump(jfr)
    rec.close()
    val forked = RecordingFile.readAllEvents(jfr).asScala
      .map(_.getString("command")).filter(_.contains(d))
    assert(forked.isEmpty, s"forked to fingerprint: ${forked.mkString("; ")}")
  }
}
