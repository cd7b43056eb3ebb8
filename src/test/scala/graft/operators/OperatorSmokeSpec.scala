package graft.operators

import graft.{SparkEntry, SparkSuite}

/** Smoke coverage for every registered query at sf0.001: runs, has the
  * declared deterministic ordering column set, and returns rows (empty
  * results are legitimate only for selective predicates — none at this
  * SF). The exact-value gate is the driver's DuckDB oracle compare
  * (graft.Verify + tools/local_verify.py); these tests keep `sbt test`
  * meaningful without duplicating it.
  */
class OperatorSmokeSpec extends SparkSuite {

  private val dir = sf("sf0.001")

  // Legitimately empty at test SFs: every customer has orders, so the
  // anti join selects nothing (its oracle twin is empty too).
  private val mayBeEmpty = Set("q05_anti_join")

  SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
    test(s"$name runs and returns rows at sf0.001") {
      val df = fn(spark, dir)
      val n = df.count()
      if (!mayBeEmpty(name)) assert(n > 0, s"$name returned no rows")
    }
  }

  test("entry flagship returns rows (driver smoke contract)") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("every oracle key has a matching query") {
    val missing = SparkEntry.oracleSql.keySet -- SparkEntry.queries.keySet
    assert(missing.isEmpty, s"oracles without queries: $missing")
    val unchecked = SparkEntry.queries.keySet -- SparkEntry.oracleSql.keySet
    assert(unchecked.isEmpty, s"queries without oracles: $unchecked")
  }
}
