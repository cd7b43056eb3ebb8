package graft.obs

import org.apache.spark.ListenerBusFlush
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col

import graft.SparkSuite

class QueryLayersSpec extends SparkSuite {

  private def sc = spark.sparkContext

  /** Runs `df` to the noop sink under `key` (None: unkeyed). */
  private def run(key: Option[String])(df: DataFrame): Unit = {
    key.foreach(sc.setLocalProperty(QueryLayers.QueryKey, _))
    try df.write.format("noop").mode("overwrite").save()
    finally sc.setLocalProperty(QueryLayers.QueryKey, null)
  }

  test("a keyed groupBy over 2 shuffle partitions reports its jobs, tasks and shuffle bytes") {
    val layers = QueryLayers.attach(sc)
    val s = spark.newSession()
    s.conf.set("spark.sql.shuffle.partitions", "2")
    run(Some("groupBy"))(s.range(0, 10000, 1, 4).groupBy((col("id") % 7).as("k")).count())
    ListenerBusFlush(sc)
    val l = layers.remove("groupBy")
    assert(l.jobs >= 1, s"$l")
    assert(l.tasks >= 2, s"$l")
    assert(l.shuffleWrite > 0, s"$l")
    assert(l.stages >= 1 && l.runMs >= 0 && l.cpuNs > 0, s"$l")
  }

  test("a keyed narrow query reports no shuffle bytes") {
    val layers = QueryLayers.attach(sc)
    run(Some("narrow"))(spark.range(0, 10000, 1, 4).select((col("id") * 2).as("x")))
    ListenerBusFlush(sc)
    val l = layers.remove("narrow")
    assert(l.jobs >= 1 && l.tasks >= 1, s"$l")
    assert(l.shuffleWrite == 0 && l.shuffleRead == 0, s"$l")
  }

  test("an unkeyed job is not counted") {
    val layers = QueryLayers.attach(sc)
    def job(key: Option[String]): Unit = run(key)(spark.range(0, 100, 1, 2).toDF())
    job(Some("keyed"))
    ListenerBusFlush(sc)
    val alone = layers.remove("keyed")
    assert(alone.jobs >= 1 && alone.tasks >= 1, s"$alone")
    job(Some("keyed"))
    job(None)
    ListenerBusFlush(sc)
    val l = layers.remove("keyed")
    assert((l.jobs, l.stages, l.tasks) == ((alone.jobs, alone.stages, alone.tasks)),
      s"with an unkeyed job: $l, alone: $alone")
  }

  test("a job started outside the exec phase counts in jobsOutsideExec") {
    val layers = QueryLayers.attach(sc)
    sc.setLocalProperty(QueryLayers.QueryKey, "phased")
    try {
      sc.setLocalProperty(QueryLayers.PhaseKey, "build")
      spark.range(0, 100, 1, 2).count()
      sc.setLocalProperty(QueryLayers.PhaseKey, "exec")
      spark.range(0, 100, 1, 2).write.format("noop").mode("overwrite").save()
    } finally {
      sc.setLocalProperty(QueryLayers.QueryKey, null)
      sc.setLocalProperty(QueryLayers.PhaseKey, null)
    }
    ListenerBusFlush(sc)
    val l = layers.remove("phased")
    assert(l.jobsOutsideExec >= 1 && l.jobs > l.jobsOutsideExec, s"$l")
  }

  test("a second attach returns the same listener, so each job is counted once") {
    val first = QueryLayers.attach(sc)
    val second = QueryLayers.attach(sc)
    assert(first eq second)
    run(Some("once"))(spark.range(0, 100, 1, 2).toDF())
    ListenerBusFlush(sc)
    val l = first.remove("once")
    run(Some("twice"))(spark.range(0, 100, 1, 2).toDF())
    ListenerBusFlush(sc)
    assert(second.remove("twice").jobs == l.jobs && l.jobs >= 1, s"$l")
  }
}
