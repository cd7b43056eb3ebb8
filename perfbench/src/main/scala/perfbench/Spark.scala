package perfbench

import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.concurrent.TrieMap
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}

/** Session lifecycle shared by the workloads. Everything Spark writes
  * (shuffle/spill files, warehouse) stays under the run's work dir.
  */
object Spark {
  def start(cores: Int, work: java.nio.file.Path): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  def localProperty(key: String): Option[String] =
    SparkSession.getDefaultSession.flatMap(s => Option(s.sparkContext.getLocalProperty(key)))

  /** Blocks until every listener has seen every event posted so far. */
  def drainEvents(spark: SparkSession): Unit =
    org.apache.spark.PerfbenchBus.waitUntilEmpty(spark.sparkContext)

  /** Storage held by persisted RDDs/Datasets, memory plus disk, in MB. */
  def cachedMb(spark: SparkSession): Double =
    spark.sparkContext.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum / 1e6
}

/** Per-query and per-batch scheduler counters, attributed through the
  * local properties the harness sets on the thread running the query
  * (Spark copies them onto every job the thread or its broadcast helpers
  * submit).
  */
class SchedulerCounters extends SparkListener {
  final class Stats {
    var jobs, jobsOutsideExec, stages, tasks = 0L
    var runMs, cpuNs, gcMs, shuffleRead, shuffleWrite, spill = 0L
  }
  val byQuery = TrieMap.empty[String, Stats]
  val jobsByBatch = TrieMap.empty[String, Long]
  private val stageOwner = TrieMap.empty[Int, String]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val props = Option(e.properties)
    props.flatMap(p => Option(p.getProperty(SchedulerCounters.QueryKey))).foreach { q =>
      val st = byQuery.getOrElseUpdate(q, new Stats)
      st.jobs += 1
      if (!props.flatMap(p => Option(p.getProperty(SchedulerCounters.PhaseKey))).contains("exec"))
        st.jobsOutsideExec += 1
      e.stageIds.foreach(stageOwner.put(_, q))
    }
    for (p <- props; b <- Option(p.getProperty(Trace.BatchIdKey));
         id <- Option(p.getProperty("sql.streaming.queryId"))) {
      val k = s"$id/$b"
      jobsByBatch.put(k, jobsByBatch.getOrElse(k, 0L) + 1)
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    stageOwner.get(e.stageInfo.stageId).flatMap(byQuery.get).foreach(_.stages += 1)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    for (q <- stageOwner.get(e.stageId); st <- byQuery.get(q); m <- Option(e.taskMetrics)) {
      st.tasks += 1
      st.runMs += m.executorRunTime
      st.cpuNs += m.executorCpuTime
      st.gcMs += m.jvmGCTime
      st.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      st.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      st.spill += m.memoryBytesSpilled + m.diskBytesSpilled
    }
  }
}

object SchedulerCounters {
  val QueryKey = "perfbench.query"
  val PhaseKey = "perfbench.phase"
}

/** Collects every micro-batch progress report, keyed by query name. */
class ProgressLog extends StreamingQueryListener {
  val reports = new ConcurrentLinkedQueue[StreamingQueryProgress]()
  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
    reports.add(e.progress)
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  def of(queryName: String): Seq[StreamingQueryProgress] =
    reports.asScala.filter(_.name == queryName).toSeq.sortBy(_.batchId)
}
