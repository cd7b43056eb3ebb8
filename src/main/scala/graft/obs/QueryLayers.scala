package graft.obs

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart,
  SparkListenerStageCompleted, SparkListenerTaskEnd}

/** What Spark's scheduler spent on one keyed unit of work, such as one
  * run of one query: jobs, the jobs started outside its `exec` phase
  * (eager side jobs: schema inference, sizing counts, artifact builds),
  * stages, tasks, executor run and CPU time, GC, and shuffle read,
  * shuffle write and spill bytes.
  */
final case class Layers(jobs: Long = 0, jobsOutsideExec: Long = 0, stages: Long = 0,
    tasks: Long = 0, runMs: Long = 0, cpuNs: Long = 0, gcMs: Long = 0,
    shuffleRead: Long = 0, shuffleWrite: Long = 0, spill: Long = 0) {
  def json: String =
    Seq("jobs" -> jobs, "jobs_outside_exec" -> jobsOutsideExec, "stages" -> stages,
      "tasks" -> tasks, "run_ms" -> runMs, "cpu_ms" -> cpuNs / 1000000, "gc_ms" -> gcMs,
      "shuffle_read" -> shuffleRead, "shuffle_write" -> shuffleWrite, "spill" -> spill)
      .map { case (k, v) => "\"" + k + "\":" + v }.mkString("{", ",", "}")
}

/** The per-query layer profile as a listener: attributes each job, and
  * its stages' tasks, to the key its thread set as the job-local
  * property [[QueryLayers.QueryKey]]. Jobs without a key are not
  * counted. A job whose [[QueryLayers.PhaseKey]] is set to anything
  * but `exec` also counts in `jobsOutsideExec`.
  *
  * {{{
  *   val layers = QueryLayers.attach(sc)
  *   sc.setLocalProperty(QueryLayers.QueryKey, "q01/run-1")
  *   try df.write.format("noop").mode("overwrite").save()
  *   finally sc.setLocalProperty(QueryLayers.QueryKey, null)
  *   ListenerBusFlush(sc)              // deliver the run's events
  *   val spent = layers.remove("q01/run-1")
  * }}}
  */
final class QueryLayers private () extends SparkListener {
  private val byKey = mutable.HashMap.empty[String, Layers]
  private val stageOwner = mutable.HashMap.empty[Int, String]
  private val jobStages = mutable.HashMap.empty[Int, Seq[Int]]

  /** The counters of `key` (zero if none of its jobs ran), forgotten
    * here. Flush the listener bus first to count every event posted.
    */
  def remove(key: String): Layers = synchronized(byKey.remove(key).getOrElse(Layers()))

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val props = Option(e.properties)
    props.flatMap(p => Option(p.getProperty(QueryLayers.QueryKey))).foreach { key =>
      val l = byKey.getOrElse(key, Layers())
      val outside = props.flatMap(p => Option(p.getProperty(QueryLayers.PhaseKey)))
        .exists(_ != "exec")
      byKey(key) = l.copy(jobs = l.jobs + 1,
        jobsOutsideExec = l.jobsOutsideExec + (if (outside) 1 else 0))
      e.stageIds.foreach(stageOwner.put(_, key))
      jobStages(e.jobId) = e.stageIds
    }
  }

  // A stage that a later job runs again is registered again by that
  // job's start, so ownership can end with the job that registered it.
  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobStages.remove(e.jobId).foreach(_.foreach(stageOwner.remove))
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    update(e.stageInfo.stageId)(l => l.copy(stages = l.stages + 1))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    Option(e.taskMetrics).foreach { m =>
      update(e.stageId)(l => l.copy(tasks = l.tasks + 1,
        runMs = l.runMs + m.executorRunTime, cpuNs = l.cpuNs + m.executorCpuTime,
        gcMs = l.gcMs + m.jvmGCTime,
        shuffleRead = l.shuffleRead + m.shuffleReadMetrics.totalBytesRead,
        shuffleWrite = l.shuffleWrite + m.shuffleWriteMetrics.bytesWritten,
        spill = l.spill + m.memoryBytesSpilled + m.diskBytesSpilled))
    }
  }

  private def update(stageId: Int)(f: Layers => Layers): Unit =
    for (key <- stageOwner.get(stageId); l <- byKey.get(key)) byKey(key) = f(l)
}

object QueryLayers {
  /** Job-local property naming the unit a job belongs to. */
  val QueryKey = "graft.obs.query"

  /** Job-local property naming the unit's phase; a job outside `exec`
    * counts in `jobsOutsideExec`.
    */
  val PhaseKey = "graft.obs.phase"

  private val attached = new java.util.WeakHashMap[SparkContext, QueryLayers]

  /** The context's one [[QueryLayers]], added to its listener bus on
    * the first call: every later call returns the same listener, so
    * each job is counted once.
    */
  def attach(sc: SparkContext): QueryLayers = attached.synchronized {
    Option(attached.get(sc)).getOrElse {
      val l = new QueryLayers
      sc.addSparkListener(l)
      attached.put(sc, l)
      l
    }
  }
}
