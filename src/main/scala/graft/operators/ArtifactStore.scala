package graft.operators

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{DataFrame, SparkSession}

/** The ingest artifacts the registered queries read: shingle and
  * signature tables, near-dup pair lists and their component labels,
  * graph tables and prepared loops, LSH buckets, IVF/PQ indexes, the
  * q53 Bloom filter and the certification witnesses. At 100 TB each is
  * a table an ingest pipeline writes once; here it is a persisted
  * DataFrame (or a small value) kept per (session, dataset dir,
  * artifact name with its parameters), e.g. `lsh/ann/<planes>/<bits>`.
  *
  * The rules, the same for every artifact:
  *  - Each key is built at most once, even when first calls race: a
  *    key has its own slot, and its build runs under that slot's lock.
  *  - Builds nest: a build may `get` the artifacts it derives from
  *    (labels → pairs → shingles, signatures → shingles). It holds only
  *    its own slot's lock while it does, and no artifact derives from
  *    itself, so the locks cannot deadlock.
  *  - [[Build.keep]] persists a frame, materializes it and records it.
  *    If a build throws, everything it kept is released.
  *  - Each entry carries the dataset's [[graft.Tables.fingerprint]],
  *    taken before its build. Every `get` takes it again; on a mismatch
  *    the entry is released and rebuilt. So a dataset rewritten under
  *    the same path never serves answers built from the old files.
  *    Spark's cache is shared by all sessions and matches plans by
  *    path, so the first `get` to see a new fingerprint for a dir also
  *    refreshes every frame cached over it: no session's build can
  *    then pick up another session's frames of the old files.
  *  - [[release]] frees memory and nothing else: no answer depends on
  *    calling it.
  */
object ArtifactStore {

  /** What one build persisted, released together. */
  final class Build private[ArtifactStore] () {
    private val releases = ArrayBuffer.empty[() => Unit]

    /** Persist `df`, materialize it and record it; returns the frame
      * and its row count.
      */
    def keepCounted(df: DataFrame): (DataFrame, Long) = {
      val p = df.persist()
      releases += (() => p.unpersist())
      (p, p.count())
    }
    def keep(df: DataFrame): DataFrame = keepCounted(df)._1
    /** Record a release action for something kept outside [[keep]]. */
    def onRelease(f: => Unit): Unit = releases += (() => f)

    private[ArtifactStore] def release(): Unit = { releases.foreach(_()); releases.clear() }
  }

  private final class Entry(val value: Any, val fingerprint: Long, val build: Build)
  // `dropped`: released and unlinked from the map; a get that waited on
  // its lock goes back to the map for the current slot
  private final class Slot { var entry: Entry = null; var dropped = false }

  private val slots = new ConcurrentHashMap[(SparkSession, String, String), Slot]()
  // dir -> the fingerprint the last get saw
  private val current = new ConcurrentHashMap[String, java.lang.Long]()

  private[operators] def get[A](s: SparkSession, dir: String, name: String)(
      build: Build => A): A = {
    val slot = slots.computeIfAbsent((s, dir, name), _ => new Slot)
    val got = slot.synchronized {
      if (slot.dropped) None
      else {
        val fp = graft.Tables.fingerprint(s, dir)
        if (Option(current.put(dir, fp)).exists(_ != fp)) s.catalog.refreshByPath(dir)
        val cur = slot.entry
        if (cur != null && cur.fingerprint == fp) Some(cur.value)
        else {
          slot.entry = null
          if (cur != null) cur.build.release()
          val b = new Build
          val v = try build(b) catch { case e: Throwable => b.release(); throw e }
          slot.entry = new Entry(v, fp, b)
          Some(v)
        }
      }
    }
    got match {
      case Some(v) => v.asInstanceOf[A]
      case None => get(s, dir, name)(build)
    }
  }

  /** Drop every artifact built for `dir` in session `s` and release
    * what each persisted, prepared graph loops included. The next query
    * rebuilds what it reads.
    */
  def release(s: SparkSession, dir: String): Unit =
    slots.forEach { (key, slot) =>
      if ((key._1 eq s) && key._2 == dir) slot.synchronized {
        slots.remove(key, slot)
        slot.dropped = true
        if (slot.entry != null) { slot.entry.build.release(); slot.entry = null }
      }
    }
}
