package graft.operators

import java.nio.file.{Files, Path, Paths, StandardCopyOption}

import org.apache.spark.sql.SparkSession

import graft.{SparkEntry, SparkSuite}

/** Ingest artifacts must follow the files they were built from: a
  * dataset rewritten under the same path, inside one session, answers
  * exactly as a fresh session does — with no release call in between.
  */
class ArtifactStoreSpec extends SparkSuite {

  private val rewritten = Seq("documents", "embeddings", "lineitem", "customer")

  /** A private copy of sf0.001, optionally with `rewritten` from sf0.01. */
  private def fixture(rewrite: Boolean): Path = {
    val dir = Files.createTempDirectory("graft-reingest")
    Files.list(Paths.get(sf("sf0.001"))).forEach(f => Files.copy(f, dir.resolve(f.getFileName)))
    if (rewrite) overwrite(dir)
    dir
  }

  private def overwrite(dir: Path): Unit = rewritten.foreach { t =>
    Files.copy(Paths.get(sf("sf0.01"), s"$t.parquet"), dir.resolve(s"$t.parquet"),
      StandardCopyOption.REPLACE_EXISTING)
  }

  test("a dataset rewritten in-session answers as a fresh session (d08, s07, q70, q53)") {
    // s07's registered row certifies its survivors against the same
    // pair list it read, so a stale list still certifies: its pair
    // artifact is compared as well
    val checks = Seq("d08_dedup_survivors", "s07_semantic_survivors",
        "q70_triangles", "q53_bloom_prebuilt").map(n => n -> SparkEntry.queries(n)) :+
      ("s07 pair artifact" -> ((s: SparkSession, d: String) =>
        Similarity.semPairs(s, d).orderBy("id_a", "id_b")))
    val names = checks.map(_._1)
    def run(s: SparkSession, dir: Path) =
      checks.map { case (_, q) => q(s, dir.toString).collect().toSeq }
    val dir = fixture(rewrite = false)
    run(spark, dir) // first ingest: every query builds its artifacts from sf0.001
    overwrite(dir)
    // the reference: a fresh session on a copy no session has read, so
    // no cached plan of the old files can match it
    val clean = fixture(rewrite = true)
    val ref = spark.newSession()
    // a fresh session on the rewritten dir, before `spark` reads it again
    val fresh = spark.newSession()
    try {
      val got = Seq("fresh session" -> run(fresh, dir), "same session" -> run(spark, dir))
      val want = run(ref, clean)
      val stale = for {
        (who, res) <- got
        ((n, r), w) <- names.zip(res).zip(want) if r != w
      } yield s"$n ($who)"
      assert(stale.isEmpty, s"served artifacts of the old files: ${stale.mkString(", ")}")
    } finally {
      ArtifactStore.release(spark, dir.toString)
      ArtifactStore.release(fresh, dir.toString)
      ArtifactStore.release(ref, clean.toString)
    }
  }
}
