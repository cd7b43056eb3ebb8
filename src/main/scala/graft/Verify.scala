package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    // Failures must be LOUD: a query that throws gets an entry in
    // errors.json and a final stdout count, so a missing result dir can
    // never be mistaken for success (round-8 lesson: 16 queries silently
    // vanished from the correctness file).
    val errors = scala.collection.mutable.LinkedHashMap.empty[String, String]
    // Optional subset (comma-separated names) for targeted scale runs
    // (e.g. the sf1 capture) — the driver's gate never sets this, so
    // the full suite remains the default.
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    val selected = only match {
      case Some(names) => SparkEntry.queries.filter(q => names(q._1))
      case None => SparkEntry.queries
    }
    // A subset run into a dir holding stale per-query dirs from a prior
    // full run would let local_verify.py report stale greens for the
    // unselected queries (the round-8 silent-staleness class). Make a
    // partial capture IMPOSSIBLE to mistake for a full one: drop a loud
    // SUBSET marker file that local_verify.py prints per run, and warn
    // on stdout when the target dir already has non-selected results.
    val markerPath = Paths.get(s"$outDir/SUBSET_MARKER")
    if (only.isDefined) {
      val names = selected.keySet
      val stale = Option(new java.io.File(outDir).listFiles()).getOrElse(Array.empty)
        .filter(f => f.isDirectory && !names(f.getName)).map(_.getName).sorted
      if (stale.nonEmpty) System.err.println(
        s"[verify] WARNING: SUBSET run into a dir with ${stale.length} " +
          s"non-selected result dirs (stale greens possible): " +
          stale.take(10).mkString(", ") + (if (stale.length > 10) ", …" else ""))
      Files.writeString(markerPath,
        s"SUBSET RUN (${names.size} of ${SparkEntry.queries.size} queries): " +
          names.toSeq.sorted.mkString(",") + "\n")
    } else Files.deleteIfExists(markerPath)
    selected.foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
        errors(name) = Option(e.getMessage).getOrElse(e.getClass.getName).take(500)
      }
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    val errJson = errors.map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/errors.json"), errJson)
    // Scale-robust oracle alternates (SparkEntry.oracleExt): the verify
    // harness swaps these in (GRAFT_VERIFY_EXT=1) where the pure-SQL
    // oracle is resource-unbounded at big SF (currently s07b's
    // recursive transitive closure).
    val extJson = SparkEntry.oracleExt.toSeq.sortBy(_._1).map { case (k, fields) =>
      s"${q(k)}: ${fields.toSeq.sortBy(_._1)
        .map { case (f, v) => s"${q(f)}: ${q(v)}" }.mkString("{", ",", "}")}"
    }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_ext.json"), extJson)
    println(s"""{"verify_failures": ${errors.size}}""")
    spark.stop()
  }
}
