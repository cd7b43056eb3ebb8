package graft.functions

import scala.util.Try

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

class GraftExtensionsSpec extends AnyFunSuite {

  test("vector_dot is available in SQL via spark.sql.extensions") {
    // getOrCreate returns any active session (ignoring extensions), so
    // detach first; the underlying SparkContext is reused either way.
    val prior = SparkSession.getActiveSession.orElse(SparkSession.getDefaultSession)
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    val spark = SparkSession.builder()
      .master("local[2]")
      .appName("ext-spec")
      .config("spark.ui.enabled", "false")
      .withExtensions(new GraftExtensions)
      .getOrCreate()
    try {
      val got = spark.sql(
        "SELECT vector_dot(array(1.0D, 2.0D), array(3.0D, 4.0D)) AS d")
        .collect().head.getDouble(0)
      assert(got == 11.0)
      // byte_histogram: 256 buckets, unsigned indexing, exact counts
      val hist = spark.sql(
        "SELECT byte_histogram(CAST('aab' AS BINARY)) AS h")
        .collect().head.getSeq[Long](0)
      assert(hist.length == 256 && hist('a'.toInt) == 2 && hist('b'.toInt) == 1
        && hist.sum == 3)
      // high bytes index unsigned (a signed byte would go negative)
      val hi = spark.sql("SELECT byte_histogram(unhex('FF00FF')) AS h")
        .collect().head.getSeq[Long](0)
      assert(hi(255) == 2 && hi(0) == 1 && hi.sum == 3)
      // quiet_runs: run of 3 below-threshold bytes, split by a loud one;
      // minRun 2 counts only the first run, maxr sees it; trailing-run
      // close-out and the empty-content edge both covered
      val qr = spark.sql(
        "SELECT quiet_runs(unhex('010101FF0102'), 32, 2) AS r")
        .collect().head.getStruct(0)
      assert(qr.getLong(0) == 3 && qr.getLong(1) == 2) // maxr=3; runs: 3 and trailing 2
      val qr1 = spark.sql("SELECT quiet_runs(unhex('0101'), 32, 3) AS r")
        .collect().head.getStruct(0)
      assert(qr1.getLong(0) == 2 && qr1.getLong(1) == 0)
      val qr0 = spark.sql("SELECT quiet_runs(unhex(''), 32, 1) AS r")
        .collect().head.getStruct(0)
      assert(qr0.getLong(0) == 0 && qr0.getLong(1) == 0,
        "empty content must report zero runs (the old HOF fold's descending-sequence edge)")
      // resize_grid: 2x2 source grid FF 00 / 01 80 identity-resampled
      // (unsigned values), and downsampled 2x2 -> 1x1 picks byte (0,0)
      val rg = spark.sql(
        "SELECT resize_grid(unhex('FF000180'), 2, 2, 2) AS g")
        .collect().head.getSeq[Long](0)
      assert(rg == Seq(255L, 0L, 1L, 128L), s"identity resample: $rg")
      val rg1 = spark.sql("SELECT resize_grid(unhex('FF000180'), 2, 1, 1) AS g")
        .collect().head.getSeq[Long](0)
      assert(rg1 == Seq(255L))
      // content shorter than one source row -> null, not out-of-range
      assert(spark.sql("SELECT resize_grid(unhex('FF'), 2, 1, 1) AS g")
        .collect().head.isNullAt(0))
      // sorted_intersect: merge-scan intersection of sorted bigints
      val sx = spark.sql(
        "SELECT sorted_intersect(array(1L, 3L, 5L), array(2L, 3L, 5L)) AS i")
        .collect().head.getSeq[Long](0)
      assert(sx == Seq(3L, 5L), s"sorted_intersect via extensions: $sx")
      // alpha_tokens: lowercased alpha runs >= minLen
      val at = spark.sql("SELECT alpha_tokens('The CAT 的 sat1x', 3) AS t")
        .collect().head.getSeq[String](0)
      assert(at == Seq("the", "cat", "sat"), s"alpha_tokens via extensions: $at")
      // kmv_bottomk: aggregate also rides the extension path
      val km = spark.sql(
        "SELECT kmv_bottomk(h, 3) AS s FROM VALUES (5L),(1L),(9L),(3L) AS t(h)")
        .collect().head.getSeq[Long](0)
      assert(km == Seq(1L, 3L, 5L), s"kmv_bottomk via extensions: $km")
    } finally {
      prior.foreach { p =>
        SparkSession.setDefaultSession(p)
        SparkSession.setActiveSession(p)
      }
    }
  }

  /** One well-typed call per function in [[GraftExtensions.functions]]:
    * its SQL arguments, exactly the declared arity of them.
    */
  private val calls: Map[String, Seq[String]] = Map(
    "vector_dot" -> Seq("array(1.0D, 2.0D)", "array(3.0D, 4.0D)"),
    "vector_cosine" -> Seq("array(3.0D, 4.0D)", "array(4.0D, 3.0D)"),
    "byte_histogram" -> Seq("CAST('aab' AS BINARY)"),
    "quiet_runs" -> Seq("unhex('010101FF0102')", "32", "2"),
    "resize_grid" -> Seq("unhex('FF000180')", "2", "2", "2"),
    "prefix_distinct" -> Seq("array(1, 2, 3, 4)", "array(9, 2, 3, 9)", "2"),
    "grouped_prefix_distinct" ->
      Seq("array(1L, 2L, 3L, 4L)", "array(1L, 9L, 3L, 4L)", "2", "1"),
    "char_class_count" -> Seq("'a1b c'", "'alpha_runs'"),
    "word_list_count" -> Seq("'the cat and the hat'", "array('the', 'a')"),
    "alpha_tokens" -> Seq("'The CAT sat1x'", "3"),
    "sorted_intersect" -> Seq("array(1L, 3L, 5L)", "array(2L, 3L, 5L)"),
    "kmv_bottomk" -> Seq("h", "3"))

  test("every table function runs and checks its arity on both registration paths") {
    assert(calls.keySet == GraftExtensions.functions.map(_.name).toSet,
      "each function in the table needs a sample call")
    val prior = SparkSession.getActiveSession.orElse(SparkSession.getDefaultSession)
    def detached(b: SparkSession.Builder): SparkSession = {
      SparkSession.clearActiveSession()
      SparkSession.clearDefaultSession()
      b.master("local[2]").appName("ext-spec")
        .config("spark.ui.enabled", "false").getOrCreate()
    }
    def run(s: SparkSession, name: String, args: Seq[String]) =
      s.sql(s"SELECT $name(${args.mkString(", ")}) AS r " +
        "FROM VALUES (5L), (1L), (9L), (3L) AS t(h)").collect().toSeq
    def messages(t: Throwable): Seq[String] =
      Iterator.iterate(t)(_.getCause).takeWhile(_ != null)
        .map(e => String.valueOf(e.getMessage)).toSeq
    val wrongArity = scala.collection.mutable.ArrayBuffer.empty[String]
    try {
      val perSession = detached(SparkSession.builder())
      GraftExtensions.register(perSession)
      val extension = detached(SparkSession.builder().withExtensions(new GraftExtensions))
      val results = Seq("per-session" -> perSession, "extension" -> extension)
        .map { case (path, s) =>
          GraftExtensions.functions.map { f =>
            val args = calls(f.name)
            assert(args.length == f.arity, s"${f.name}: sample call arity")
            val got = run(s, f.name, args)
            assert(got.nonEmpty && got.forall(!_.isNullAt(0)), s"$path ${f.name}: $got")
            for (bad <- Seq(args :+ args.last, args.init)) {
              val outcome = Try(run(s, f.name, bad))
              if (!outcome.failed.toOption.exists(e => messages(e).exists(_.contains(
                  s"${f.name} expects ${f.arity} arguments, got ${bad.length}"))))
                wrongArity += s"$path ${f.name} with ${bad.length} arguments: " +
                  outcome.toString.take(160)
            }
            f.name -> got
          }
        }
      if (wrongArity.nonEmpty) fail(wrongArity.mkString("\n"))
      assert(results(0) == results(1), "the two paths disagree")
    } finally {
      prior.foreach { p =>
        SparkSession.setDefaultSession(p)
        SparkSession.setActiveSession(p)
      }
    }
  }
}
