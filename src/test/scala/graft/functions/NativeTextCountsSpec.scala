package graft.functions

import org.apache.spark.sql.functions._
import graft.SparkSuite

/** The native text counters' contract is exact equivalence with the
  * regex spellings the DuckDB oracles keep (TextOps documents the
  * pairing). This spec drives the edges the fixture corpus may not:
  * multi-byte code points inside/adjacent to runs, `_` as a word
  * character, boundaries at string edges, and a seeded randomized
  * equivalence sweep against Java's own regex engine.
  */
class NativeTextCountsSpec extends SparkSuite {

  private def ccc(text: String, mode: String): Int = {
    import spark.implicits._
    GraftExtensions.register(spark)
    Seq(text).toDF("t")
      .select(expr(s"char_class_count(t, '$mode')")).as[Int].head()
  }

  private def wlc(text: String, words: Seq[String]): Int = {
    import spark.implicits._
    GraftExtensions.register(spark)
    val arr = words.map(w => s"'$w'").mkString(", ")
    Seq(text).toDF("t")
      .select(expr(s"word_list_count(t, array($arr))")).as[Int].head()
  }

  test("char_class_count: runs, code points, and the regex contract's edges") {
    // alpha runs: unicode (2-byte é) breaks a run exactly like [A-Za-z]+
    assert(ccc("aéb c", "alpha_runs") == 3)      // "a", "b", "c"
    assert(ccc("", "alpha_runs") == 0)
    assert(ccc("abc", "alpha_runs") == 1)
    assert(ccc("ab1cd", "alpha_runs") == 2)
    assert(ccc("12 34x5", "digit_runs") == 3)
    // punct: CODE POINTS, not bytes — é (2 bytes) and 的 (3 bytes)
    // each count once; \x0B is Java-\s whitespace, not punct
    assert(ccc("é的!a 1", "punct_chars") == 3)
    assert(ccc("a.b,c", "punct_chars") == 2)
    // 4-byte supplementary code point counts once
    assert(ccc(new String(Character.toChars(0x1F600)), "punct_chars") == 1)
  }

  test("word_list_count: \\b equivalence edges") {
    val stops = Seq("the", "a", "of")
    assert(wlc("the cat", stops) == 1)
    assert(wlc("the", stops) == 1)                 // string-edge boundaries
    assert(wlc("the-a.of", stops) == 3)            // punct delimits
    assert(wlc("the的a", stops) == 2)              // CJK is non-word → boundary
    assert(wlc("the_ athe _of_", stops) == 0)      // _ is \w: no boundary
    assert(wlc("THE the The", stops) == 1)         // byte-exact (callers lower())
    assert(wlc("", stops) == 0)
    assert(wlc("ofofof of", stops) == 1)
  }

  test("native counters equal Java regex on seeded random unicode text") {
    val rnd = new scala.util.Random(7)
    val alphabet = "ab1 ._-é的\t\n!x9"
    val texts = Seq.fill(300)(
      (0 until rnd.nextInt(40)).map(_ =>
        alphabet(rnd.nextInt(alphabet.length))).mkString)
    val stopsRe = "\\b(the|a|of|and|to|in|is|it)\\b".r
    val stops = Seq("the", "a", "of", "and", "to", "in", "is", "it")
    for (t <- texts) {
      assert(ccc(t, "alpha_runs") == "[A-Za-z]+".r.findAllIn(t).size, s"alpha on '$t'")
      assert(ccc(t, "digit_runs") == "[0-9]+".r.findAllIn(t).size, s"digit on '$t'")
      assert(ccc(t, "punct_chars") == "[^A-Za-z0-9\\s]".r.findAllIn(t).size,
        s"punct on '$t'")
      // \b-divergence (below): restrict the Java-regex stop
      // comparison to ASCII text, where Java ≡ RE2
      if (t.forall(_ < 128))
        assert(wlc(t, stops) == stopsRe.findAllIn(t).size, s"stops on '$t'")
    }
  }

  test("word_list_count follows the ORACLE's (RE2) \\b, not Java's unicode \\b") {
    // Java regex makes \b unicode-aware even in default mode (é is a
    // word char for boundaries), while \w stays ASCII; DuckDB's RE2
    // uses the ASCII \w = [0-9A-Za-z_] for \b. The corpus gate
    // compares Spark to DuckDB, so the native counter implements the
    // RE2 definition — on 'ééa的 xa', RE2 counts ONE \ba\b match
    // (verified against DuckDB directly), Java regex counts zero.
    // The regex-based implementation this replaced carried that
    // latent cross-engine divergence; the fixture corpus never put a
    // non-ASCII letter adjacent to a stopword, which is why it never
    // fired.
    assert(wlc("ééa的 xa", Seq("a")) == 1)
    assert("\\ba\\b".r.findAllIn("ééa的 xa").size == 0,
      "if Java ever aligns \\b with RE2, fold the stop check above back to all texts")
  }

  test("alpha_tokens ≡ regexp_extract_all(lower(text), '[a-z]+') + length filter") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    GraftExtensions.register(spark)
    def at(text: String, minLen: Int): Seq[String] =
      Seq(text).toDF("t")
        .select(expr(s"alpha_tokens(t, $minLen)")).as[Seq[String]].head()
    // edges: case folding, unicode delimiters, min length, order+dups
    assert(at("The CAT sat", 1) == Seq("the", "cat", "sat"))
    assert(at("The CAT sat", 3) == Seq("the", "cat", "sat"))
    assert(at("ab1cd 的ef", 2) == Seq("ab", "cd", "ef")) // digits/CJK delimit
    assert(at("é", 1) == Nil)            // non-ASCII letter is NOT [a-z]
    assert(at("xéx", 1) == Seq("x", "x")) // ...and splits a run, dups kept
    assert(at("", 1) == Nil)
    assert(at("abc", 4) == Nil)
    assert(at("abcd", 4) == Seq("abcd")) // run ending at string edge
    // randomized sweep against the regex spelling the oracle keeps
    val rnd = new scala.util.Random(11)
    val alphabet = "aBc1 ._é的\tZ!x"
    for (_ <- 1 to 300) {
      val t = (0 until rnd.nextInt(50)).map(_ =>
        alphabet(rnd.nextInt(alphabet.length))).mkString
      val expect = "[a-z]+".r.findAllIn(t.toLowerCase).toSeq.filter(_.length >= 4)
      assert(at(t, 4) == expect, s"on '$t'")
    }
  }

  test("alpha_tokens requires pre-lowered input: the KELVIN-SIGN divergence") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    GraftExtensions.register(spark)
    // U+212A lowercases to ASCII 'k' (and U+0130 to 'i' + combining
    // dot) — the only way a non-ASCII letter enters [a-z]. The regex
    // pipeline lowercases FIRST, so "xKy" is ONE token "xky";
    // a raw-byte scan delimits at the 3-byte kelvin sign. t06 applies
    // lower() before alpha_tokens for exactly this reason — this test
    // pins both the divergence (raw) and the contract (lowered).
    val kelvin = "ax\u212Ayb cdef"
    val raw = Seq(kelvin).toDF("t")
      .select(expr("alpha_tokens(t, 2)")).as[Seq[String]].head()
    assert(raw == Seq("ax", "yb", "cdef"), s"raw-byte scan: $raw")
    val lowered = Seq(kelvin).toDF("t")
      .select(expr("alpha_tokens(lower(t), 2)")).as[Seq[String]].head()
    val viaRegex = "[a-z]+".r.findAllIn(kelvin.toLowerCase).toSeq.filter(_.length >= 2)
    assert(lowered == viaRegex && lowered == Seq("axkyb", "cdef"),
      s"lowered scan must match the regex pipeline: $lowered vs $viaRegex")
  }

  test("builder guards: bad mode, non-literal list, non-word word") {
    import spark.implicits._
    GraftExtensions.register(spark)
    val df = Seq("x").toDF("t")
    intercept[Exception] {
      df.select(expr("char_class_count(t, 'bogus')")).collect()
    }
    intercept[Exception] {
      df.select(expr("word_list_count(t, array('ok', 'not ok'))")).collect()
    }
    intercept[Exception] {
      df.select(expr("word_list_count(t, array())")).collect()
    }
    // foldable NULLs must be named type-check failures, not NPEs out
    // of the analyzer (r13 review finding)
    val nullMode = intercept[Exception] {
      df.select(expr("char_class_count(t, CAST(NULL AS STRING))")).collect()
    }
    assert(!nullMode.isInstanceOf[NullPointerException] &&
      nullMode.getMessage.contains("char_class_count"))
    val nullWord = intercept[Exception] {
      df.select(expr("word_list_count(t, array('the', NULL))")).collect()
    }
    assert(!nullWord.isInstanceOf[NullPointerException] &&
      nullWord.getMessage.contains("word_list_count"))
  }
}
