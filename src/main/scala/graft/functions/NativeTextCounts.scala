package graft.functions

import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, IntegerType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Native single-pass text counters replacing the regex hot paths of
  * the token/quality operators (t01/t02): Java's regex engine plus the
  * `size(regexp_extract_all(...))` spelling (which `regexp_count`
  * merely RuntimeReplaces back into) materializes every match as a
  * string in an array just to count them — on a corpus-linear scan
  * that is the whole cost. These expressions compute the SAME counts
  * with one allocation-free byte scan each.
  *
  * Exact regex equivalence (the DuckDB oracles keep the regex
  * spelling, so the hash gate verifies this on every fixture text at
  * four scales):
  *
  *  - `char_class_count(text, 'alpha_runs')` ≡ count of
  *    `[A-Za-z]+` matches: maximal runs counted by byte transitions —
  *    any non-ASCII byte (lead or continuation, all ≥ 0x80) is
  *    non-alpha and breaks a run exactly like the regex does.
  *  - `char_class_count(text, 'digit_runs')` ≡ `[0-9]+` matches.
  *  - `char_class_count(text, 'punct_chars')` ≡ `[^A-Za-z0-9\s]`
  *    matches, i.e. CODE POINTS outside alnum and ASCII whitespace
  *    (Java `\s` = [ \t\n\x0B\f\r]): ASCII bytes test the class, a
  *    lead byte (≥ 0xC0) counts one code point, continuation bytes
  *    (0x80–0xBF) are skipped — code-point counting without
  *    decoding.
  *
  * The BPE-ish token count `[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]` is the
  * sum of all three (alternation order never merges or splits these
  * disjoint classes).
  */
case class CharClassCount(left: Expression, right: Expression)
    extends BinaryExpression {

  override def prettyName: String = "char_class_count"

  override def checkInputDataTypes(): TypeCheckResult =
    if (left.dataType != StringType)
      TypeCheckResult.TypeCheckFailure(
        s"char_class_count expects a string column, got ${left.dataType.sql}")
    else if (right.dataType != StringType || !right.foldable)
      TypeCheckResult.TypeCheckFailure(
        "char_class_count expects a literal mode string " +
          "('alpha_runs' | 'digit_runs' | 'punct_chars')")
    else right.eval(null) match {
      // a foldable NULL mode must fail the type check, not NPE in it
      // (r13 review finding)
      case null => TypeCheckResult.TypeCheckFailure(
        "char_class_count: mode must not be NULL")
      case m => CharClassCount.modeOf(m.asInstanceOf[UTF8String].toString) match {
        case Some(_) => TypeCheckResult.TypeCheckSuccess
        case None => TypeCheckResult.TypeCheckFailure(
          s"unknown char_class_count mode $m; expected " +
            "'alpha_runs', 'digit_runs' or 'punct_chars'")
      }
    }

  override def dataType: DataType = IntegerType

  private lazy val mode: Int = CharClassCount.modeOf(
    right.eval(null).asInstanceOf[UTF8String].toString).get

  /** Invoked from both eval and generated code. */
  def count(s: UTF8String): Int = CharClassCount.count(s, mode)

  override def nullSafeEval(a: Any, b: Any): Any =
    count(a.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("ccc", this, classOf[CharClassCount].getName)
    nullSafeCodeGen(ctx, ev, (a, _) => s"${ev.value} = $ref.count($a);")
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

object CharClassCount {
  val AlphaRuns = 0
  val DigitRuns = 1
  val PunctChars = 2

  def modeOf(s: String): Option[Int] = s match {
    case "alpha_runs" => Some(AlphaRuns)
    case "digit_runs" => Some(DigitRuns)
    case "punct_chars" => Some(PunctChars)
    case _ => None
  }

  private def isAlpha(b: Byte): Boolean =
    (b >= 'A' && b <= 'Z') || (b >= 'a' && b <= 'z')
  private def isDigit(b: Byte): Boolean = b >= '0' && b <= '9'
  // Java regex \s (non-unicode): space, \t, \n, \x0B, \f, \r
  private def isWs(b: Byte): Boolean =
    b == ' ' || b == '\t' || b == '\n' || b == 0x0B || b == '\f' || b == '\r'

  def count(s: UTF8String, mode: Int): Int = {
    val bytes = s.getBytes
    val n = bytes.length
    var c = 0
    var i = 0
    mode match {
      case AlphaRuns =>
        var in = false
        while (i < n) {
          val a = isAlpha(bytes(i))
          if (a && !in) c += 1
          in = a
          i += 1
        }
      case DigitRuns =>
        var in = false
        while (i < n) {
          val d = isDigit(bytes(i))
          if (d && !in) c += 1
          in = d
          i += 1
        }
      case PunctChars =>
        while (i < n) {
          val b = bytes(i)
          if ((b & 0x80) == 0) {
            if (!isAlpha(b) && !isDigit(b) && !isWs(b)) c += 1
            i += 1
          } else if ((b & 0xC0) == 0xC0) { // lead byte: one code point
            c += 1
            i += 1
          } else { // continuation byte
            i += 1
          }
        }
    }
    c
  }
}

/** Native whole-word occurrence counter:
  * `word_list_count(text, array('the', 'a', ...))` ≡ count of
  * `\b(w1|w2|...)\b` matches when every listed word consists of word
  * characters. A `\b` boundary sits exactly at the edges of maximal
  * `\w`-runs with `\w` = [A-Za-z0-9_] — the RE2 definition DuckDB's
  * oracle regexes use. (Java's regex engine makes `\b` unicode-aware
  * even in default mode while keeping `\w` ASCII, so the
  * regex-spelled implementation this replaced silently diverged from
  * the oracle whenever a non-ASCII letter sat adjacent to a listed
  * word — a latent cross-engine mismatch the fixture corpus never
  * fired; NativeTextCountsSpec pins the divergence case.) A
  * whole-word match is therefore a maximal word-character run
  * byte-equal to one of the list — countable in one scan with zero
  * allocation. Callers lowercase the text upstream, matching the
  * regex spelling.
  */
case class WordListCount(left: Expression, right: Expression)
    extends BinaryExpression {

  override def prettyName: String = "word_list_count"

  override def checkInputDataTypes(): TypeCheckResult =
    if (left.dataType != StringType)
      TypeCheckResult.TypeCheckFailure(
        s"word_list_count expects a string column, got ${left.dataType.sql}")
    else right.dataType match {
      case ArrayType(StringType, _) if right.foldable =>
        if (right.eval(null) == null)
          return TypeCheckResult.TypeCheckFailure(
            "word_list_count: word list must not be NULL")
        val ws = WordListCount.wordsOf(right)
        if (ws.isEmpty)
          TypeCheckResult.TypeCheckFailure("word_list_count: empty word list")
        // a NULL element NPEs numBytes below — name it instead
        // (r13 review finding)
        else if (ws.exists(_ == null))
          TypeCheckResult.TypeCheckFailure(
            "word_list_count: word list must not contain NULL elements")
        else if (ws.exists(w => w.numBytes == 0 ||
            !w.getBytes.forall(WordListCount.isWord)))
          TypeCheckResult.TypeCheckFailure(
            "word_list_count: words must be non-empty and consist of " +
              "word characters [A-Za-z0-9_] (the \\b-equivalence precondition)")
        else TypeCheckResult.TypeCheckSuccess
      case _ => TypeCheckResult.TypeCheckFailure(
        "word_list_count expects a literal array<string> word list")
    }

  override def dataType: DataType = IntegerType

  private lazy val words: Array[Array[Byte]] =
    WordListCount.wordsOf(right).map(_.getBytes).toArray

  /** Invoked from both eval and generated code. */
  def count(s: UTF8String): Int = {
    val bytes = s.getBytes
    val n = bytes.length
    var c = 0
    var i = 0
    while (i < n) {
      if (WordListCount.isWord(bytes(i))) {
        val start = i
        while (i < n && WordListCount.isWord(bytes(i))) i += 1
        val len = i - start
        var w = 0
        var found = false
        while (w < words.length && !found) {
          val cand = words(w)
          if (cand.length == len) {
            var j = 0
            while (j < len && cand(j) == bytes(start + j)) j += 1
            found = j == len
          }
          w += 1
        }
        if (found) c += 1
      } else {
        i += 1
      }
    }
    c
  }

  override def nullSafeEval(a: Any, b: Any): Any =
    count(a.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("wlc", this, classOf[WordListCount].getName)
    nullSafeCodeGen(ctx, ev, (a, _) => s"${ev.value} = $ref.count($a);")
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

object WordListCount {
  private[functions] def isWord(b: Byte): Boolean =
    (b >= 'A' && b <= 'Z') || (b >= 'a' && b <= 'z') ||
      (b >= '0' && b <= '9') || b == '_'

  private[functions] def wordsOf(e: Expression): Seq[UTF8String] = {
    val arr = e.eval(null).asInstanceOf[ArrayData]
    (0 until arr.numElements()).map(i =>
      arr.getUTF8String(i))
  }
}
