package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, TernaryExpression}
import org.apache.spark.sql.types.{BinaryType, DataType, IntegerType, LongType, StructField, StructType}

/** Native quiet-run (run-length) statistics over a binary column:
  * `quiet_runs(content, threshold, minRun)` →
  * `struct<maxr: bigint, nruns: bigint>` — the length of the longest
  * run of bytes with unsigned value < `threshold`, and the count of
  * such runs of length ≥ `minRun`.
  *
  * Replaces m09's per-byte `aggregate` HOF fold (a lambda invocation +
  * struct accumulator allocation + 1-byte `substring` slice PER BYTE)
  * with a tight primitive loop in whole-stage codegen — identical run
  * arithmetic, so the DuckDB gaps-and-islands oracle still
  * hash-matches. Also closes the fold's latent empty-content edge:
  * `sequence(1, octet_length)` on a 0-byte payload generates the
  * DESCENDING [1, 0] (Spark's default step is -1 when start > stop),
  * which fed two out-of-range substrings into the fold; the loop
  * simply doesn't run.
  */
case class QuietRuns(content: Expression, threshold: Expression,
    minRun: Expression) extends TernaryExpression {

  override def first: Expression = content
  override def second: Expression = threshold
  override def third: Expression = minRun

  override def checkInputDataTypes(): TypeCheckResult =
    if (content.dataType == BinaryType && threshold.dataType == IntegerType &&
        minRun.dataType == IntegerType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      "quiet_runs expects (binary, int, int), got " +
        s"(${content.dataType.sql}, ${threshold.dataType.sql}, ${minRun.dataType.sql})")

  override def dataType: DataType = StructType(Seq(
    StructField("maxr", LongType, nullable = false),
    StructField("nruns", LongType, nullable = false)))

  override def nullSafeEval(c: Any, t: Any, m: Any): Any = {
    val bytes = c.asInstanceOf[Array[Byte]]
    val thr = t.asInstanceOf[Int]
    val min = m.asInstanceOf[Int]
    var cur = 0L
    var maxr = 0L
    var nruns = 0L
    var i = 0
    while (i < bytes.length) {
      if ((bytes(i) & 0xff) < thr) {
        cur += 1L
        if (cur > maxr) maxr = cur
      } else {
        if (cur >= min) nruns += 1L
        cur = 0L
      }
      i += 1
    }
    if (cur >= min) nruns += 1L
    InternalRow(maxr, nruns)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (c, t, m) => {
      val cur = ctx.freshName("cur")
      val maxr = ctx.freshName("maxr")
      val nruns = ctx.freshName("nruns")
      val i = ctx.freshName("i")
      s"""
         |long $cur = 0L, $maxr = 0L, $nruns = 0L;
         |for (int $i = 0; $i < $c.length; $i++) {
         |  if (($c[$i] & 0xff) < $t) {
         |    $cur += 1L;
         |    if ($cur > $maxr) $maxr = $cur;
         |  } else {
         |    if ($cur >= $m) $nruns += 1L;
         |    $cur = 0L;
         |  }
         |}
         |if ($cur >= $m) $nruns += 1L;
         |${ev.value} = new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
         |  new Object[] { java.lang.Long.valueOf($maxr), java.lang.Long.valueOf($nruns) });
       """.stripMargin
    })

  override protected def withNewChildrenInternal(newFirst: Expression,
      newSecond: Expression, newThird: Expression): Expression =
    copy(content = newFirst, threshold = newSecond, minRun = newThird)
}
