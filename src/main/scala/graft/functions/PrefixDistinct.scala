package graft.functions

import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, TernaryExpression}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, BooleanType, DataType, IntegerType}

/** Native Catalyst prefix-disagreement test over two array<int>
  * columns: `prefix_distinct(a, b, n)` is TRUE iff `a(i) != b(i)` for
  * every `i < n` — i.e. the two code arrays disagree on the whole
  * length-`n` prefix. `n = 0` is vacuously TRUE.
  *
  * This is the LSH first-collision dedup's hot predicate
  * (Similarity.firstCollision): a candidate pair generated at bucket
  * table `t` survives iff no table before `t` also collided it, which
  * dedups each colliding pair to exactly one row with NO distinct
  * shuffle. The HOF spelling (`exists(sequence(0, n-1), i -> ...)`)
  * allocates the index sequence and boxes both elements per probe on
  * every candidate row — measured SLOWER than the redundant dot
  * products the dedup avoids (s03 at sf1: 37 s HOF vs 16 s no-dedup).
  * This expression is a primitive int loop inside whole-stage codegen
  * that short-circuits at the first agreeing table — for the dominant
  * duplicate class (near-identical pairs colliding in EVERY table)
  * that is table 0.
  */
case class PrefixDistinct(first: Expression, second: Expression,
    third: Expression) extends TernaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = {
    def ok(t: DataType): Boolean = t match {
      case ArrayType(IntegerType, _) => true
      case _ => false
    }
    if (ok(first.dataType) && ok(second.dataType) &&
        third.dataType == IntegerType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"prefix_distinct expects (array<int>, array<int>, int), got " +
        s"${first.dataType.sql}, ${second.dataType.sql}, ${third.dataType.sql}")
  }

  override def dataType: DataType = BooleanType

  override def prettyName: String = "prefix_distinct"

  /** `n` beyond either array's length is a caller bug, but the
    * function is registered cluster-wide (GraftExtensions), so an
    * arbitrary SQL call must fail loudly — UnsafeArrayData.getInt is
    * UNCHECKED and would silently read adjacent row memory (r13
    * review finding). Two comparisons per row against an array scan:
    * noise. Internal callers always pass n == the tables' prefix
    * length ≤ both code lengths.
    */
  private def checkBounds(x: ArrayData, y: ArrayData, upTo: Int): Unit =
    if (upTo > x.numElements() || upTo > y.numElements())
      throw new IllegalArgumentException(
        s"prefix_distinct: n=$upTo exceeds an input array's length " +
          s"(${x.numElements()}, ${y.numElements()})")

  override def nullSafeEval(a: Any, b: Any, n: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val upTo = n.asInstanceOf[Int]
    checkBounds(x, y, upTo)
    var i = 0
    while (i < upTo) {
      if (x.getInt(i) == y.getInt(i)) return false
      i += 1
    }
    true
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("pfd", this, classOf[PrefixDistinct].getName)
    nullSafeCodeGen(ctx, ev, (a, b, n) => {
      val i = ctx.freshName("i")
      val r = ctx.freshName("r")
      s"""
         |$ref.checkBoundsJava($a, $b, $n);
         |boolean $r = true;
         |for (int $i = 0; $i < $n; $i++) {
         |  if ($a.getInt($i) == $b.getInt($i)) { $r = false; break; }
         |}
         |${ev.value} = $r;
       """.stripMargin
    })
  }

  /** Codegen entry for [[checkBounds]] (public for generated code). */
  def checkBoundsJava(x: ArrayData, y: ArrayData, upTo: Int): Unit =
    checkBounds(x, y, upTo)

  override protected def withNewChildrenInternal(newFirst: Expression,
      newSecond: Expression, newThird: Expression): Expression =
    copy(first = newFirst, second = newSecond, third = newThird)
}
