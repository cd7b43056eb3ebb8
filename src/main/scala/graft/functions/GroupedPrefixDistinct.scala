package graft.functions

import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, QuaternaryExpression}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, BooleanType, DataType, IntegerType, LongType}

/** Native Catalyst GROUPED prefix-disagreement test over two
  * array<bigint> columns: `grouped_prefix_distinct(a, b, g, n)` is
  * TRUE iff for every group `j < n` the length-`g` slices
  * `a[j*g .. j*g+g)` and `b[j*g .. j*g+g)` differ in at least one
  * position. `n = 0` is vacuously TRUE.
  *
  * This is [[PrefixDistinct]] generalized from scalar codes to
  * fixed-width code GROUPS — the first-collision dedup predicate for
  * band-blocked MinHash (Dedup.minhashPairsFromSig): a band's bucket
  * is its `g` signature minima joined as a string, and two bucket
  * strings are equal iff the `g` values are pairwise equal
  * (comma-joined decimal longs are an injective encoding), so "no
  * band before `n` also collided this pair" is exactly this predicate
  * over the raw signature arrays the fetch joins already attach. Each
  * colliding pair then survives in exactly ONE band's row with NO
  * distinct shuffle — at sf5 d04's `dropDuplicates` moved ~100M
  * candidate rows through a full shuffle (same-pair rows live in
  * different (band, bucket) partitions, so map-side partial
  * aggregation never collapses them; SCALE.md's D04Probe@059cb1a showed the
  * stage spill/GC-bound either way).
  *
  * Like [[PrefixDistinct]], a primitive long loop inside whole-stage
  * codegen that short-circuits at the first fully-equal group — for
  * the dominant duplicate class (near-identical docs colliding in
  * EVERY band) that is group 0, four comparisons.
  */
case class GroupedPrefixDistinct(first: Expression, second: Expression,
    third: Expression, fourth: Expression) extends QuaternaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = {
    def ok(t: DataType): Boolean = t match {
      case ArrayType(LongType, _) => true
      case _ => false
    }
    if (ok(first.dataType) && ok(second.dataType) &&
        third.dataType == IntegerType && fourth.dataType == IntegerType)
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"grouped_prefix_distinct expects (array<bigint>, array<bigint>, int, int), got " +
        s"${first.dataType.sql}, ${second.dataType.sql}, ${third.dataType.sql}, ${fourth.dataType.sql}")
  }

  override def dataType: DataType = BooleanType

  override def prettyName: String = "grouped_prefix_distinct"

  /** Same loud-failure contract as [[PrefixDistinct.checkBounds]]:
    * the function is registered cluster-wide, and
    * UnsafeArrayData.getLong is UNCHECKED — an out-of-range probe
    * would silently read adjacent row memory. Also rejects a
    * non-positive group size (a zero `g` would make every group
    * vacuously equal and silently drop every pair).
    */
  private def checkBounds(x: ArrayData, y: ArrayData, g: Int, n: Int): Unit = {
    if (g <= 0)
      throw new IllegalArgumentException(
        s"grouped_prefix_distinct: group size must be positive, got $g")
    val upTo = g.toLong * n
    if (upTo > x.numElements() || upTo > y.numElements())
      throw new IllegalArgumentException(
        s"grouped_prefix_distinct: g*n=$upTo exceeds an input array's length " +
          s"(${x.numElements()}, ${y.numElements()})")
  }

  override def nullSafeEval(a: Any, b: Any, gs: Any, n: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val g = gs.asInstanceOf[Int]
    val groups = n.asInstanceOf[Int]
    checkBounds(x, y, g, groups)
    var j = 0
    while (j < groups) {
      var eq = true
      var k = j * g
      val end = k + g
      while (eq && k < end) {
        if (x.getLong(k) != y.getLong(k)) eq = false
        k += 1
      }
      if (eq) return false
      j += 1
    }
    true
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("gpd", this, classOf[GroupedPrefixDistinct].getName)
    nullSafeCodeGen(ctx, ev, (a, b, g, n) => {
      val j = ctx.freshName("j")
      val k = ctx.freshName("k")
      val end = ctx.freshName("end")
      val eq = ctx.freshName("eq")
      val r = ctx.freshName("r")
      s"""
         |$ref.checkBoundsJava($a, $b, $g, $n);
         |boolean $r = true;
         |for (int $j = 0; $j < $n; $j++) {
         |  boolean $eq = true;
         |  int $k = $j * $g;
         |  int $end = $k + $g;
         |  for (; $eq && $k < $end; $k++) {
         |    if ($a.getLong($k) != $b.getLong($k)) $eq = false;
         |  }
         |  if ($eq) { $r = false; break; }
         |}
         |${ev.value} = $r;
       """.stripMargin
    })
  }

  /** Codegen entry for [[checkBounds]] (public for generated code). */
  def checkBoundsJava(x: ArrayData, y: ArrayData, g: Int, n: Int): Unit =
    checkBounds(x, y, g, n)

  override protected def withNewChildrenInternal(newFirst: Expression,
      newSecond: Expression, newThird: Expression,
      newFourth: Expression): Expression =
    copy(first = newFirst, second = newSecond, third = newThird,
      fourth = newFourth)
}
