package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnsafeArrayData}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, LongType}

/** Native Catalyst intersection of two SORTED array<bigint> columns —
  * one ascending merge scan, zero per-row hash structures.
  *
  * `array_intersect` is shape-agnostic: per ROW it builds a hash set
  * of one input and probes the other. The graph family's adjacency
  * arrays ([[graft.operators.Relational.trianglesFromOriented]] /
  * `linkJaccard`) are sorted ascending and duplicate-free BY
  * CONSTRUCTION (`array_sort(collect_list(dst))` over a canonical,
  * deduplicated edge list), so the hash set is pure overhead — on the
  * sf1 co-occurrence graph (12M oriented edges, O(√m)-bounded
  * out-lists) the per-edge intersection is the single largest cost in
  * both q70 and q76 (TriangleProbe2@059cb1a: 5.0 s of q70's 5.3 s total is
  * joins+intersect).
  *
  * CONTRACT (the bucket-table-style precondition; sortedness is
  * checked nowhere at runtime — checking would re-scan the arrays and
  * refund the win): both inputs must be sorted ascending. NULL
  * elements are rejected at ANALYSIS time (`checkInputDataTypes`
  * requires containsNull=false), because a null slot read via
  * getLong() would yield plausible-looking wrong data rather than an
  * error.
  * Duplicates are tolerated (the emit-once guard below dedups exactly
  * like `array_intersect`); unsorted input yields the intersection of
  * whatever ascending subsequences the merge scan happens to walk —
  * garbage in, garbage out. Order of the result: ascending, which on
  * sorted inputs is exactly `array_intersect`'s first-argument order.
  * NULL array → NULL (standard binary-expression null propagation).
  */
case class SortedIntersect(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = {
    // containsNull must be FALSE: the merge scan reads elements with
    // getLong(), which on a null slot returns 0 (interpreted) or
    // undefined bytes (UnsafeArrayData codegen) — plausible-looking
    // wrong data, unlike the unsorted-input case where GIGO is the
    // documented contract. All internal adjacency builders
    // (array_sort(collect_list(...))) produce containsNull=false, so
    // rejecting nullable elements costs nothing in-plan and turns a
    // silent-corruption path into an analysis error for SQL users.
    def ok(t: DataType): Boolean = t match {
      case ArrayType(LongType, false) => true
      case _ => false
    }
    if (ok(left.dataType) && ok(right.dataType)) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"sorted_intersect expects two array<bigint> arguments with " +
        s"non-nullable elements (containsNull=false), got " +
        s"${left.dataType.sql} (nullable elements not supported) and " +
        s"${right.dataType.sql}")
  }

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def prettyName: String = "sorted_intersect"

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val na = x.numElements()
    val nb = y.numElements()
    val out = new Array[Long](math.min(na, nb))
    var i = 0; var j = 0; var k = 0
    while (i < na && j < nb) {
      val xi = x.getLong(i)
      val yj = y.getLong(j)
      if (xi < yj) i += 1
      else if (xi > yj) j += 1
      else {
        // emit-once on duplicate runs, matching array_intersect's dedup
        if (k == 0 || out(k - 1) != xi) { out(k) = xi; k += 1 }
        i += 1; j += 1
      }
    }
    UnsafeArrayData.fromPrimitiveArray(java.util.Arrays.copyOf(out, k))
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val na = ctx.freshName("na")
      val nb = ctx.freshName("nb")
      val out = ctx.freshName("out")
      val i = ctx.freshName("i")
      val j = ctx.freshName("j")
      val k = ctx.freshName("k")
      val xi = ctx.freshName("xi")
      val yj = ctx.freshName("yj")
      s"""
         |int $na = $a.numElements();
         |int $nb = $b.numElements();
         |long[] $out = new long[$na < $nb ? $na : $nb];
         |int $i = 0, $j = 0, $k = 0;
         |while ($i < $na && $j < $nb) {
         |  long $xi = $a.getLong($i);
         |  long $yj = $b.getLong($j);
         |  if ($xi < $yj) { $i++; }
         |  else if ($xi > $yj) { $j++; }
         |  else {
         |    if ($k == 0 || $out[$k - 1] != $xi) { $out[$k] = $xi; $k++; }
         |    $i++; $j++;
         |  }
         |}
         |${ev.value} = org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
         |  .fromPrimitiveArray(java.util.Arrays.copyOf($out, $k));
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}
