package graft.functions

import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

/** Session-extension entry point — the idiomatic way to ship the
  * engine's custom Catalyst functions to every session in a cluster:
  *
  * {{{
  * spark-submit --conf spark.sql.extensions=graft.functions.GraftExtensions ...
  * // or
  * SparkSession.builder().withExtensions(new GraftExtensions)
  * }}}
  *
  * Sessions built without it get the same functions from
  * [[GraftExtensions.register]], which every query builder calls.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(e: SparkSessionExtensions): Unit =
    GraftExtensions.functions.foreach(f =>
      e.injectFunction((FunctionIdentifier(f.name),
        new ExpressionInfo(f.cls.getCanonicalName, f.name), f.build _)))
}

object GraftExtensions {
  /** One SQL function: `make` sees exactly `arity` arguments. */
  case class SqlFunction(name: String, cls: Class[_ <: Expression], arity: Int,
      make: Seq[Expression] => Expression) {
    /** The builder both registration paths install. A wrong-arity SQL
      * call fails naming the function, instead of dropping extra
      * arguments or throwing IndexOutOfBoundsException from `make`.
      */
    def build(exprs: Seq[Expression]): Expression = {
      require(exprs.length == arity,
        s"$name expects $arity arguments, got ${exprs.length}")
      make(exprs)
    }
  }

  /** graft's SQL functions, declared once for both paths. */
  val functions: Seq[SqlFunction] = Seq(
    SqlFunction("vector_dot", classOf[VectorDot], 2,
      a => VectorDot(a(0), a(1))),
    SqlFunction("vector_cosine", classOf[VectorCosine], 2,
      a => VectorCosine(a(0), a(1))),
    SqlFunction("byte_histogram", classOf[ByteHistogram], 1,
      a => ByteHistogram(a(0))),
    SqlFunction("quiet_runs", classOf[QuietRuns], 3,
      a => QuietRuns(a(0), a(1), a(2))),
    SqlFunction("resize_grid", classOf[ResizeGrid], 4,
      a => ResizeGrid(a(0), a(1), a(2), a(3))),
    SqlFunction("prefix_distinct", classOf[PrefixDistinct], 3,
      a => PrefixDistinct(a(0), a(1), a(2))),
    SqlFunction("grouped_prefix_distinct", classOf[GroupedPrefixDistinct], 4,
      a => GroupedPrefixDistinct(a(0), a(1), a(2), a(3))),
    SqlFunction("char_class_count", classOf[CharClassCount], 2,
      a => CharClassCount(a(0), a(1))),
    SqlFunction("word_list_count", classOf[WordListCount], 2,
      a => WordListCount(a(0), a(1))),
    SqlFunction("alpha_tokens", classOf[AlphaTokens], 2,
      a => AlphaTokens(a(0), a(1))),
    SqlFunction("sorted_intersect", classOf[SortedIntersect], 2,
      a => SortedIntersect(a(0), a(1))),
    SqlFunction("kmv_bottomk", classOf[KmvBottomK], 2,
      KmvBottomK.fromExprs))

  /** Register every function the session lacks, so `expr(...)` and SQL
    * can call them. Idempotent AND quiet: replacing an existing entry
    * logs a registry WARN per call, and query builders call this once
    * per query construction.
    */
  def register(s: SparkSession): Unit = {
    val registry = s.sessionState.functionRegistry
    functions.foreach(f =>
      if (!registry.functionExists(FunctionIdentifier(f.name)))
        registry.createOrReplaceTempFunction(f.name, f.build, "built-in"))
  }
}
