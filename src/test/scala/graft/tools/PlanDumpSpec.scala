package graft.tools

import graft.{SparkEntry, SparkSuite}

/** PlanDump's files are a "plan unchanged" check between two commits,
  * so two builds of one query must dump the same text.
  */
class PlanDumpSpec extends SparkSuite {

  test("normalized plans of two q70 builds in one session are equal, before and after execution") {
    val dir = sf("sf0.001")
    // (before, after) execution, as PlanDump writes them with PLAN_EXEC unset / =1
    def build(): (String, String) = {
      val df = SparkEntry.queries("q70_triangles")(spark, dir)
      val before = PlanDump.formatted(df, exec = false)
      (before, PlanDump.formatted(df, exec = true))
    }
    val (before1, after1) = build()
    val (before2, after2) = build()
    // the raw texts differ (expression, stage and codegen ids), so the
    // equalities below are not vacuous
    assert(before1 != before2)
    assert(after1 != after2)
    assert(after1 != before1, "execution did not replace the initial adaptive plan")
    def firstDiff(a: String, b: String): String =
      a.split("\n").zipAll(b.split("\n"), "<end>", "<end>")
        .find { case (x, y) => x != y }.fold("")(d => s"first differing lines: $d")
    Seq(before1 -> before2, after1 -> after2).foreach { case (a, b) =>
      val (na, nb) = (PlanDump.normalize(a), PlanDump.normalize(b))
      assert(na == nb, firstDiff(na, nb))
    }
  }
}
