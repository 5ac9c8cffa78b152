package graft.ops

import graft.SparkEntry
import org.scalatest.funsuite.AnyFunSuite

/** The query registry: every query is declared once, with its plan and
  * its oracle SQL, and SparkEntry sees each declaration exactly once. */
class RegistrySpec extends AnyFunSuite {

  private val modules = Seq(WroQueries.declared, RelQueries.declared,
    LlmQueries.declared, CatalogQueries.declared, StreamQueries.declared,
    TsQueries.declared)

  test("no query name is declared twice, within or across modules") {
    val names = modules.flatten.map(_.name)
    assert(names.diff(names.distinct).isEmpty)
    assert(modules.map(_.size).sum == SparkEntry.queries.size)
  }

  test("every declared plan has oracle SQL and every oracle a plan") {
    assert(SparkEntry.queries.keySet == SparkEntry.oracleSql.keySet)
  }

  test("no declaration reads a value before it is initialized") {
    modules.flatten.foreach { q =>
      assert(q.plan != null, q.name)
      assert(q.oracle != null && q.oracle.trim.nonEmpty, q.name)
    }
  }

  test("registry refuses a name declared twice") {
    val q = Query("x", (_, _) => null, "SELECT 1")
    val e = intercept[IllegalArgumentException](
      registry(Seq(q, Query("y", q.plan, "SELECT 2"), q.copy(oracle = "SELECT 3"))))
    assert(e.getMessage.contains("declared twice: x"))
  }
}
