package graft
package registry

import org.scalatest.funsuite.AnyFunSuite

/** The query registry without a Spark session: projecting plans or
  * oracles only builds closures and SQL text.
  */
class RegistrySpec extends AnyFunSuite {

  test("every registered query has one plan and one oracle") {
    assert(SparkEntry.queries.size == 249)
    assert(SparkEntry.queries.keySet == SparkEntry.oracleSql.keySet)
    assert(SparkEntry.oracleSql.values.forall(_.trim.nonEmpty))
  }

  test("a name registered twice is refused") {
    object A extends Family {
      query("dup")((s, _) => s.emptyDataFrame)("SELECT 1")
    }
    object B extends Family {
      query("solo")((s, _) => s.emptyDataFrame)("SELECT 2")
      query("dup")((s, _) => s.emptyDataFrame)("SELECT 3")
    }
    object C extends Family {
      query("twice")((s, _) => s.emptyDataFrame)("SELECT 4")
      query("twice")((s, _) => s.emptyDataFrame)("SELECT 5")
    }
    val across = intercept[IllegalArgumentException](Registry.union(A, B))
    assert(across.getMessage.contains("dup") && !across.getMessage.contains("solo"))
    assert(intercept[IllegalArgumentException](Registry.union(C)).getMessage.contains("twice"))
    assert(Registry.union(B).keySet == Set("solo", "dup"))
  }

  test("building the plan table builds no oracle text") {
    var built = 0
    object F extends Family {
      query("q")((s, _) => s.emptyDataFrame) { built += 1; "SELECT 1" }
    }
    val entries = Registry.union(F)
    assert(entries("q").plan != null && built == 0)
    assert(entries("q").oracle == "SELECT 1" && built == 1)
  }
}
