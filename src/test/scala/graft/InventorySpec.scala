package graft

import graft.queries.{QueryDef, ReferenceQueries}

/** Inventory contract: every declared query has an oracle and every
  * oracle has a query — the driver records a weaker rows-only check
  * for any gap, and a mismatched key silently orphans an oracle. The
  * count assertion keeps SURVEY.md's totals honest (they drifted once
  * when updated by hand).
  */
class InventorySpec extends SparkSpec {
  test("queries and oracles are exactly 1:1") {
    val names = SparkEntry.definitions.map(_.name)
    assert(names.size === 200, s"inventory size changed: ${names.size} — update SURVEY.md totals")
    assert(names.distinct.size === names.size)
    assert(SparkEntry.queries.keySet === names.toSet)
    assert(SparkEntry.oracleSql.keySet === names.toSet)
  }

  test("a query name defined twice is refused, not silently collapsed") {
    val d = ReferenceQueries.defs.head
    val e = intercept[IllegalArgumentException](
      QueryDef.byName(Seq(d, d.copy(oracleSql = "SELECT 1"))))
    assert(e.getMessage.contains(d.name))
  }
}
