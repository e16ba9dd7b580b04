package graft

import graft.operators.GoldenPg

/** Error pins + inventory for the postgreSQL/ golden port
  * (operators/GoldenPg.scala), mirroring GoldenCoercionSpec: each
  * battery's statement stream replays through [[BatteryPinSpec]] (table
  * DML through the GoldenPg temp-view interpreter), and the inventory test
  * pins the per-file statement partition against the reference's golden
  * .out statement counts. */
class GoldenPgSpec extends BatteryPinSpec {

  private val sp = TestSpark.spark

  for (base <- GoldenPg.bases) {
    test(s"pg $base: error TCs raise the pinned exception class in order") {
      pinErrors(GoldenPg.battery, base)
    }
  }

  test("pg inventory: every statement of every file is accounted for") {
    // statement counts from the reference's golden .out files
    // (results/postgreSQL); insert.sql and create_view.sql are excluded
    // (catalog/metadata DDL), aggregates_part4 runs 0 statements upstream
    val expectedTotals = Map(
      "aggregates_part1" -> 44, "aggregates_part2" -> 29,
      "aggregates_part3" -> 5, "boolean" -> 92, "case" -> 35,
      "comments" -> 6, "date" -> 60, "float4" -> 43, "float8" -> 95,
      "groupingsets" -> 55, "int2" -> 35, "int4" -> 53, "int8" -> 85,
      "interval" -> 24, "join" -> 181, "limit" -> 7, "numeric" -> 592,
      "select" -> 37, "select_distinct" -> 19, "select_having" -> 22,
      "select_implicit" -> 38, "strings" -> 121, "text" -> 42,
      "timestamp" -> 30, "union" -> 72, "window_part1" -> 43,
      "window_part2" -> 31, "window_part3" -> 30, "window_part4" -> 39,
      "with" -> 51)
    assert(GoldenPg.bases.toSet == expectedTotals.keySet)
    for (base <- GoldenPg.bases) {
      val (_, stmts) = GoldenPg.battery.load(base)
      assert(stmts.length == expectedTotals(base),
        s"$base: ${stmts.length} statements, reference golden has " +
          s"${expectedTotals(base)}")
    }
  }

  test("pg fixtures match the regression-data row counts") {
    GoldenPg.registerFixtures(sp)
    assert(sp.table("onek").count() == 1000)
    assert(sp.table("tenk1").count() == 10000)
    assert(sp.table("aggtest").count() == 4)
    assert(sp.table("testdata").count() == 100)
  }
}
