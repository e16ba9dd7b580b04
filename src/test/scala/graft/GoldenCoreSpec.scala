package graft

import graft.operators.{GoldenAnsi, GoldenCore, GoldenSubq}

/** Error pins + inventory for the core-input golden port
  * (operators/GoldenCore.scala) and its ansi/ and subquery/ siblings, same
  * contract as GoldenPgSpec: each battery's stream replays through
  * [[BatteryPinSpec]], and the inventory pins per-file statement counts
  * against the reference golden .out files. */
class GoldenCoreSpec extends BatteryPinSpec {

  for {
    battery <- Seq(GoldenCore.battery, GoldenAnsi.battery, GoldenSubq.battery)
    base <- battery.bases
  } {
    test(s"${battery.prefix} $base: error TCs raise the pinned exception class") {
      pinErrors(battery, base)
    }
  }

  test("core inventory: every statement of every file is accounted for") {
    // statement counts from the reference golden .out files; charvarchar
    // is excluded (SHOW CREATE TABLE / ALTER TABLE metadata DDL — see
    // PORTING.md), hence absent here and from GoldenCore.bases
    val expectedTotals = Map(
      "array" -> 20, "bitwise" -> 27, "cast" -> 51, "comments" -> 10,
      "comparator" -> 10, "cross-join" -> 13, "csv-functions" -> 17,
      "cte" -> 15, "cte-nested" -> 16, "datetime" -> 122,
      "datetime-formatting" -> 31, "datetime-formatting-invalid" -> 37,
      "datetime-parsing" -> 25, "datetime-parsing-invalid" -> 19,
      "pred-pushdown" -> 4, "tablesample-negative" -> 6,
      "decimalArithmeticOperations" -> 40, "group-by" -> 62,
      "group-by-ordinal" -> 20, "grouping_set" -> 18, "having" -> 13,
      "inline-table" -> 17, "interval" -> 110,
      "join-empty-relation" -> 24, "json-functions" -> 71,
      "like-all" -> 14, "like-any" -> 14, "literals" -> 54, "map" -> 2,
      "misc-functions" -> 16, "natural-join" -> 6, "null-handling" -> 28,
      "operators" -> 69, "order-by-nulls-ordering" -> 17,
      "order-by-ordinal" -> 12, "outer-join" -> 6,
      "predicate-functions" -> 37, "regexp-functions" -> 40,
      "struct" -> 9, "table-valued-functions" -> 8, "timezone" -> 12,
      "udaf" -> 8, "union" -> 20)
    assert(GoldenCore.bases.toSet == expectedTotals.keySet)
    for (base <- GoldenCore.bases) {
      val (_, stmts) = GoldenCore.battery.load(base)
      assert(stmts.length == expectedTotals(base),
        s"$base: ${stmts.length} statements, golden has " +
          s"${expectedTotals(base)}")
    }
    // ansi/ directory twins (goldens recorded with ansi=true)
    val ansiTotals = Map(
      "array" -> 20, "datetime" -> 122,
      "decimalArithmeticOperations" -> 16,
      "higher-order-functions" -> 30, "interval" -> 110,
      "literals" -> 54, "map" -> 2, "parse-schema-string" -> 4,
      "string-functions" -> 36)
    assert(GoldenAnsi.bases.toSet == ansiTotals.keySet)
    for (base <- GoldenAnsi.bases) {
      val (_, stmts) = GoldenAnsi.battery.load(base)
      assert(stmts.length == ansiTotals(base),
        s"ansi/$base: ${stmts.length} statements, golden has " +
          s"${ansiTotals(base)}")
    }
    // subquery/ directory (entire tree, 28 files)
    val subqTotals = Map(
      "exists-aggregate" -> 11, "exists-basic" -> 13, "exists-cte" -> 8,
      "exists-having" -> 8, "exists-joins-and-set-ops" -> 17,
      "exists-orderby-limit" -> 12, "exists-within-and-or" -> 8,
      "in-basic" -> 7, "in-group-by" -> 19, "in-having" -> 12,
      "in-joins" -> 34, "in-limit" -> 8, "in-multiple-columns" -> 8,
      "in-order-by" -> 18, "in-set-operations" -> 16,
      "in-with-cte" -> 13, "invalid-correlation" -> 8,
      "nested-not-in" -> 21, "not-in-group-by" -> 8,
      "not-in-joins" -> 9, "not-in-unit-tests-multi-column" -> 9,
      "not-in-unit-tests-multi-column-literal" -> 4,
      "not-in-unit-tests-single-column" -> 10,
      "not-in-unit-tests-single-column-literal" -> 5,
      "scalar-subquery-predicate" -> 27, "scalar-subquery-select" -> 11,
      "simple-in" -> 14, "subq-input-typecheck" -> 10)
    assert(GoldenSubq.bases.toSet == subqTotals.keySet)
    for (base <- GoldenSubq.bases) {
      val (_, stmts) = GoldenSubq.battery.load(base)
      assert(stmts.length == subqTotals(base),
        s"subquery/$base: ${stmts.length} statements, golden has " +
          s"${subqTotals(base)}")
    }
  }
}
