package graft.operators

import graft.QueryDef

/** VERBATIM port of the reference's entire `subquery/` SQLQueryTestSuite
  * directory (reference: native-sql-engine/core/src/test/resources/
  * sql-tests/inputs/subquery/{exists-subquery,in-subquery,
  * scalar-subquery,negative-cases}/ — 28 files, 368 statements), closing
  * the directory the round-9 thematic ports (GoldenSqltSubquery{,2})
  * covered family-by-family. Same pipeline and contract as [[GoldenCore]].
  * Every one of the 1199→368 subquery TCs matches the reference's
  * recorded 3.0 golden bit-for-bit (docs/CORE_DIVERGENCES.md §subquery:
  * zero divergences — correlated/uncorrelated EXISTS/IN/NOT IN/scalar
  * subqueries are dialect-stable across Spark 3.0→4.1). */
object GoldenSubq {

  val bases: Seq[String] = Seq(
    "exists-aggregate", "exists-basic", "exists-cte", "exists-having",
    "exists-joins-and-set-ops", "exists-orderby-limit",
    "exists-within-and-or", "in-basic", "in-group-by", "in-having",
    "in-joins", "in-limit", "in-multiple-columns", "in-order-by",
    "in-set-operations", "in-with-cte", "invalid-correlation",
    "nested-not-in", "not-in-group-by", "not-in-joins",
    "not-in-unit-tests-multi-column",
    "not-in-unit-tests-multi-column-literal",
    "not-in-unit-tests-single-column",
    "not-in-unit-tests-single-column-literal",
    "scalar-subquery-predicate", "scalar-subquery-select", "simple-in",
    "subq-input-typecheck")

  lazy val all: Seq[QueryDef] = GoldenPg.family("subq", bases)
}
