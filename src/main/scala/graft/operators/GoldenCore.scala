package graft.operators

import graft.QueryDef

/** Port of the remaining portable CORE SQLQueryTestSuite inputs
  * (reference: native-sql-engine/core/src/test/resources/sql-tests/
  * inputs/ — the top-level directory, complementing the thematic
  * `GoldenSqlt*` family ports of rounds 8-9 and this round's
  * typeCoercion/postgreSQL directory ports). Same contract as
  * [[GoldenPg]]: statements replay verbatim in file order through the
  * temp-view DML interpreter, value TCs pin (resolved type, stringified
  * rows) against literal probe-derived DuckDB oracles audited vs the
  * reference golden (docs/CORE_DIVERGENCES.md), error TCs pin their
  * Spark 4.1 exception class in GoldenCoreSpec, nondeterministic TCs
  * (wall clock, session identity, randomness) are tagged `skip:` at
  * generation. PORTING.md tallies all 92 reference input files as
  * ported / thematically-covered / excluded-with-reason. */
object GoldenCore {

  /** core input file bases ported via the battery pipeline */
  val bases: Seq[String] = Seq(
    // charvarchar excluded: its TCs are SHOW CREATE TABLE / ALTER TABLE
    // CHANGE COLUMN metadata DDL over a persistent catalog (0 portable
    // value TCs under temp-view replay); char/varchar value semantics are
    // covered by the cast batteries. See PORTING.md.
    "array", "bitwise", "cast", "comments", "comparator",
    "cross-join", "csv-functions", "cte", "cte-nested", "datetime",
    "datetime-formatting", "datetime-formatting-invalid",
    "datetime-parsing", "datetime-parsing-invalid",
    "decimalArithmeticOperations", "group-by", "group-by-ordinal",
    "grouping_set", "having", "inline-table", "interval",
    "join-empty-relation", "json-functions", "like-all", "like-any",
    "literals", "map", "misc-functions", "natural-join", "null-handling",
    "operators", "order-by-nulls-ordering", "order-by-ordinal",
    "outer-join", "pred-pushdown", "predicate-functions",
    "regexp-functions", "struct", "table-valued-functions",
    "tablesample-negative", "timezone", "udaf", "union")

  lazy val all: Seq[QueryDef] = GoldenPg.family("core", bases)
}
