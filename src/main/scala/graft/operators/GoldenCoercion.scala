package graft.operators

/** Port of the reference's `typeCoercion/native/` SQLQueryTestSuite
  * directory (reference: native-sql-engine/core/src/test/resources/
  * sql-tests/inputs/typeCoercion/native/ — 18 .sql files, 3033
  * statements): the implicit-cast promotion matrix, the largest semantic
  * battery in the reference's test tree.
  *
  * Replayed as the `coerce` [[Battery]]: every statement from a file is
  * executed VERBATIM through Spark SQL at query time; the pinned output
  * row per statement is `(tc, ty, c0..ck)` where `ty` is the ANALYZER's
  * resolved result type (the coercion decision the battery exists to
  * test). The DuckDB oracle is the literal golden expectation
  * (`resources/golden-coercion/coerce_<file>.oracle.sql`), derived from
  * the reference's own recorded golden output (results/typeCoercion/native/
  * .sql.out files) and re-adjudicated statement-by-statement against
  * Spark 4.1 ANSI semantics — `docs/COERCION_DIVERGENCES.md` documents
  * every statement where 4.1 diverges from the 3.0-era golden (ANSI
  * strictness rejections, ANSI string→numeric promotion, decimal-precision
  * rule changes) with category counts per file. Statements that ERROR
  * under Spark 4.1 ANSI are pinned as error-class assertions in
  * GoldenCoercionSpec (the row comparator can't see raised errors), whose
  * inventory test pins the partition: setups + value TCs + error TCs ==
  * the file's statement count, so no statement can silently drop out of
  * coverage. */
object GoldenCoercion {

  /** typeCoercion/native file bases, in reference directory order */
  val bases: Seq[String] = Seq(
    "arrayJoin", "binaryComparison", "booleanEquality", "caseWhenCoercion",
    "concat", "dateTimeOperations", "decimalPrecision", "division", "elt",
    "ifCoercion", "implicitTypeCasts", "inConversion", "mapZipWith",
    "mapconcat", "promoteStrings", "stringCastAndExpressions",
    "widenSetOperationTypes", "windowFrameCoercion")

  val battery: Battery = Battery("coerce", bases)
}
