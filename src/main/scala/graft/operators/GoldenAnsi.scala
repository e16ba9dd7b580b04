package graft.operators

/** Port of the reference's `ansi/` SQLQueryTestSuite inputs (reference:
  * native-sql-engine/core/src/test/resources/sql-tests/inputs/ansi/ —
  * the batteries whose goldens were RECORDED with spark.sql.ansi.enabled
  * = true, i.e. the dialect this engine ships by default). Same pipeline
  * and contract as [[GoldenCore]]; these goldens are the closest
  * upstream anchor for our ANSI behavior, so their match-3.0 rates in
  * docs/CORE_DIVERGENCES.md §ansi run higher than the non-ansi twins
  * (e.g. datetime 93/115 vs 76/119). */
object GoldenAnsi {

  val bases: Seq[String] = Seq(
    "array", "datetime", "decimalArithmeticOperations",
    "higher-order-functions", "interval", "literals", "map",
    "parse-schema-string", "string-functions")

  val battery: Battery = Battery("ansi", bases)
}
