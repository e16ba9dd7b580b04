package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** One declared engine capability: a named DataFrame query plus (when the
  * semantics are ANSI-SQL-expressible) an equivalent DuckDB oracle query.
  * The driver's t2 gate runs both at sf0.01 and hash-compares result sets
  * (columns sorted by name, rows sort-normalized).
  */
final case class QueryDef(
    name: String,
    run: (SparkSession, String) => DataFrame,
    oracle: Option[String],
    /** true = this query exists to pin a REFERENCE PLANNER SHAPE (e.g. the
      * canonical TPC-H q21 triple-fact-scan, the ds95 EXISTS self-join, the
      * all-pairs embedding baseline) whose plan is deliberately NOT the
      * 100 TB-scale path. Every parity shape has a scale-safe twin in the
      * registry (`*_fast`, LSH/IVF variants) pinned to the same oracle, and
      * the `Ops` facade must never route through a parity shape —
      * ParityShapeSpec asserts both. */
    parityShape: Boolean = false) {
  require(name.matches("[a-z0-9_]+"), s"query name must be a slug: $name")
}

object QueryDef {
  /** SQL-text query: same logical query is run through Spark SQL and given to
    * DuckDB verbatim (dialect-portable subset only). */
  def sql(name: String, sparkSql: String, duckSql: String): QueryDef =
    QueryDef(
      name,
      (spark, dir) => { Tables.registerAll(spark, dir); spark.sql(sparkSql) },
      Some(duckSql))

  /** SQL that is textually identical in both dialects. */
  def sqlSame(name: String, q: String): QueryDef = sql(name, q, q)

  /** Same-text SQL routed through the spread-view session
    * ([[Sessions.spread]]): identical rows — spread is a repartition
    * of the same data — but the scan-fused heavy work (partial
    * aggregation, pre-window staging) parallelizes past the degenerate
    * single-row-group fixture layout. Reserved for rows where a measured
    * A/B shows the extra exchange wins. */
  def sqlSpread(name: String, q: String): QueryDef = sqlSpread(name, q, q)

  /** spread-routed variant of [[sql]] (distinct DuckDB text). */
  def sqlSpread(name: String, sparkSql: String, duckSql: String): QueryDef =
    QueryDef(
      name,
      (spark, dir) => Sessions.spread(spark, dir).sql(sparkSql),
      Some(duckSql))
}

/** Cross-engine determinism helpers.
  *
  * The t2 gate compares raw values, so any double that is *computed* (rather
  * than passed through from parquet) must come out bit-identical from Spark
  * and DuckDB. Floating-point `sum()` is order-dependent, so we accumulate in
  * exact **fixed-point int64 cents** — all money/rate columns in the testdata
  * carry <=2 decimal places (FIXTURES.md), so `round(x*100)::long` is
  * lossless — and convert the exact integer to double at the very end.
  * This is how native engines implement decimal aggregation (int64/int128
  * fixed-point); in Spark it keeps the hash-agg on the primitive-long codegen
  * fast path, ~2x decimal(18,2) accumulation (measured at sf0.1).
  * Averages are the exact cent sum, then the identical IEEE double ops
  * (/100.0, /count) on both engines.
  *
  * Scale note: a long cents accumulator overflows past ~9e16 dollar-cents per
  * group (~1e11 rows of 1e5-dollar values). For a 100 TB global sum over an
  * unbounded money column, escalate to [[dec2]] (Spark plans decimal sums with
  * +10 precision headroom); for everything keyed or filtered, cents win.
  */
object Exact {
  /** lossless decimal image of a <=2-decimal-place double column */
  def dec2(c: Column): Column = c.cast(DecimalType(18, 2))

  /** exact int64 cents image of a <=2-dp double column (null-preserving) */
  def cents(c: Column): Column = round(c * lit(100)).cast(LongType)

  /** order-independent, bit-deterministic sum of a 2-dp double column */
  def sumd(c: Column): Column =
    sum(cents(c)).cast(DoubleType) / lit(100.0)

  /** bit-deterministic average of a 2-dp double column */
  def avgd(c: Column): Column =
    sum(cents(c)).cast(DoubleType) / lit(100.0) / count(c).cast(DoubleType)

  /** bit-deterministic sum of a*(1-b) for 2-dp a, b (TPC-H disc price):
    * integer basis-point units, one double conversion at the end. */
  def sumProdD(a: Column, b: Column): Column =
    sum(cents(a) * (lit(100L) - cents(b))).cast(DoubleType) / lit(10000.0)

  /** SQL-side mirrors (DuckDB + Spark SQL, both accept this spelling) */
  def centsSql(col: String): String =
    s"CAST(round($col * 100, 0) AS BIGINT)"
  def sumdSql(col: String): String =
    s"CAST(sum(${centsSql(col)}) AS DOUBLE) / 100.0"
  def avgdSql(col: String): String =
    s"CAST(sum(${centsSql(col)}) AS DOUBLE) / 100.0 / CAST(count($col) AS DOUBLE)"
  def sumProdDSql(a: String, b: String): String =
    s"CAST(sum(${centsSql(a)} * (100 - ${centsSql(b)})) AS DOUBLE) / 10000.0"
}
