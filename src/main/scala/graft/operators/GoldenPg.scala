package graft.operators

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._

/** Port of the reference's `postgreSQL/` SQLQueryTestSuite directory
  * (reference: native-sql-engine/core/src/test/resources/sql-tests/
  * inputs/postgreSQL/ — the PostgreSQL regression batteries adapted to
  * Spark SQL by the upstream project): aggregates_part1-4, join,
  * window_part1-4, with, numeric, the int/float/boolean/text type
  * batteries, select variants, limit, union, date/timestamp, case,
  * groupingsets, strings, interval, comments.
  *
  * Replayed as the `pg` [[Battery]]: every statement replays verbatim in
  * file order; value TCs pin `(tc, resolved type, stringified rows)`
  * against a literal DuckDB oracle derived from the probe run and audited
  * statement-by-statement against the reference's recorded golden output
  * (`docs/PG_DIVERGENCES.md`); statements that raise under Spark 4.1 ANSI
  * are pinned by exception class in GoldenPgSpec, and the inventory test
  * pins the setup/value/error partition per file.
  *
  * Every battery's non-query statements run through the interpreter
  * below, because these batteries mutate tables (CREATE TABLE … USING
  * parquet, 600+ INSERTs, TRUNCATE, ALTER RENAME, DROP). Executing that
  * DML against real managed tables would write a warehouse directory and
  * launch a parquet job per INSERT
  * (~30-100 s per run for numeric.sql alone), so [[PgCatalog]] interprets
  * the DML over TEMP VIEWS instead: a "table" is a stack of DataFrames
  * (typed empty base + one frame per INSERT, values cast to the declared
  * column types exactly as INSERT coercion would), re-registered as a
  * temp view after each mutation — catalog operations only, no jobs, no
  * files, identical SELECT semantics. The pg fixture tables
  * (onek/tenk1/aggtest, from the PostgreSQL regression data bundled
  * under resources/pgdata/) and Spark's standard testdata/arraydata/
  * mapdata register as temp views up front. */
object GoldenPg {

  /** Interpreted table: declared columns (name, Spark SQL type), the
    * conformed row buffer whose contents ARE the table (registered as one
    * LocalRelation — a DataFrame-stack union would make the view a
    * 500-branch plan after numeric.sql's 519 row-at-a-time INSERTs, and
    * coalescing those inserts into multi-tuple VALUES is NOT
    * semantics-preserving: Spark widens a multi-tuple VALUES to a common
    * type first, which can drop decimal scale the single-tuple insert
    * kept). Each INSERT is analyzed alone, conformed to the declared
    * column types, collected (local, no job for literal VALUES) and
    * appended. */
  private final class Tbl(
      var cols: Seq[(String, String)],
      var schema: StructType,
      val rows: mutable.Buffer[Row])

  /** Session-scoped interpreter state for one battery run. */
  final class PgCatalog {
    private[GoldenPg] val tables = mutable.Map[String, Tbl]()
  }

  private val CreateTable =
    """(?is)\s*CREATE\s+TABLE\s+(\w+)\s*\((.*)\)\s*USING\s+\w+\s*""".r
  private val CreateTableAs =
    """(?is)\s*CREATE\s+TABLE\s+(\w+)\s+USING\s+\w+\s+AS\s+(.*)""".r
  private val CreateView =
    """(?is)\s*CREATE\s+(?:OR\s+REPLACE\s+)?(?:TEMPORARY\s+|TEMP\s+)?VIEW\s+(\w+)(?:\s*\(([^)]*)\))?\s+AS\s+(.*)""".r
  private val InsertValues =
    """(?is)\s*INSERT\s+INTO\s+(\w+)\s+(VALUES\b.*)""".r
  private val InsertSelect =
    """(?is)\s*INSERT\s+INTO\s+(\w+)\s+(SELECT\s+.*|WITH\s+.*|TABLE\s+.*)""".r
  private val Truncate = """(?is)\s*TRUNCATE\s+(?:TABLE\s+)?(\w+)\s*""".r
  private val AlterRename =
    """(?is)\s*ALTER\s+TABLE\s+(\w+)\s+RENAME\s+TO\s+(\w+)\s*""".r
  private val DropTable =
    """(?is)\s*DROP\s+(?:TABLE|VIEW)\s+(?:IF\s+EXISTS\s+)?(\w+)\s*.*""".r
  private val SetStmt = """(?is)\s*(?:SET|RESET)\b.*""".r

  /** split a column list on top-level commas */
  private def splitCols(s: String): Seq[String] = {
    val out = mutable.Buffer[String]()
    var depth = 0
    val cur = new StringBuilder
    s.foreach {
      case '(' => depth += 1; cur.append('(')
      case ')' => depth -= 1; cur.append(')')
      case ',' if depth == 0 => out += cur.toString; cur.clear()
      case c => cur.append(c)
    }
    if (cur.nonEmpty) out += cur.toString
    out.toSeq.map(_.trim).filter(_.nonEmpty)
  }

  private def refresh(spark: SparkSession, name: String, t: Tbl): Unit =
    spark.createDataFrame(
      java.util.Arrays.asList(t.rows.toSeq: _*), t.schema)
      .createOrReplaceTempView(name)

  private def emptyFrame(spark: SparkSession,
      cols: Seq[(String, String)]): DataFrame =
    spark.sql("SELECT " + cols.map { case (n, ty) =>
      s"CAST(NULL AS $ty) AS `$n`" }.mkString(", ") + " WHERE false")

  /** cast an inserted frame positionally to the table's declared types */
  private def conform(df: DataFrame, cols: Seq[(String, String)]): DataFrame = {
    require(df.columns.length == cols.length,
      s"insert width ${df.columns.length} != table width ${cols.length}")
    val renamed = df.toDF(cols.map(_._1): _*)
    renamed.select(cols.map { case (n, ty) =>
      renamed.col(s"`$n`").cast(ty).as(n) }: _*)
  }

  /** Execute one setup/DML statement against the interpreted catalog.
    * Falls back to spark.sql for SET/RESET and CREATE VIEW. */
  def executeSetup(spark: SparkSession, cat: PgCatalog, sql: String): Unit =
    sql match {
      case CreateTable(name, colList) =>
        val cols = splitCols(colList).map { c =>
          val sp = c.trim.split("\\s+", 2)
          (sp(0), sp(1))
        }
        val t = new Tbl(cols, emptyFrame(spark, cols).schema,
          mutable.Buffer())
        cat.tables(name.toLowerCase) = t
        refresh(spark, name, t)
      case CreateTableAs(name, select) =>
        val df = spark.sql(select)
        val cols = df.schema.map(f => (f.name, f.dataType.sql)).toSeq
        val conformed = conform(df, cols)
        // nullable schema: later INSERTs may add nulls the CTAS data lacks
        val t = new Tbl(cols,
          StructType(conformed.schema.map(_.copy(nullable = true))),
          mutable.Buffer(conformed.collect().toSeq: _*))
        cat.tables(name.toLowerCase) = t
        refresh(spark, name, t)
      case InsertValues(name, values) =>
        val t = cat.tables(name.toLowerCase)
        t.rows ++= conform(
          spark.sql(s"SELECT * FROM ($values)"), t.cols).collect()
        refresh(spark, name, t)
      case InsertSelect(name, select) =>
        val t = cat.tables(name.toLowerCase)
        t.rows ++= conform(spark.sql(select), t.cols).collect()
        refresh(spark, name, t)
      case Truncate(name) =>
        val t = cat.tables(name.toLowerCase)
        t.rows.clear()
        refresh(spark, name, t)
      case AlterRename(from, to) =>
        val t = cat.tables.remove(from.toLowerCase).getOrElse(
          throw new IllegalStateException(
            s"ALTER TABLE RENAME of '$from': not an interpreter-managed" +
              s" table (known: ${cat.tables.keys.mkString(", ")}) — the" +
              " battery renamed a view the row-buffer catalog never" +
              " created"))
        cat.tables(to.toLowerCase) = t
        refresh(spark, to, t)
        spark.catalog.dropTempView(from)
      case DropTable(name) =>
        cat.tables.remove(name.toLowerCase)
        spark.catalog.dropTempView(name)
      case CreateView(name, colAliases, select) =>
        val df = spark.sql(select)
        val aliased = Option(colAliases).filter(_.trim.nonEmpty)
          .map(a => df.toDF(splitCols(a): _*)).getOrElse(df)
        aliased.createOrReplaceTempView(name)
      case SetStmt() =>
        spark.sql(sql).collect()
      case _ =>
        // anything else non-query (e.g. bare CREATE TEMP VIEW forms the
        // regexes miss) — run verbatim, loudly. DML/DDL the regexes miss
        // must NOT fall through: a CTAS-without-USING or
        // INSERT-with-column-list run verbatim would create managed
        // tables / warehouse writes that the temp-view sandbox promises
        // never happen.
        val up = sql.trim.toUpperCase.replaceAll("\\s+", " ")
        // statements that don't even parse are sandbox-safe to hand to
        // spark.sql verbatim — they raise their (often battery-pinned)
        // ParseException before anything could touch the catalog
        val parses =
          try { spark.sessionState.sqlParser.parsePlan(sql); true }
          catch { case _: Exception => false }
        val touchesWarehouse = parses && (
          up.matches("(?s)CREATE (OR REPLACE )?TABLE .*") ||
            up.startsWith("INSERT ") || up.startsWith("TRUNCATE ") ||
            up.startsWith("ALTER TABLE ") || up.startsWith("DROP TABLE "))
        require(!touchesWarehouse,
          s"battery statement form not interpreted and not sandbox-safe" +
            s" to run verbatim: ${sql.take(120)}... — extend the" +
            " interpreter instead of letting it touch the real catalog")
        spark.sql(sql).collect()
    }

  // ---------------------------------------------------------------------
  // fixtures

  private def readTsv(path: String): Seq[Array[String]] =
    Verbatim.resource(path).split('\n').toList
      .filter(_.nonEmpty).map(_.split('\t'))

  private val onekSchema: Seq[(String, DataType)] = Seq(
    "unique1" -> IntegerType, "unique2" -> IntegerType,
    "two" -> IntegerType, "four" -> IntegerType, "ten" -> IntegerType,
    "twenty" -> IntegerType, "hundred" -> IntegerType,
    "thousand" -> IntegerType, "twothousand" -> IntegerType,
    "fivethous" -> IntegerType, "tenthous" -> IntegerType,
    "odd" -> IntegerType, "even" -> IntegerType,
    "stringu1" -> StringType, "stringu2" -> StringType,
    "string4" -> StringType)

  /** Register the SQLQueryTestSuite standard fixtures as temp views:
    * the pg regression tables (onek 1000 rows, tenk1 10000, aggtest 4 —
    * bundled PostgreSQL regression data, resources/pgdata/) and Spark's
    * generated testdata/arraydata/mapdata. */
  // parsed once per JVM; the DataFrames are rebuilt per SESSION (battery
  // replays run in isolated Sessions.battery sessions, and a DataFrame
  // registers temp views only in the session that built it)
  private lazy val onekRowsCached = rowsOf("/pgdata/onek.data", onekSchema)
  private lazy val tenkRowsCached = rowsOf("/pgdata/tenk.data", onekSchema)
  private lazy val aggRowsCached = rowsOf("/pgdata/agg.data",
    Seq("a" -> IntegerType, "b" -> FloatType))

  private def rowsOf(res: String,
      schema: Seq[(String, DataType)]): Seq[Row] =
    readTsv(res).map { cells =>
      Row.fromSeq(cells.zip(schema).map {
        case (c, (_, IntegerType)) => c.toInt
        case (c, (_, FloatType)) => c.toFloat
        case (c, _) => c
      }.toSeq)
    }

  private def fromRows(spark: SparkSession, rows: Seq[Row],
      schema: Seq[(String, DataType)]): DataFrame =
    // LocalRelation, not parallelize(rows): an RDD-backed view has NO stats
    // (sizeInBytes = spark.sql.defaultSizeInBytes = huge), so every join
    // against it plans sort-merge with exchanges; a LocalRelation carries
    // its true ~1 MB size, so the 10k-row fixtures broadcast. Physical
    // strategy only — except DOUBLE aggregation order, which the golden
    // expectations pin: LocalTableScanExec slices at
    // leafNodeDefaultParallelism (= cores) while the historical layout was
    // parallelize(rows, 2). coalesce(2) restores exactly that layout
    // (contiguous halves — no-shuffle coalesce groups consecutive slices,
    // and ParallelCollectionRDD slices contiguously), so per-slice partial
    // sums are bit-identical to the pinned oracle. Session-wide
    // leafNodeDefaultParallelism=2 was tried instead and REJECTED: it
    // flips the slicing of parser-created VALUES relations, breaking the
    // pinned variance of pg_aggregates t033 the other way.
    spark.createDataFrame(
      java.util.Arrays.asList(rows: _*),
      StructType(schema.map { case (n, t) => StructField(n, t) }))
      .coalesce(2)

  def registerFixtures(spark: SparkSession): Unit = {
    // every battery replay runs in a fresh session (the reference harness
    // gives each file its own), so register pristine fixtures each time
    fromRows(spark, onekRowsCached, onekSchema)
      .createOrReplaceTempView("onek")
    fromRows(spark, tenkRowsCached, onekSchema)
      .createOrReplaceTempView("tenk1")
    fromRows(spark, aggRowsCached,
      Seq("a" -> IntegerType, "b" -> FloatType))
      .createOrReplaceTempView("aggtest")
    spark.range(1, 101, 1, 1).selectExpr(
      "CAST(id AS INT) AS key", "CAST(id AS STRING) AS value")
      .createOrReplaceTempView("testdata")
    spark.sql("""SELECT * FROM (VALUES
      (array(1, 2, 3), array(array(1, 2, 3))),
      (array(2, 3, 4), array(array(2, 3, 4)))) t(arraycol, nestedarraycol)
      """).createOrReplaceTempView("arraydata")
    spark.sql("""SELECT * FROM (VALUES
      (map(1, 'a1', 2, 'b1', 3, 'c1', 4, 'd1', 5, 'e1')),
      (map(1, 'a2', 2, 'b2', 3, 'c2', 4, 'd2')),
      (map(1, 'a3', 2, 'b3', 3, 'c3')),
      (map(1, 'a4', 2, 'b4')),
      (map(1, 'a5'))) t(mapcol)""").createOrReplaceTempView("mapdata")
  }

  // ---------------------------------------------------------------------
  // the pg battery

  /** postgreSQL file bases ported this round; `insert` and `create_view`
    * are excluded (catalog/metadata DDL semantics — DESCRIBE/SHOW-class
    * behavior, not query semantics; documented in PORTING.md). */
  val bases: Seq[String] = Seq(
    "aggregates_part1", "aggregates_part2", "aggregates_part3",
    // aggregates_part4: the reference's own golden runs 0 statements
    // (every ordered-set-aggregate TC is commented out upstream)
    "boolean", "case", "comments", "date", "float4",
    "float8", "groupingsets", "int2", "int4", "int8", "interval", "join",
    "limit", "numeric", "select", "select_distinct", "select_having",
    "select_implicit", "strings", "text", "timestamp", "union",
    "window_part1", "window_part2", "window_part3", "window_part4",
    "with")

  val battery: Battery = Battery("pg", bases)
}
