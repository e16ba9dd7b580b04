package graft.operators

import java.io.File

import scala.io.Source

import graft.{QueryDef, Sessions}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, round}

/** A VERBATIM corpus: reference query files shipped unmodified under
  * `resources/<name>-verbatim/` and run END TO END, character for
  * character, over a derived micro-schema — the reference keeps its corpora
  * as plain query directories and runs them all through one runner
  * (native-sql-engine/core/src/test/scala/.../tpc/util/TPCRunner.scala);
  * here each corpus is this one value and every registry row is built by
  * the code below.
  *
  * The micro-schema: `fixtures` (name → one dialect-portable SQL text over
  * the `tpch_<t>` views of `baseTables`) are materialized once per (sf dir,
  * fixture-SQL version) by [[graft.Sessions.fixture]], whose session
  * profile is sized by `largestFact`; `joinReorder` is the corpus's CBO
  * join-reorder setting. The same fixture texts become a WITH prefix on the
  * DuckDB oracle, so both engines derive byte-identical fixtures from the
  * same parquet and the result-hash compare stays exact.
  *
  * Comparator shims (per corpus, justified where each corpus defines them;
  * the Spark side always runs the verbatim bytes):
  *   - `renames`: the Spark result's columns are renamed positionally to
  *     the DuckDB spelling (names only, values untouched);
  *   - `oracleRenames`: the queries whose oracle renames its columns the
  *     same way (`FROM (...) AS graft_renamed(c1, ...)`);
  *   - `dualRound`: columns wrapped `CAST(round(col, 4) AS DOUBLE)` on BOTH
  *     engines;
  *   - `oracleCasts`: (column, DuckDB type) casts around the oracle via
  *     `SELECT * REPLACE`;
  *   - `bodyFixes`: literal (from → to) rewrites of the ORACLE text.
  */
final case class Corpus(
    name: String,
    tag: String,
    queryNames: Seq[String],
    baseTables: Seq[String],
    fixtures: Seq[(String, String)],
    largestFact: String,
    joinReorder: Boolean,
    renames: Map[String, Seq[String]],
    oracleRenames: Set[String],
    dualRound: Map[String, Seq[String]],
    oracleCasts: Map[String, Seq[(String, String)]],
    bodyFixes: Map[String, Seq[(String, String)]]) {

  /** content-versioned by the fixture SQL, so stale scratch dirs are never
    * reused */
  private def version(dir: String): String =
    Sessions.version(dir + fixtures.map(_._2).mkString(""))

  /** Where the micro-schema for `dir` is materialized — the scaled-run
    * DuckDB twin (tools/scale_duck.py) reads the SAME parquet, so both
    * engines are timed over byte-identical tables. */
  def root(dir: String): File = Sessions.scratch(s"graft_${tag}_fixture_${version(dir)}")

  /** the catalog database the fixture tables live in (the version suffix is
    * normalized away by [[graft.tools.PlanSignature.normalize]]) */
  def database(dir: String): String = s"graft_${tag}_${version(dir)}"

  def queryText(q: String): String = Verbatim.resource(s"/$name-verbatim/$q.sql")

  /** DuckDB oracle: the null-order SET, then the fixture CTE prefix merged
    * with the verbatim query (a leading WITH in the query folds into the
    * prefix's clause list). */
  def oracleFor(q: String): String =
    Sessions.duckNullOrder + oracleSql(q, withFixturePrefix = true)

  /** Oracle statement WITHOUT the fixture-derivation WITH prefix — for runs
    * where DuckDB reads the MATERIALIZED fixture parquet directly (the
    * scaled twin, tools/scale_duck.py, which sets the null order once per
    * connection), so both engines scan byte-identical tables. Same body
    * fixes and shims as [[oracleFor]]. */
  def oracleBody(q: String): String = oracleSql(q, withFixturePrefix = false)

  private def oracleSql(q: String, withFixturePrefix: Boolean): String = {
    // leading comment lines (the TPC-H files open with `-- using default
    // substitutions`) are dropped so a leading WITH folds into the prefix;
    // backtick identifier quotes (Spark dialect) become ANSI double quotes
    val text = queryText(q).linesIterator
      .dropWhile(l => l.trim.isEmpty || l.trim.startsWith("--"))
      .mkString("\n").trim.replace('`', '"')
    val body = bodyFixes.getOrElse(q, Nil)
      .foldLeft(text) { case (b, (from, to)) => b.replace(from, to) }
    // `main.` qualification: TPC-H's fixture CTE names ARE the base view
    // names, so an unqualified base reference would bind the prefix's own
    // later CTE (circular); fixture names are quoted for SSB's `date`
    val prefix =
      (baseTables.map(t => s"tpch_$t AS (SELECT * FROM main.$t)") ++
        fixtures.map { case (n, sql) => s""""$n" AS ($sql)""" }).mkString(",\n")
    val core =
      if (!withFixturePrefix) body
      else if (body.toUpperCase.startsWith("WITH "))
        s"WITH $prefix,\n${body.drop(5)}"
      else
        s"WITH $prefix\n$body"
    val renamed =
      if (oracleRenames.contains(q))
        s"SELECT * FROM (\n$core\n) AS graft_renamed(" +
          renames(q).map(n => s"\"$n\"").mkString(", ") + ")"
      else core
    val replaces =
      oracleCasts.getOrElse(q, Nil)
        .map { case (c, t) => s"""CAST("$c" AS $t) AS "$c"""" } ++
        dualRound.getOrElse(q, Nil)
          .map(c => s"""CAST(round("$c", 4) AS DOUBLE) AS "$c"""")
    if (replaces.isEmpty) renamed
    else s"SELECT * REPLACE (${replaces.mkString(", ")}) " +
      s"FROM (\n$renamed\n) graft_cast_shim"
  }

  /** Run the verbatim text over the (cached) fixture session. */
  def run(outer: SparkSession, dir: String, q: String): DataFrame = {
    val df = Sessions.fixture(outer, dir, this).sql(queryText(q))
    val named = renames.get(q).map(ns => df.toDF(ns: _*)).getOrElse(df)
    dualRound.getOrElse(q, Nil).foldLeft(named) { (d, c) =>
      d.withColumn(c, round(col(c), 4).cast("double"))
    }
  }

  def queryFor(q: String): QueryDef = QueryDef(
    s"q_${name}_verbatim_${q.replace(".", "_")}",
    (spark, dir) => run(spark, dir, q),
    Some(oracleFor(q)))

  lazy val all: Seq[QueryDef] = queryNames.map(queryFor)
}

object Verbatim {

  /** Every verbatim corpus, in registry order (plan-stability pins and
    * AQE's side picks follow suite order, so it is fixed). */
  val all: Seq[Corpus] =
    Seq(TpcdsVerbatim.corpus, TpchVerbatim.corpus, SsbVerbatim.corpus)

  /** The corpus whose short name is `name`. */
  def apply(name: String): Corpus = all.find(_.name == name).getOrElse(
    sys.error(s"unknown corpus $name (one of ${all.map(_.name).mkString(", ")})"))

  /** A classpath resource as UTF-8 text. */
  def resource(path: String): String = {
    val in = getClass.getResourceAsStream(path)
    require(in != null, s"missing resource $path")
    try Source.fromInputStream(in, "UTF-8").mkString finally in.close()
  }
}
