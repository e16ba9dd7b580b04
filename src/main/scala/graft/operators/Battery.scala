package graft.operators

import graft.{QueryDef, Sessions}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types.{StringType, StructField, StructType}

/** A golden battery family: reference SQLQueryTestSuite input files ported
  * statement by statement — the reference runs every golden input through
  * one harness (SQLQueryTestSuite); here each family is this one value and
  * every replay (registry rows, the error-pin specs, the oracle probe
  * [[graft.tools.CoercionProbe]]) goes through the code below.
  *
  * File `<base>` of family `prefix` is resource
  * `/golden-coercion/<prefix>_<base>.{tsv,oracle.sql}` and registry row
  * `q_golden_<prefix>_<slug>`; the slug snake-cases the reference's
  * camelCase and hyphenated file names.
  *
  * Replay mechanics: every statement runs VERBATIM in file order through
  * [[Battery.Replay.execute]] in a session opened by [[Battery.open]]; the
  * pinned output row per value TC is `(tc, ty, c0..ck)` where `ty` is the
  * ANALYZER's resolved result type and `c*` are the result values cast to
  * string, compared against a literal DuckDB oracle derived from the probe
  * run and audited statement by statement against the reference's recorded
  * golden output (docs/{COERCION,PG,CORE}_DIVERGENCES.md). Statements that
  * raise under Spark 4.1 ANSI are pinned by exception class in
  * Golden{Coercion,Pg,Core}Spec, whose inventory tests pin the
  * setup/value/error partition per file. */
final case class Battery(prefix: String, bases: Seq[String]) {

  /** the resource stem of one file */
  def file(base: String): String = s"${prefix}_$base"

  def load(base: String): (Int, Seq[Battery.Stmt]) = Battery.load(file(base))

  /** Declared statement totals from the tsv header, for the inventory
    * pin: (total, valueTcs, errorTcs). */
  def declaredCounts(base: String): (Int, Int, Int) = {
    val h = Battery.tsv(file(base)).split('\n').head
    def f(k: String) = s"$k=(\\d+)".r.findFirstMatchIn(h).get.group(1).toInt
    (f("total"), f("value_tcs"), f("error_tcs"))
  }

  def queryFor(base: String): QueryDef = QueryDef(
    s"q_golden_${prefix}_" +
      base.replaceAll("([A-Z])", "_$1").toLowerCase.replace("-", "_"),
    (spark, _) => Battery.run(spark, file(base)),
    Some(Verbatim.resource(s"/golden-coercion/${file(base)}.oracle.sql")))

  // lazy: the probe replays statement lists BEFORE the oracle resources
  // exist (they are generated from the probe's output)
  lazy val all: Seq[QueryDef] = bases.map(queryFor)
}

object Battery {

  /** Every battery family, in registry order. */
  lazy val all: Seq[Battery] = Seq(GoldenCoercion.battery, GoldenPg.battery,
    GoldenCore.battery, GoldenAnsi.battery, GoldenSubq.battery)

  /** One parsed statement of a battery file, in reference file order.
    * kind = "setup" | "tc" | "skip:<reason>" | "err:<Spark 4.1 exception
    * class>". */
  final case class Stmt(id: String, kind: String, sql: String)

  private def tsv(file: String): String =
    Verbatim.resource(s"/golden-coercion/$file.tsv")

  /** (width, ordered statements): parsed <file>.tsv. Order matters —
    * some batteries flip a SET mid-file (concat's concatBinaryAsString),
    * so consumers must replay the stream exactly as the reference does. */
  private def load(file: String): (Int, Seq[Stmt]) = {
    val lines = tsv(file).split('\n').filter(_.nonEmpty)
    val width = "width=(\\d+)".r.findFirstMatchIn(lines.head).get.group(1).toInt
    val recs = lines.tail.map(_.split('\t')).toSeq
      // \u001f/\u001e are the generator's reversible encoding of tab /
      // newline INSIDE string literals (a raw tab would break this very
      // split; collapsing it would change the replayed statement)
      .map(r => Stmt(r(0), r(1),
        r(2).replace('\u001f', '\t').replace('\u001e', '\n')))
    (width, recs)
  }

  /** One file's replay: a fresh [[Sessions.battery]] session (the
    * reference harness gives each file its own, so SETs, views and the
    * current database neither leak in nor out) with the pg fixture views
    * registered, and an empty [[GoldenPg.PgCatalog]] for the file's table
    * DML. */
  final class Replay private[Battery] (val spark: SparkSession) {
    private val catalog = new GoldenPg.PgCatalog

    /** Run one statement as the runtime does: a query is analyzed and
      * returned (not executed); anything else runs through GoldenPg's
      * temp-view interpreter. */
    def execute(sql: String): Option[DataFrame] =
      if (isQuery(sql)) Some(spark.sql(sql))
      else { GoldenPg.executeSetup(spark, catalog, sql); None }
  }

  def open(outer: SparkSession): Replay = {
    val s = Sessions.battery(outer)
    GoldenPg.registerFixtures(s)
    new Replay(s)
  }

  /** The query-or-setup classifier, on the text AFTER leading comments: the
    * comments batteries open query statements with /* ... */ blocks (and
    * the parser nests them), so a raw prefix test would demote those to
    * setups. DESC/DESCRIBE/SHOW/EXPLAIN produce result sets too. */
  def isQuery(sql: String): Boolean = {
    val up = stripLeadingComments(sql).toUpperCase
    Seq("SELECT", "WITH", "VALUES", "TABLE", "DESC", "SHOW", "EXPLAIN", "(")
      .exists(up.startsWith)
  }

  /** Text after leading whitespace, `--` line comments, and (nesting-aware,
    * as Spark parses them) bracketed comments. */
  private def stripLeadingComments(sql: String): String = {
    var s = sql
    var progressed = true
    while (progressed) {
      progressed = false
      val t = s.dropWhile(_.isWhitespace)
      if (t != s) { s = t; progressed = true }
      if (s.startsWith("--")) {
        val nl = s.indexOf('\n')
        s = if (nl < 0) "" else s.substring(nl + 1)
        progressed = true
      } else if (s.startsWith("/*")) {
        var depth = 1
        var i = 2
        while (depth > 0 && i < s.length) {
          if (s.startsWith("/*", i)) { depth += 1; i += 2 }
          else if (s.startsWith("*/", i)) { depth -= 1; i += 2 }
          else i += 1
        }
        if (depth > 0) return "" // unterminated comment: nothing follows
        s = s.substring(i)
        progressed = true
      }
    }
    s
  }

  /** Driver-side fast path for pure-literal statements (the bulk of the
    * coercion/pg batteries): when the analyzed plan is a Project of
    * foldable deterministic expressions over OneRowRelation, eval
    * `Cast(e, string)` directly — the exact expression the slow path's
    * `.cast("string")` column builds — with the session's time zone and
    * ANSI eval mode. Skips two wrapper-DataFrame analyses plus a full
    * optimizer pass per statement (~10 ms each; decimalPrecision alone
    * has 780 such statements). Any eval surprise (e.g. an unreplaced
    * RuntimeReplaceable) falls back to the executed path, so this is an
    * optimization, never a semantic fork. */
  private def fastLiteralCells(
      spark: SparkSession, df: DataFrame, width: Int): Option[Seq[String]] = {
    import org.apache.spark.sql.catalyst.expressions.{Alias, Cast, EvalMode}
    import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan,
      OneRowRelation, Project, SubqueryAlias, View}
    // the source must produce EXACTLY one row: OneRowRelation under any
    // chain of row-count-preserving wrappers (the batteries' `FROM t`
    // one-row fixture views analyze to SubqueryAlias/View/Project chains)
    @annotation.tailrec
    def oneRowSource(p: LogicalPlan): Boolean = p match {
      case _: OneRowRelation => true
      case s: SubqueryAlias => oneRowSource(s.child)
      case v: View => oneRowSource(v.child)
      case pr: Project => oneRowSource(pr.child)
      case _ => false
    }
    df.queryExecution.analyzed match {
      // strip the top-level output Alias (its foldable is hardwired false)
      case Project(aliased, src) if oneRowSource(src) &&
          aliased.map { case a: Alias => a.child; case e => e }
            .forall(e => e.foldable && e.deterministic) =>
        val list = aliased.map { case a: Alias => a.child; case e => e }
        try {
          val conf = spark.sessionState.conf
          val tz = Option(conf.sessionLocalTimeZone)
          val mode = EvalMode.fromSQLConf(conf)
          val vals = list.map { e =>
            val v = Cast(e, StringType, tz, mode).eval(null)
            if (v == null) null else v.toString
          }
          Some(vals ++ Seq.fill(width - vals.length)(null))
        } catch { case scala.util.control.NonFatal(_) => None }
      case _ => None
    }
  }

  /** Batched battery execution. Each value TC is ANALYZED eagerly at its
    * stream position (mid-file SETs and DML must bind exactly as the
    * reference ran them — the analyzer is the system under test), then
    * tagged `(tc, resolved type)`, cast to strings and padded to `width`;
    * non-foldable statements execute eagerly on a bounded pool while the
    * driver keeps analyzing. Execution-time session conf (time zone etc.)
    * is constant within a batch window because drains precede every
    * setup. */
  private def collectMatrix(replay: Replay, width: Int, stmts: Seq[Stmt]): Seq[Row] = {
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration.Duration
    val spark = replay.spark
    // Eagerly-submitted per-statement collects (guide §2.6 "overlap
    // independent jobs", r13 took the first step with a pool at flush
    // time): each non-foldable statement's optimize+execute is handed to a
    // bounded pool THE MOMENT it is analyzed, so the driver thread keeps
    // parsing/analyzing the rest of the batch window while earlier
    // statements run — previously analysis stalled whenever a 100-statement
    // batch drained. Statements inside a window are order-independent by
    // construction (drains precede every setup/SET, so the session conf a
    // pooled optimize/execute reads is constant for its window — the same
    // assumption the r13 flush relied on), and results assemble in
    // submission order. Pool size derives from session parallelism, not a
    // local constant.
    val out = scala.collection.mutable.Buffer[Row]()
    val parts =
      scala.collection.mutable.Buffer[Either[Seq[Row], Future[Seq[Row]]]]()
    val inFlight = scala.collection.mutable.Buffer[Future[Seq[Row]]]()
    val pool = java.util.concurrent.Executors.newFixedThreadPool(
      math.max(spark.sparkContext.defaultParallelism / 2, 2))
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    // a setup/SET may change execution-visible conf: every in-flight
    // statement must finish under the conf it was analyzed with
    def drain(): Unit = {
      inFlight.foreach(Await.result(_, Duration.Inf))
      inFlight.clear()
    }
    def slowPath(df: DataFrame, id: String, ty: String): Unit = {
        val n = df.columns.length
        val renamed = df.toDF((0 until n).map(i => s"c$i"): _*)
        val cols = org.apache.spark.sql.functions.lit(id).as("tc") +:
          org.apache.spark.sql.functions.lit(ty).as("ty") +:
          (0 until width).map(i =>
            (if (i < n) renamed.col(s"c$i").cast("string")
             else org.apache.spark.sql.functions.lit(null).cast("string"))
              .as(s"c$i"))
        val strDf = renamed.select(cols: _*)
        // literal batteries (decimalPrecision's 780 statements are pure
        // constant arithmetic) CONSTANT-FOLD to a leaf LocalRelation
        // during optimization — harvest those rows driver-side instead
        // of paying a Spark job per statement. Semantics are identical:
        // ConstantFolding evaluates the same resolved expressions under
        // the same session conf the executed plan would — and the pass
        // runs on the pool inside the statement's conf window (drained
        // before any later SET). Statements that touch fixture tables
        // don't fold and execute on the pool unchanged.
        val fut = Future {
          strDf.queryExecution.optimizedPlan match {
            case lr: org.apache.spark.sql.catalyst.plans.logical.LocalRelation =>
              val w = lr.output.length
              lr.data.map(ir => Row.fromSeq(
                (0 until w).map(i =>
                  if (ir.isNullAt(i)) null else ir.getString(i).toString)))
            case _ => strDf.collect().toSeq
          }
        }
        parts += Right(fut)
        inFlight += fut
    }
    try {
      stmts.foreach {
        case Stmt(_, "setup", s) =>
          drain(); replay.execute(s).foreach(_.collect())
        case Stmt(_, k, _) if k.startsWith("err:") || k.startsWith("skip:") =>
          () // err: pinned in the errors specs; skip: nonportable value
        case Stmt(id, _, stmt) =>
          // a value TC is a query: the executor returns it analyzed
          replay.execute(stmt).foreach { df =>
            val ty = df.schema.map(_.dataType.sql).mkString(", ")
            fastLiteralCells(spark, df, width) match {
              case Some(cells) => parts += Left(Seq(Row.fromSeq(id +: ty +: cells)))
              case None => slowPath(df, id, ty)
            }
          }
      }
      drain()
      parts.foreach {
        case Left(rows) => out ++= rows
        case Right(fut) => out ++= Await.result(fut, Duration.Inf)
      }
    } finally pool.shutdown()
    out.toSeq
  }

  /** result schema of a battery matrix */
  private def matrixSchema(width: Int): StructType = StructType(
    StructField("tc", StringType, nullable = false) ::
      StructField("ty", StringType, nullable = false) ::
      (0 until width).map(i =>
        StructField(s"c$i", StringType, nullable = true)).toList)

  /** Run every value TC of `file` in a fresh replay and pin
    * (tc, resolved type, stringified cells); results assemble into one
    * local frame for the comparator. */
  private def run(outer: SparkSession, file: String): DataFrame = {
    val replay = open(outer)
    val (width, stmts) = load(file)
    val rows = collectMatrix(replay, width, stmts)
    replay.spark.createDataFrame(
      replay.spark.sparkContext.parallelize(rows, 1), matrixSchema(width))
  }
}
