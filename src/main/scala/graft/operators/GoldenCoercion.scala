package graft.operators

import graft.{QueryDef, Sessions}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types.{StringType, StructField, StructType}

/** Port of the reference's `typeCoercion/native/` SQLQueryTestSuite
  * directory (reference: native-sql-engine/core/src/test/resources/
  * sql-tests/inputs/typeCoercion/native/ — 18 .sql files, 3033
  * statements): the implicit-cast promotion matrix, the largest semantic
  * battery in the reference's test tree.
  *
  * Port mechanics: every statement from a file is executed VERBATIM
  * through Spark SQL at query time; the pinned output row per statement is
  * `(tc, ty, c0..ck)` where `ty` is the ANALYZER's resolved result type
  * (the coercion decision the battery exists to test) and `c*` are the
  * result values cast to string. The DuckDB oracle is the literal golden
  * expectation (`resources/golden-coercion/<file>.oracle.sql`), derived
  * from the reference's own recorded golden output
  * (results/typeCoercion/native/ .sql.out files) and re-adjudicated
  * statement-by-statement against Spark 4.1 ANSI semantics —
  * `docs/COERCION_DIVERGENCES.md` documents every statement where 4.1
  * diverges from the 3.0-era golden (ANSI strictness rejections, ANSI
  * string→numeric promotion, decimal-precision rule changes) with
  * category counts per file. Statements that ERROR under Spark 4.1 ANSI
  * are pinned as error-class assertions in GoldenCoercionErrorsSpec (the
  * row comparator can't see raised errors), and
  * GoldenCoercionInventorySpec pins the partition: setups + value TCs +
  * error TCs == the file's statement count, so no statement can silently
  * drop out of coverage. */
object GoldenCoercion {

  /** typeCoercion/native file bases, in reference directory order */
  val bases: Seq[String] = Seq(
    "arrayJoin", "binaryComparison", "booleanEquality", "caseWhenCoercion",
    "concat", "dateTimeOperations", "decimalPrecision", "division", "elt",
    "ifCoercion", "implicitTypeCasts", "inConversion", "mapZipWith",
    "mapconcat", "promoteStrings", "stringCastAndExpressions",
    "widenSetOperationTypes", "windowFrameCoercion")

  /** One parsed statement of a battery file, in reference file order.
    * kind = "setup" | "tc" | "err:<Spark 4.1 exception class>". */
  final case class Stmt(id: String, kind: String, sql: String)

  /** (width, ordered statements): parsed <base>.tsv. Order matters —
    * some batteries flip a SET mid-file (concat's concatBinaryAsString),
    * so consumers must replay the stream exactly as the reference does. */
  def loadAll(base: String): (Int, Seq[Stmt]) = {
    val lines = Verbatim.resource(s"/golden-coercion/$base.tsv").split('\n')
      .filter(_.nonEmpty)
    val header = lines.head
    val width = "width=(\\d+)".r.findFirstMatchIn(header).get.group(1).toInt
    val recs = lines.tail.map(_.split('\t')).toSeq
      // \u001f/\u001e are the generator's reversible encoding of tab /
      // newline INSIDE string literals (a raw tab would break this very
      // split; collapsing it would change the replayed statement)
      .map(r => Stmt(r(0), r(1),
        r(2).replace('\u001f', '\t').replace('\u001e', '\n')))
    (width, recs)
  }

  /** Declared statement totals from the tsv header, for the inventory
    * pin: (total, valueTcs, errorTcs). */
  def declaredCounts(base: String): (Int, Int, Int) = {
    val h = Verbatim.resource(s"/golden-coercion/$base.tsv").split('\n').head
    def f(k: String) = s"$k=(\\d+)".r.findFirstMatchIn(h).get.group(1).toInt
    (f("total"), f("value_tcs"), f("error_tcs"))
  }

  /** Replay `body` with any session conf a battery's SET statements touch
    * restored afterwards — the reference harness runs each file in a
    * fresh session, so a file that flips spark.sql.groupByOrdinal or the
    * session time zone must not leak into the next registry query. */
  def withConfRestore[T](spark: SparkSession)(body: => T): T = {
    val before = spark.conf.getAll
    val dbBefore = spark.catalog.currentDatabase
    try body finally {
      // a battery may USE a database it then drops (tablesample-negative)
      try spark.catalog.setCurrentDatabase(dbBefore)
      catch { case _: Exception =>
        spark.catalog.setCurrentDatabase("default") }
      val after = spark.conf.getAll
      after.keys.filterNot(before.contains)
        .foreach(k => try spark.conf.unset(k) catch { case _: Exception => })
      before.foreach { case (k, v) =>
        if (after.get(k) != Some(v))
          try spark.conf.set(k, v) catch { case _: Exception => }
      }
    }
  }

  /** Batched battery execution. Each value TC is ANALYZED eagerly at its
    * stream position (mid-file SETs and DML must bind exactly as the
    * reference ran them — the analyzer is the system under test), then
    * tagged `(tc, resolved type)`, cast to strings and padded to `width`;
    * non-foldable statements execute eagerly on a bounded pool while the
    * driver keeps analyzing (see [[collectMatrix]]). Execution-time
    * session conf (time zone etc.) is constant within a batch window
    * because drains precede every setup. */

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

  def collectMatrix(spark: SparkSession, width: Int, stmts: Seq[Stmt])(
      setup: String => Unit): Seq[Row] = {
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration.Duration
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
          drain(); setup(s)
        case Stmt(_, k, _) if k.startsWith("err:") || k.startsWith("skip:") =>
          () // err: pinned in the errors specs; skip: nonportable value
        case Stmt(id, _, stmt) =>
          val df = spark.sql(stmt)
          val ty = df.schema.map(_.dataType.sql).mkString(", ")
          fastLiteralCells(spark, df, width) match {
            case Some(cells) => parts += Left(Seq(Row.fromSeq(id +: ty +: cells)))
            case None => slowPath(df, id, ty)
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
  def matrixSchema(width: Int): StructType = StructType(
    StructField("tc", StringType, nullable = false) ::
      StructField("ty", StringType, nullable = false) ::
      (0 until width).map(i =>
        StructField(s"c$i", StringType, nullable = true)).toList)

  /** Run every value TC of `base` through Spark SQL and pin
    * (tc, resolved type, stringified cells); results assemble into one
    * local frame for the comparator. */
  private def runMatrix(outer: SparkSession, base: String): DataFrame = {
    val spark = Sessions.battery(outer)
    val (width, stmts) = loadAll(base)
    val rows = withConfRestore(spark) {
      collectMatrix(spark, width, stmts) { s =>
        spark.sql(s.replaceAll("(?i)CREATE TEMPORARY VIEW",
          "CREATE OR REPLACE TEMPORARY VIEW")).collect()
      }
    }
    spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 1), matrixSchema(width))
  }

  private def slug(base: String): String =
    base.replaceAll("([A-Z])", "_$1").toLowerCase

  /** literal DuckDB oracle text for a battery (shared with GoldenPg) */
  def oracleFor(base: String): String =
    Verbatim.resource(s"/golden-coercion/$base.oracle.sql")

  def queryFor(base: String): QueryDef = QueryDef(
    s"q_golden_coerce_${slug(base).stripPrefix("_")}",
    (spark, _) => runMatrix(spark, base),
    Some(oracleFor(base)))

  val all: Seq[QueryDef] = bases.map(queryFor)
}
