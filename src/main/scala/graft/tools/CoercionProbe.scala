package graft.tools

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import graft.Engine
import org.apache.spark.sql.SparkSession

/** Dev probe for golden-file porting: executes a statement list extracted
  * from a reference SQLQueryTestSuite `.out` file
  * (tools/coercion_extract.py) and dumps each statement's ACTUAL Spark
  * behavior — result schema, rendered rows, or error class — so the
  * generator can build literal oracles and a divergence report against
  * the reference golden. Not part of the library surface.
  *
  * Usage: runMain graft.tools.CoercionProbe /tmp/coerce/<base>.stmts ...
  * writes <base>.probe next to each input.
  */
object CoercionProbe {
  private val FS = '\u001f' // field sep
  private val RS = '\u001e' // record sep
  private val CS = '\u001d' // cell sep

  def main(args: Array[String]): Unit = {
    // SAME parallelism as Verify/Bench: float-aggregate merge order over
    // inline data follows the leaf-node slicing, which follows the core
    // count — probing at a different local[n] would pin last-ulp values
    // the runtime can't reproduce
    val spark = Engine.session()
    // per-file conf restore: a battery's SETs must not leak into the next
    // file's probe (the runtime replay restores identically)
    args.foreach(p =>
      graft.operators.GoldenCoercion.withConfRestore(spark) {
        run(spark, p)
      })
    spark.stop()
  }

  /** Text after leading whitespace, `--` line comments, and (nesting-aware,
    * as Spark parses them) bracketed comments — for statement
    * classification only; the executed SQL stays verbatim. */
  private[tools] def stripLeadingComments(sql: String): String = {
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

  private def render(v: Any): String = v match {
    case null => "N"
    case s => "S" + s.toString
  }

  private def run(spark: SparkSession, path: String): Unit = {
    val text = new String(Files.readAllBytes(Paths.get(path)),
      StandardCharsets.UTF_8)
    // pg_* statement lists carry table DML: route setups through the
    // GoldenPg temp-view interpreter (the same one the runtime uses) and
    // register the pg fixture tables first
    val fn = Paths.get(path).getFileName.toString
    val pgMode = fn.startsWith("pg_") || fn.startsWith("core_") ||
      fn.startsWith("ansi_") || fn.startsWith("subq_")
    if (pgMode) graft.operators.GoldenPg.registerFixtures(spark)
    val pgCat = new graft.operators.GoldenPg.PgCatalog
    val out = new StringBuilder
    text.split(RS).filter(_.nonEmpty).foreach { rec =>
      val Array(id, sql) = rec.split(FS.toString, 2)
      val res: Seq[String] =
        try {
          // classify on the text AFTER leading comments: the comments
          // batteries open query statements with /* ... */ blocks (and
          // the parser nests them), so a raw prefix test would demote
          // those to execute-only setups and silently skip their value
          // compare. DESC/DESCRIBE/SHOW/EXPLAIN produce result sets too.
          val up = stripLeadingComments(sql).toUpperCase
          val isQuery = up.startsWith("SELECT") ||
            up.startsWith("WITH") ||
            up.startsWith("VALUES") ||
            up.startsWith("TABLE") ||
            up.startsWith("DESC") || // DESC / DESCRIBE
            up.startsWith("SHOW") ||
            up.startsWith("EXPLAIN") ||
            up.startsWith("(")
          if (!isQuery) {
            // setup: execute for side effects only, but make temp views
            // re-runnable across probe files
            if (pgMode) graft.operators.GoldenPg.executeSetup(
              spark, pgCat, sql)
            else spark.sql(sql.replaceAll("(?i)CREATE TEMPORARY VIEW",
              "CREATE OR REPLACE TEMPORARY VIEW")).collect()
            Seq(id, "SETUP", "", "0")
          } else {
            val df = spark.sql(sql)
            val ty = df.schema.map(_.dataType.sql).mkString(", ")
            // render via the SAME cast-to-string the generated QueryDef
            // applies at runtime, so probe values == runtime values by
            // construction (Row.toString renders timestamps differently)
            val n = df.columns.length
            val renamed = df.toDF((0 until n).map(i => s"c$i"): _*)
            val strDf = renamed.select(
              (0 until n).map(i => renamed.col(s"c$i").cast("string")): _*)
            val rows = strDf.collect()
            val cells = rows.map(r =>
              (0 until r.length).map(i => render(r.get(i)))
                .mkString(FS.toString)).mkString(CS.toString)
            Seq(id, "OK", ty, n.toString, cells)
          }
        } catch {
          case e: Throwable =>
            val cls = e.getClass.getSimpleName
            val msg = Option(e.getMessage).getOrElse("").take(200)
              .replace('\n', ' ').replace(FS, ' ').replace(RS, ' ')
            Seq(id, "ERR", cls, msg)
        }
      out.append(res.mkString(FS.toString)).append(RS)
    }
    val dest = path.replaceAll("\\.stmts$", "") + ".probe"
    Files.write(Paths.get(dest),
      out.toString.getBytes(StandardCharsets.UTF_8))
    println(s"[probe] $path -> $dest")
  }
}
