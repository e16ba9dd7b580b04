package graft.tools

import java.io.File
import java.nio.file.Files

import graft.{Engine, Sessions}
import graft.operators.Verbatim
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.ExplainMode

/** Scaled run of a VERBATIM corpus — one harness for all three, as the
  * reference runs TPC-H, TPC-DS and SSB through one runner
  * (native-sql-engine/core/src/test/scala/.../tpc/util/TPCRunner.scala).
  * The fixture-scale rows are per-query-floor bound, so strategy decisions
  * for these corpora rest on scaled measurements.
  *
  * Mechanics:
  *   - the facts are replicated `factor`× ([[graft.Sessions.replica]]);
  *     every corpus's micro-schema is PARAMETRIC in those facts, so the
  *     normal [[graft.Sessions.fixture]] path (ANALYZE + CBO + the shared
  *     session profile, whose partition floor self-releases and whose SHJ
  *     preference self-enables above [[graft.Sessions.smallFactRows]])
  *     derives a `factor`×-sized schema with full referential integrity
  *     while the dims keep their spec-shaped caps;
  *   - each registry row of the corpus (the rows the oracle checks) runs
  *     once to record its rows, final AQE plan and stage table, and to
  *     check that plan against its committed plan-stability pin — the
  *     pinned fixture-scale plans amortizing is a finding, not a given:
  *     stats differ `factor`×, CBO and AQE re-decide everything; then it
  *     is timed min-of-3 warm ([[warmSeconds]]);
  *   - under the fixture root it writes `_plans/<q>.txt` (final plan +
  *     stage table) and `_duck_sql/<q>.sql` (the prefix-free DuckDB
  *     statement), and prints one JSON line last, which
  *     tools/scale_duck.py reads to time DuckDB over the SAME parquet.
  *
  * Usage: sbt "runMain graft.tools.ScaleBench <tpch|tpcds|ssb> <factor> [srcDir]"
  */
object ScaleBench {

  /** Min-of-3 warm wall time of `df`, materialized through the noop sink
    * as graft.Bench does: count() lets column pruning skip the final
    * projection while DuckDB fetches every row. min-of-2 let a single
    * contended iteration read as 7.7x on a plan whose clean ratio is 2.5x.
    * The query's persisted intermediates are released afterwards, so none
    * survives into the next measurement (a lingering 30x-replicated
    * shingle cache OOM'd the x100 phase before this); getPersistentRDDs
    * also reaps localCheckpoint blocks (connected components) that
    * catalog.clearCache can't see. */
  def warmSeconds(spark: SparkSession)(df: => DataFrame): Double = {
    val dt = (1 to 3).map { _ =>
      val t0 = System.nanoTime()
      df.write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0) / 1e9
    }.min
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values
      .foreach(_.unpersist(blocking = false))
    dt
  }

  /** Run the corpus named `name` over `src` replicated `factor`×; returns
    * the JSON line. */
  def run(spark: SparkSession, name: String, factor: Int, src: String): String = {
    val corpus = Verbatim(name)
    val tag = s"[scale-bench $name x$factor]"
    val dir = Sessions.replica(spark, src, factor)
    val t0 = System.nanoTime()
    val session = Sessions.fixture(spark, dir, corpus)
    val root = corpus.root(dir)
    println(f"$tag fixture ready in ${(System.nanoTime() - t0) / 1e9}%.1fs  " +
      s"root=${root.getPath}  " +
      s"shufflePartitions=${session.conf.get("spark.sql.shuffle.partitions")}  " +
      s"preferSMJ=${session.conf.get("spark.sql.join.preferSortMergeJoin", "true")}")
    val plans = new File(root, "_plans")
    val duckSql = new File(root, "_duck_sql")
    Seq(plans, duckSql).foreach(_.mkdirs())

    val stats = new StageStats
    spark.sparkContext.addSparkListener(stats)
    val results = try corpus.queryNames.zip(corpus.all).map { case (q, row) =>
      stats.reset()
      val df = row.run(spark, dir)
      val rows = df.collect().length // executes, so AQE finalizes the plan
      val plan = df.queryExecution.executedPlan
      Files.writeString(new File(plans, s"$q.txt").toPath,
        df.queryExecution.explainString(ExplainMode.fromString("formatted")) +
          "\nstages by longest task:\n" +
          stats.table(spark.sparkContext, 12).mkString("\n") + "\n")
      Files.writeString(new File(duckSql, s"$q.sql").toPath, corpus.oracleBody(q))
      val pin = PlanSignature.pinStatus(row.name, PlanSignature.signature(plan))
      val dt = warmSeconds(spark)(row.run(spark, dir))
      println(f"$tag $q%-6s rows=$rows%-9d $dt%.3fs  plan=$pin")
      (q, dt, rows, pin)
    } finally spark.sparkContext.removeSparkListener(stats)

    println(s"$tag plan pins: " + results.groupBy(_._4).toSeq.sortBy(_._1)
      .map { case (pin, rs) => s"$pin=${rs.size}" }.mkString(" "))
    def obj(f: ((String, Double, Int, String)) => String): String =
      results.map(r => s""""${r._1}":${f(r)}""").mkString("{", ",", "}")
    s"""{"metric":"${name}_verbatim_x$factor",""" +
      f""""value":${results.map(_._2).sum}%.3f,"unit":"sec",""" +
      s""""factor":$factor,"fixtureRoot":"${root.getPath}",""" +
      s""""queries":${obj(r => f"${r._2}%.3f")},"rows":${obj(_._3.toString)}}"""
  }

  def main(args: Array[String]): Unit = {
    require(args.length >= 2,
      "usage: ScaleBench <tpch|tpcds|ssb> <factor> [srcDir]")
    val spark = Engine.session()
    val line = run(spark, args(0), args(1).toInt,
      args.lift(2).getOrElse("/root/testdata/sf0.1"))
    spark.stop()
    println(line)
  }
}
