package graft.tools

import graft.{Engine, Tables}
import org.apache.spark.sql.functions._

/** The md5-determinism tax, measured (VERDICT r6 "What's wrong" #2 guard).
  *
  * Round 6 swapped several registry queries from xxhash64-based sketches to
  * md5-derived deterministic variants to win bit-exact DuckDB oracles; the
  * xx kernels remain the documented library hot path. This probe times each
  * det/xx twin side by side (warm min-of-3) so the replayability tax stays
  * a RECORDED CHOICE, not silent drift — if the det variant ever becomes
  * the facade default, this table is the evidence to weigh.
  *
  * Run: SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1 \
  *        sbt "runMain graft.tools.DetCostProbe"
  * Output: markdown table on stdout (committed as docs/DET_COST_r{N}.md).
  */
object DetCostProbe {

  private def time(f: => Long): Double = {
    var best = Double.MaxValue
    (1 to 3).foreach { _ =>
      val t0 = System.nanoTime(); f
      best = math.min(best, (System.nanoTime() - t0) / 1e9)
    }
    best
  }

  def main(args: Array[String]): Unit = {
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Engine.session()
    graft.plans.GraftFunctions.ensureRegistered(spark)

    val docs = Tables(spark, dir, "documents")
    val li = Tables(spark, dir, "lineitem")

    val rows = Seq(
      ("simhash near-dup pairs",
        time(graft.operators.Dedup
          .simHashNearDup(docs, "doc_id", "text").count()),
        time(graft.operators.Dedup
          .simHashNearDupArith(docs, "doc_id", "text").count())),
      ("kmv distinct (4 lineitem cols)",
        time(li.agg(
          expr("kmv_distinct(l_partkey)"), expr("kmv_distinct(l_suppkey)"),
          expr("kmv_distinct(l_orderkey)"),
          expr("kmv_distinct(l_shipdate)")).count()),
        time(li.agg(
          expr("kmv_distinct_det(CAST(l_partkey AS STRING))"),
          expr("kmv_distinct_det(CAST(l_suppkey AS STRING))"),
          expr("kmv_distinct_det(CAST(l_orderkey AS STRING))"),
          expr("kmv_distinct_det(CAST(l_shipdate AS STRING))")).count())),
      ("kmv mergeable state rollup",
        time(li.groupBy(col("l_returnflag"))
          .agg(expr("kmv_state(l_partkey)").as("s"))
          .agg(expr("kmv_merge(s)")).count()),
        time(li.groupBy(col("l_returnflag"))
          .agg(expr("kmv_state_det(CAST(l_partkey AS STRING))").as("s"))
          .agg(expr("kmv_merge_det(s)")).count())))

    println(s"# det-vs-xx sketch cost (sf dir: $dir, warm min-of-3)\n")
    println("| twin | xxhash64 (s) | md5-det (s) | det/xx |")
    println("|---|---|---|---|")
    rows.foreach { case (name, xx, det) =>
      println(f"| $name | $xx%.2f | $det%.2f | ${det / xx}%.1fx |")
    }
    println("\nThe xx kernels are the library hot path (`ops`/SQL facade);")
    println("the det variants exist to make registry queries DuckDB-")
    println("replayable bit-exactly. Keep the facade on xx unless an")
    println("oracle needs replay.")
    spark.stop()
  }
}
