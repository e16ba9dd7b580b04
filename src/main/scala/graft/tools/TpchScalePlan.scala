package graft.tools

import graft.{Engine, Sessions}
import graft.operators.TpchVerbatim
import org.apache.spark.sql.SparkSession

/** Prints the final (AQE-resolved) formatted plan + per-stage task/time
  * split for chosen verbatim TPC-H texts over the factor-N scaled fixture
  * (the [[TpchScaleBench]] scratch). Diagnosis companion for the r13
  * scaled-measurement work.
  *
  * Usage: sbt "runMain graft.tools.TpchScalePlan <factor> <q> [q...]"
  */
object TpchScalePlan {
  def main(args: Array[String]): Unit = {
    val factor = args.head.toInt
    val qs = args.tail
    val src = "/root/testdata/sf0.1"
    val spark = Engine.configure(
      SparkSession.builder().master(s"local[${Engine.cpus}]")).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val dir = if (factor == 1) src else s"/tmp/graft_tpch_scale_x$factor"
    val session = Sessions.fixture(spark, dir, TpchVerbatim.corpus)
    qs.foreach { q =>
      val df = session.sql(TpchVerbatim.queryText(q))
      df.count() // execute so AQE finalizes
      println(s"===== $q x$factor FINAL PLAN =====")
      println(df.queryExecution.explainString(
        org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
        .take(8000))
    }
    spark.stop()
  }
}
