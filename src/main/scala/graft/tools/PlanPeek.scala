package graft.tools

/** Dev probe: print the join/exchange/aggregate skeleton of the final
  * (AQE-resolved) physical plan for the named registry queries.
  * `sbt "runMain graft.tools.PlanPeek q_tpch_q2 q_ssb_q2_1"`;
  * `SPARK_GRAFT_SF_DIR=<dir>` (e.g. a `Sessions.replica` dir) overrides the data dir.
  */
object PlanPeek {
  def main(args: Array[String]): Unit = {
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    val spark = graft.Engine.session()
    args.foreach { name =>
      val df = graft.SparkEntry.queries(name)(spark, dir)
      df.collect()
      println(s"===== $name =====")
      println(df.queryExecution.executedPlan.toString
        .split("== Initial Plan ==")(0).linesIterator
        .filter(l => l.contains("Join") || l.contains("Exchange") ||
          l.contains("Aggregate") || l.contains("Subquery") ||
          l.contains("CartesianProduct") || l.contains("Scan") ||
          l.contains("Window") || l.contains("Sort ") || l.contains("Expand"))
        .mkString("\n"))
    }
    spark.stop()
  }
}
