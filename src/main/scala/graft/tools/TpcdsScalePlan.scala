package graft.tools

import scala.collection.mutable

import graft.{Engine, Sessions}
import graft.operators.TpcdsVerbatim
import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession

/** Prints the final (AQE-resolved) formatted plan + per-stage task/time
  * split for chosen verbatim TPC-DS texts over the factor-N scaled fixture
  * (the [[TpcdsScaleBench]] scratch). Diagnosis companion for the r14
  * scaled-measurement work.
  *
  * Usage: sbt "runMain graft.tools.TpcdsScalePlan <factor> <q> [q...]"
  */
object TpcdsScalePlan {
  private final class StageStats extends SparkListener {
    val rows = mutable.Buffer[(Int, Int, Double, Double)]()
    private val mx = mutable.Map[Int, Long]().withDefaultValue(0L)
    private val sm = mutable.Map[Int, Long]().withDefaultValue(0L)
    private val ct = mutable.Map[Int, Int]().withDefaultValue(0)
    override def onTaskEnd(t: SparkListenerTaskEnd): Unit = synchronized {
      val d = Option(t.taskInfo).map(_.duration).getOrElse(0L)
      mx(t.stageId) = math.max(mx(t.stageId), d)
      sm(t.stageId) += d
      ct(t.stageId) += 1
    }
    override def onStageCompleted(s: SparkListenerStageCompleted): Unit =
      synchronized {
        val id = s.stageInfo.stageId
        rows += ((id, ct(id), sm(id) / 1e3, mx(id) / 1e3))
      }
    def reset(): Unit = synchronized { rows.clear(); mx.clear(); sm.clear(); ct.clear() }
  }

  def main(args: Array[String]): Unit = {
    val factor = args.head.toInt
    val qs = args.tail
    val src = "/root/testdata/sf0.1"
    val spark = Engine.configure(
      SparkSession.builder().master(s"local[${Engine.cpus}]")).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val dir = if (factor == 1) src else s"/tmp/graft_tpch_scale_x$factor"
    val session = Sessions.fixture(spark, dir, TpcdsVerbatim.corpus)
    val listener = new StageStats
    spark.sparkContext.addSparkListener(listener)
    qs.foreach { q =>
      session.sql(TpcdsVerbatim.queryText(q)).count() // warm
      listener.reset()
      val df = session.sql(TpcdsVerbatim.queryText(q))
      val t0 = System.nanoTime()
      df.count() // execute so AQE finalizes
      val dt = (System.nanoTime() - t0) / 1e9
      println(f"===== $q x$factor FINAL PLAN (warm ${dt}%.2fs) =====")
      Thread.sleep(300)
      listener.rows.sortBy(-_._3).take(12).foreach { case (id, n, s, m) =>
        println(f"  stage $id%4d tasks=$n%4d sumTask=$s%8.2fs maxTask=$m%7.2fs")
      }
      println(df.queryExecution.explainString(
        org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
        .take(8000))
    }
    spark.stop()
  }
}
