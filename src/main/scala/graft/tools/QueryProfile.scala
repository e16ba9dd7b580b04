package graft.tools

import scala.collection.mutable

import graft.{Engine, SparkEntry}
import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerStageCompleted, SparkListenerTaskEnd}

/** Per-stage task count, summed and longest task time from the listener
  * bus — the one stage table [[QueryProfile]] and [[ScaleBench]] print. */
private[tools] final class StageStats extends SparkListener {
  private val stages = mutable.Buffer[(Int, String, Int, Long, Long)]()
  private val taskMax = mutable.Map[Int, Long]().withDefaultValue(0L)
  private val taskSum = mutable.Map[Int, Long]().withDefaultValue(0L)
  private val taskCnt = mutable.Map[Int, Int]().withDefaultValue(0)
  private val drainGroup = "graft-stage-stats-drain"
  @volatile private var drainJob = -1
  @volatile private var drainStages = Set.empty[Int]
  private val drained = new java.util.concurrent.Semaphore(0)

  override def onJobStart(j: SparkListenerJobStart): Unit =
    if (Option(j.properties).exists(
        _.getProperty("spark.jobGroup.id") == drainGroup)) {
      drainStages = j.stageIds.toSet
      drainJob = j.jobId
    }
  override def onJobEnd(j: SparkListenerJobEnd): Unit =
    if (j.jobId == drainJob) drained.release()
  override def onTaskEnd(t: SparkListenerTaskEnd): Unit = synchronized {
    val d = Option(t.taskInfo).map(_.duration).getOrElse(0L)
    taskMax(t.stageId) = math.max(taskMax(t.stageId), d)
    taskSum(t.stageId) += d
    taskCnt(t.stageId) += 1
  }
  override def onStageCompleted(s: SparkListenerStageCompleted): Unit =
    synchronized {
      val id = s.stageInfo.stageId
      if (!drainStages.contains(id))
        stages += ((id, s.stageInfo.name.split("\n")(0).take(60),
          taskCnt(id), taskSum(id), taskMax(id)))
    }
  def reset(): Unit = synchronized {
    stages.clear(); taskMax.clear(); taskSum.clear(); taskCnt.clear()
  }

  /** The `top` stages by longest task since the last [[reset]]. A marker
    * job drains the bus first: events arrive in order, so once the marker
    * has ended every earlier stage is recorded. */
  def table(sc: SparkContext, top: Int): Seq[String] = {
    sc.setJobGroup(drainGroup, "drain the listener bus", interruptOnCancel = false)
    try sc.parallelize(Seq(1), 1).count()
    finally sc.clearJobGroup()
    require(drained.tryAcquire(120, java.util.concurrent.TimeUnit.SECONDS),
      "the listener bus did not drain")
    synchronized(stages.sortBy(-_._5).take(top).toSeq).map {
      case (id, nm, n, sum, max) =>
        f"  stage $id%4d tasks=$n%4d sumTask=${sum / 1e3}%7.2fs " +
          f"maxTask=${max / 1e3}%7.2fs  $nm"
    }
  }
}

/** Dev probe (guide §1): per-query breakdown of WHERE the wall time goes —
  * driver planning (df construction + analysis) vs execution — plus
  * per-stage task counts and max-task share, to spot single-task stages
  * (unsplittable single-row-group scans) and stragglers. Warm runs in one
  * JVM, min-of-N like Bench.
  *
  *   sbt "runMain graft.tools.QueryProfile q_profile_lineitem q_agg_hll_distinct"
  */
object QueryProfile {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val iters = 3
    val spark = Engine.session()
    val listener = new StageStats
    spark.sparkContext.addSparkListener(listener)
    SparkEntry.entry(spark).write.format("noop").mode("overwrite").save()
    args.foreach { name =>
      val q = SparkEntry.registry.find(_.name == name)
        .getOrElse(sys.error(s"no registry query named $name"))
      val results = (1 to iters).map { i =>
        System.gc()
        listener.reset()
        spark.sparkContext.setJobDescription(s"profile:$name#$i")
        val t0 = System.nanoTime()
        val df = q.run(spark, sfDir)
        // force full planning (analysis+optimization+physical) before exec
        df.queryExecution.executedPlan
        val t1 = System.nanoTime()
        df.write.format("noop").mode("overwrite").save()
        val t2 = System.nanoTime()
        spark.catalog.clearCache()
        ((t1 - t0) / 1e9, (t2 - t1) / 1e9)
      }
      val best = results.minBy(r => r._1 + r._2)
      println(f"===== $name  plan=${best._1}%.3fs exec=${best._2}%.3fs " +
        f"(min-of-$iters; all=${results.map(r => f"${r._1 + r._2}%.2f").mkString(",")})")
      // stage table from the LAST iteration (warm)
      listener.table(spark.sparkContext, 12).foreach(println)
    }
    spark.stop()
  }
}
