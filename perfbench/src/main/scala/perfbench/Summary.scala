package perfbench

import scala.jdk.CollectionConverters._

/** Per-layer figures from the in-memory trace, per traced pass. */
object TraceSummary {
  private type Iv = (Double, Double)

  private def union(iv: Seq[Iv]): Seq[Iv] =
    iv.filter(x => x._2 > x._1).sortBy(_._1).foldLeft(List.empty[Iv]) {
      case ((s, e) :: rest, (s2, e2)) if s2 <= e => (s, math.max(e, e2)) :: rest
      case (acc, x) => x :: acc
    }.reverse

  private def len(iv: Seq[Iv]): Double = union(iv).map(x => x._2 - x._1).sum

  /** |a \ b| = |a ∪ b| − |b| */
  private def minus(a: Seq[Iv], b: Seq[Iv]): Double = len(a ++ b) - len(b)

  private def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }

  def apply(cores: Int): Map[String, Any] = {
    val spans = Trace.spans.asScala.toSeq
    val roots = spans.filter(_.name == "query")
    val traced = roots.map(_.query).toSet
    val nPass = math.max(1, roots.map(_.query.takeWhile(_ != ':')).distinct.size)
    val tasks = Trace.tasks.asScala.toSeq.filter(t => traced(t.group))
    val stages = Trace.stages.asScala.toSeq.filter(s => traced(s.group))
    val jobs = Trace.jobs.values.asScala.toSeq.filter(j => traced(j.group))
    // a QueryExecutionListener callback carries no job group, so a plan
    // belongs to the query whose span holds its first planning phase (the
    // loop runs one query at a time)
    val plans = Trace.plans.asScala.toSeq.flatMap { p =>
      p.phases.values.map(_._1.toDouble).minOption.flatMap(t =>
        roots.find(r => r.start - 2 <= t && t <= r.end + 2)).map(_.query -> p)
    }
    val aqe = Trace.execGroup.asScala.collect {
      case (id, g) if traced(g) => Option(Trace.aqeUpdates.get(id)).map(_.intValue).getOrElse(0)
    }.sum
    def per(x: Double): Double = x / nPass
    val mb = 1024.0 * 1024.0

    // self time per layer, query by query
    val self = Array.fill(5)(0.0)
    roots.foreach { r =>
      val q = r.query
      val mine = spans.filter(_.query == q)
      val build = mine.filter(_.name == "build").map(s => (s.start, s.end))
      val phases = mine.filter(_.name == "analysis").map(s => (s.start, s.end)) ++
        plans.filter(_._1 == q).flatMap(_._2.phases.values
          .map(p => (p._1.toDouble, p._2.toDouble)))
      val js = jobs.filter(_.group == q).map(j => (j.start.toDouble,
        (if (j.end < 0) j.start else j.end).toDouble))
      val ss = stages.filter(_.group == q).map(s => (s.submit.toDouble, s.complete.toDouble))
      self(0) += minus(build, phases ++ js)
      self(1) += minus(phases, js)
      self(2) += minus(js, ss)
      self(3) += len(ss)
      self(4) += minus(Seq((r.start, r.end)), build ++ phases ++ js)
    }
    val execWallMs = spans.filter(_.name == "exec").map(_.dur).sum +
      spans.filter(_.name == "build").map(_.dur).sum
    val taskMs = tasks.map(t => (t.finish - t.launch).toDouble).sum
    // slowest task over its stage's wall, in each query's longest stage
    val shares = roots.flatMap { r =>
      val ss = stages.filter(_.group == r.query)
      if (ss.isEmpty) None else {
        val worst = ss.maxBy(s => s.complete - s.submit)
        val wall = (worst.complete - worst.submit).toDouble
        val slow = tasks.filter(t => t.group == r.query && t.stage == worst.id)
          .map(t => (t.finish - t.launch).toDouble)
        if (wall <= 0 || slow.isEmpty) None else Some(math.min(1.0, slow.max / wall))
      }
    }
    val replay = plans.filter(_._1.contains(":q_golden_")).map(_._2)
    def phase(n: String): Double = plans.map(_._2.phases.get(n)
      .map(p => (p._2 - p._1).toDouble).getOrElse(0.0)).sum +
      (if (n == "analysis") spans.filter(_.name == "analysis").map(_.dur).sum else 0.0)
    val builds = spans.filter(_.name == "build").map(_.dur)

    val metrics = Map[String, Double](
      "build_s" -> per(builds.sum / 1000),
      "build_p50_ms" -> median(builds),
      "plan.analysis_s" -> per(phase("analysis") / 1000),
      "plan.optimization_s" -> per(phase("optimization") / 1000),
      "plan.planning_s" -> per(phase("planning") / 1000),
      "replay.statements" -> per(replay.size),
      "replay.stmt_p50_ms" -> median(replay.map(_.durMs)),
      "sched.jobs" -> per(jobs.size),
      "sched.stages" -> per(stages.size),
      "sched.tasks" -> per(tasks.size),
      "sched.aqe_updates" -> per(aqe),
      "sched.idle_frac" ->
        (if (execWallMs <= 0) 0.0 else math.max(0.0, 1 - taskMs / (execWallMs * cores))),
      "task.run_s" -> per(tasks.map(_.runMs).sum / 1000.0),
      "task.cpu_s" -> per(tasks.map(_.cpuNs).sum / 1e9),
      "task.gc_s" -> per(tasks.map(_.gcMs).sum / 1000.0),
      "task.max_share" -> median(shares),
      "task.failed" -> per(tasks.count(_.failed)),
      "shuffle.write_mb" -> per(tasks.map(_.shuffleWrite).sum / mb),
      "shuffle.read_mb" -> per(tasks.map(_.shuffleRead).sum / mb),
      "spill_mb" -> per(tasks.map(_.spill).sum / mb),
      "peak_exec_mem_mb" -> (if (tasks.isEmpty) 0.0 else tasks.map(_.peakMem).max / mb),
      "joins.smj" -> per(plans.map(_._2.smj).sum),
      "joins.shj" -> per(plans.map(_._2.shj).sum),
      "joins.bhj" -> per(plans.map(_._2.bhj).sum),
      "runtime_filters" -> per(plans.map(_._2.runtimeFilters).sum),
      "scan.input_mb" -> per(tasks.map(_.inBytes).sum / mb),
      "scan.rows_in" -> per(tasks.map(_.inRows).sum.toDouble),
      "write.output_mb" -> per(tasks.map(_.outBytes).sum / mb),
      "self.operators_s" -> per(self(0) / 1000),
      "self.plans_s" -> per(self(1) / 1000),
      "self.sched_s" -> per(self(2) / 1000),
      "self.tasks_s" -> per(self(3) / 1000),
      "self.driver_s" -> per(self(4) / 1000))

    val spanOut = spans.map(s => Map("id" -> s.id, "parent" -> s.parent,
      "name" -> s.name, "query" -> s.query, "start" -> s.start, "end" -> s.end)) ++
      jobs.map(j => Map("name" -> "job", "query" -> j.group, "start" -> j.start,
        "end" -> j.end, "job" -> j.id)) ++
      stages.map(s => Map("name" -> "stage", "query" -> s.group, "start" -> s.submit,
        "end" -> s.complete, "stage" -> s.id, "tasks" -> s.tasks)) ++
      plans.flatMap { case (g, p) => p.phases.map { case (n, (a, b)) =>
        Map("name" -> s"phase.$n", "query" -> g, "start" -> a, "end" -> b) } }
    Map("traced_passes" -> nPass, "metrics" -> metrics, "spans" -> spanOut,
      "events" -> Map("plans" -> Trace.plans.size, "attributed_plans" -> plans.size,
        "executions" -> Trace.execGroup.size, "jobs" -> Trace.jobs.size,
        "tasks" -> Trace.tasks.size))
  }
}
