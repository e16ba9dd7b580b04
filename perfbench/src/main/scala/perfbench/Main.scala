package perfbench

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import graft.{Engine, QueryDef, SparkEntry, Tables, ops}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.functions._

/** One measured operation: `build` is the call into `graft.operators` (or
  * the `graft.ops` facade) that returns a DataFrame with eager analysis;
  * `sink` executes it and returns the rows it fetched, if any. */
final case class Op(name: String, family: String,
    build: (SparkSession, String) => DataFrame,
    sink: (DataFrame, String) => Option[Array[Row]], oracle: Option[String])

/** Benchmark JVM: set-up (several times, median reported by the caller),
  * a closed loop with one client over the workload's operations for the
  * requested seconds; afterwards, untimed, every operation's fetched output
  * is written for the correctness check. Writes `<out>/result.json`.
  *
  * Usage: perfbench.Main <workload> <seed> <seconds> <trace 0|1> <data dir>
  *        <out dir> <cores> <setup reps> */
object Main {
  /** Registry rows return their result to the client, as a user's query
    * does; the fetched rows are what the correctness check compares. */
  private def fetch(df: DataFrame, out: String): Option[Array[Row]] =
    Some(df.collect())

  /** `q_<family>_…`; golden rows are grouped one level deeper, by suite. */
  private def family(name: String): String =
    name.split("_").take(if (name.startsWith("q_golden_")) 3 else 2)
      .mkString("_")

  private def registryOp(q: QueryDef): Op =
    Op(q.name, family(q.name), q.run, fetch, q.oracle)

  /** Fixed stratified sample in a fixed order: rows sorted by (family,
    * name), every k-th starting mid-stride. The seed varies the inputs
    * only: drawing the rows by seed made one pass over the golden
    * batteries range from 4 to 21 s on one host, and a seeded order moves
    * each query's latency with how warm the JIT is when it runs. */
  private def systematic(rows: Seq[QueryDef], k: Int): Seq[QueryDef] =
    rows.sortBy(q => (family(q.name), q.name)).drop(k / 2)
      .grouped(k).map(_.head).toSeq

  private val verbatim = Seq("q_tpch_verbatim", "q_tpcds_verbatim",
    "q_ssb_verbatim")
  private val curationFamilies = Seq("q_dedup_", "q_text_", "q_sample_",
    "q_docs_")

  /** The `graft.ops` curation job: scrub → MinHash near-dup pairs →
    * clusters → keep the longest copy per cluster → hash split; written
    * through the `arrow` format. */
  private def curationBuild(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables(spark, dir, "documents")
      .withColumn("text", ops.scrubbed(col("text")))
    val pairs = ops.minHashNearDup(docs, "doc_id", "text", threshold = 0.5)
    val clusters = ops.nearDupClusters(pairs.select("doc_a", "doc_b"))
    val keyed = docs.join(clusters, docs("doc_id") === clusters("doc"), "left")
      .withColumn("grp", coalesce(col("label"), col("doc_id")))
    val keepers = ops.dedupKeepBest(keyed, col("grp"), -col("n_chars"))
    val curated = docs.join(keepers.select(col("keeper").as("doc_id")), "doc_id")
    ops.withHashSplit(curated, "text")
  }

  private def arrowSink(df: DataFrame, out: String): Option[Array[Row]] = {
    df.write.format("arrow").mode("overwrite").save(s"$out/curated")
    None
  }

  def workload(name: String): Seq[Op] = {
    val registry = SparkEntry.registry
    def golden(q: QueryDef) = q.name.startsWith("q_golden_")
    def curation(q: QueryDef) = curationFamilies.exists(q.name.startsWith)
    name match {
      case "fixture_mix" =>
        val floor = registry.filterNot(q => golden(q) || curation(q) ||
          verbatim.exists(q.name.startsWith))
        (systematic(floor, 20) ++ systematic(registry.filter(golden), 40))
          .map(registryOp)
      case "llm_curation" =>
        // the curation job, the slowest operation, goes first and absorbs
        // the fresh JVM's warm-up, which would otherwise land on the rows
        // around the median of this six-operation pass
        Op(curationJob, "ops", curationBuild, arrowSink, None) +:
          systematic(registry.filter(curation), 10).map(registryOp)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
  }

  val curationJob = "curation_job"

  def main(argv: Array[String]): Unit = {
    val Array(wl, seedS, secondsS, traceS, data, out, coresS, repsS) = argv
    new Runner(wl, seedS.toLong, secondsS.toDouble, traceS == "1", data, out,
      coresS.toInt, repsS.toInt).run()
  }
}

final class Runner(wl: String, seed: Long, seconds: Double, traced: Boolean,
    data: String, out: String, cores: Int, reps: Int) {
  private val outputs = mutable.Map[String, (Array[Row], StructType)]()

  private def newSession(): SparkSession = {
    val b = SparkSession.builder().master(s"local[$cores]").appName("perfbench")
      .config("spark.sql.warehouse.dir", s"$out/warehouse")
      .config("spark.local.dir", s"$out/spark-local")
    if (traced)
      b.config("spark.sql.queryExecutionListeners", classOf[PhaseListener].getName)
    val s = Engine.configure(b).getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    graft.plans.GraftFunctions.ensureRegistered(s)
    s
  }

  /** Table catalog: every table's schema and file listing, resolved once. */
  private def catalog(spark: SparkSession): Unit =
    Tables.registerAll(spark, data)

  private def warmup(spark: SparkSession): Unit =
    graft.operators.Aggregates.q1Agg.run(spark, data)
      .write.format("noop").mode("overwrite").save()

  private def secs(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  /** One operation, timed; traced passes record its layer spans. */
  private def runOp(spark: SparkSession, op: Op, qid: String,
      tracedPass: Boolean, errors: mutable.Map[String, String]): Map[String, Any] = {
    val sc = spark.sparkContext
    sc.setJobGroup(qid, op.name, interruptOnCancel = false)
    val t0 = System.nanoTime()
    var tBuild = 0.0
    val ok =
      try {
        Trace.span("query", qid, 0) { root =>
          val b0 = System.nanoTime()
          var buildSpan = 0
          val df = Trace.span("build", qid, root) { id =>
            buildSpan = id; op.build(spark, data) }
          tBuild = secs(b0)
          if (tracedPass) df.queryExecution.tracker.phases.get("analysis")
            .foreach(p => Trace.addSpan("analysis", qid, buildSpan,
              p.startTimeMs.toDouble, p.endTimeMs.toDouble))
          Trace.span("exec", qid, root)(_ => op.sink(df, out))
            .foreach(rows => outputs(op.name) = (rows, df.schema))
        }
        true
      } catch {
        case e: Throwable =>
          errors.getOrElseUpdate(op.name,
            s"${e.getClass.getSimpleName}: ${e.getMessage}")
          false
      }
    val dt = secs(t0)
    sc.clearJobGroup()
    spark.catalog.clearCache()
    Map("op" -> op.name, "family" -> op.family, "latency_s" -> dt,
      "build_s" -> tBuild, "ok" -> ok)
  }

  def run(): Unit = {
    val opsList = Main.workload(wl)
    // set-up from scratch `reps` times: session, function registration,
    // table catalog, warm-up
    var spark: SparkSession = null
    val setups = (1 to reps).map { i =>
      if (spark != null) spark.stop()
      val t0 = System.nanoTime()
      spark = newSession()
      val tSession = secs(t0)
      val t1 = System.nanoTime()
      catalog(spark)
      val tFixture = secs(t1)
      val t2 = System.nanoTime()
      warmup(spark)
      val tWarm = secs(t2)
      System.err.println(f"[perfbench] setup $i: session $tSession%.2fs " +
        f"fixture $tFixture%.2fs warmup $tWarm%.2fs")
      Map("session_s" -> tSession, "fixture_s" -> tFixture,
        "warmup_s" -> tWarm, "setup_s" -> secs(t0))
    }
    val sc = spark.sparkContext
    val profile = sessionProfile(spark)

    // measured closed loop, one client: whole passes over the op list, a
    // new one only while fewer than `seconds` have elapsed (a pass cut at
    // the deadline would change which operations the median is taken
    // over). A traced run makes four passes instead:
    // an untraced warm-up, then untraced, traced and untraced passes, so
    // tracing overhead is the traced pass's wall time over the mean of the
    // untraced passes around it, which bracket its warmth. The listeners
    // are attached for the traced pass only.
    val records = mutable.ArrayBuffer[Map[String, Any]]()
    val passes = mutable.ArrayBuffer[Map[String, Any]]()
    val errors = mutable.LinkedHashMap[String, String]()
    val tStart = System.nanoTime()
    val deadline = tStart + (seconds * 1e9).toLong
    var pass = 0
    def more: Boolean =
      if (traced) pass < 4 else pass == 0 || System.nanoTime() < deadline
    while (more) {
      val tracedPass = traced && pass == 2
      if (tracedPass) { Trace.attach(sc); Trace.open() }
      val p0 = System.nanoTime()
      val ran = opsList.zipWithIndex.map { case (op, i) =>
        runOp(spark, op, s"p$pass:$i:${op.name}", tracedPass, errors) }
      val wall = secs(p0)
      if (tracedPass) { Trace.close(); Trace.detach(sc) }
      records ++= ran.map(_ ++ Map("pass" -> pass, "traced" -> tracedPass))
      passes += Map("pass" -> pass, "wall_s" -> wall,
        "traced" -> tracedPass, "warmup" -> (traced && pass == 0))
      pass += 1
    }
    val measured = secs(tStart)

    // untimed: write each op's last fetched result for the oracle
    // comparison done by the caller
    val checks = opsList.map { op =>
      val dir = s"$out/results/${op.name}"
      (errors.get(op.name), outputs.get(op.name)) match {
        case (Some(err), _) => Map("op" -> op.name, "ok" -> false, "error" -> err)
        case (None, Some((rows, schema))) =>
          spark.createDataFrame(rows.toSeq.asJava, schema).coalesce(1)
            .write.mode("overwrite").parquet(dir)
          Map("op" -> op.name, "ok" -> true, "path" -> dir,
            "oracle" -> op.oracle.orNull)
        case (None, None) => // the curation job's output is its arrow write
          Map("op" -> op.name, "ok" -> true, "path" -> s"$out/curated")
      }
    }
    spark.stop()

    // the JVM's peak resident set, from the kernel's high-water mark
    val peakRssKb = scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toLong).getOrElse(-1L)

    val result = Map[String, Any](
      "workload" -> wl, "seed" -> seed, "cores" -> cores,
      "heap_mb" -> Runtime.getRuntime.maxMemory / (1 << 20),
      "jdk" -> System.getProperty("java.version"),
      "spark" -> org.apache.spark.SPARK_VERSION,
      "profile" -> profile, "ops_per_pass" -> opsList.size,
      "peak_rss_mb" -> peakRssKb / 1024.0,
      "setups" -> setups, "measured_s" -> measured, "passes" -> passes.toSeq,
      "records" -> records.toSeq, "errors" -> errors.toMap, "checks" -> checks,
      "trace" -> (if (traced) TraceSummary(cores) else Map.empty))
    new ObjectMapper().registerModule(DefaultScalaModule)
      .writeValue(new java.io.File(s"$out/result.json"), result)
  }

  /** The session profile in effect where the workload's queries run. */
  private def sessionProfile(spark: SparkSession): Map[String, String] =
    Seq("spark.sql.shuffle.partitions", "spark.sql.join.preferSortMergeJoin",
      "spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold",
      "spark.sql.adaptive.enabled", "spark.sql.adaptive.skewJoin.enabled",
      "spark.sql.cbo.enabled", "spark.sql.cbo.joinReorder.enabled",
      "spark.sql.optimizer.runtime.bloomFilter.enabled",
      "spark.sql.autoBroadcastJoinThreshold")
      .map(k => k -> spark.conf.getOption(k).getOrElse("<unset>")).toMap
}
