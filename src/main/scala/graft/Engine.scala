package graft

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.parquet.hadoop.{ParquetFileReader, metadata, util}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.Bridge
import org.apache.spark.sql.types.{LongType, StructType}

/** Session factory + table catalog for the graft engine.
  *
  * The reference (oap-project/native-sql-engine) attaches to Spark via
  * `spark.sql.extensions=com.intel.oap.ColumnarPlugin`
  * (reference: native-sql-engine/core/src/main/scala/com/intel/oap/ColumnarPlugin.scala:387-394).
  * We keep the same shape — an extensions entry point (`graft.plans.GraftExtensions`)
  * — but the execution engine is stock Catalyst + Tungsten: declarative plans,
  * whole-stage codegen, AQE. Defaults below are chosen for cluster citizenship
  * (AQE coalesce/skew handling on, shuffle parallelism = cores locally, UTC).
  */
object Engine {
  /** the core count of the committed bench record (Bench refreshes its
    * repo artifact only at this count) */
  val defaultCpus = 32

  /** local parallelism: match cores, not Spark's default 200 shuffle
    * partitions; `SPARK_GRAFT_CPUS` overrides the default */
  lazy val cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(parseCpus)
    .getOrElse(defaultCpus)

  /** a core count: an integer >= 1 (`032` is 32), else the variable and
    * its value are named before Spark's master-URL parser sees them */
  private[graft] def parseCpus(v: String): Int =
    v.toIntOption.filter(_ >= 1).getOrElse(throw new IllegalArgumentException(
      s"SPARK_GRAFT_CPUS must be an integer >= 1, got '$v'"))

  def session(): SparkSession = {
    val spark = configure(
      SparkSession.builder().appName("graft").master(s"local[$cpus]"))
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Shared config for every entry point (Verify/Bench/tests), so the
    * correctness gate and the bench measure the same engine. */
  def configure(b: SparkSession.Builder): SparkSession.Builder = b
    .config("spark.sql.shuffle.partitions", cpus)
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.adaptive.enabled", "true")
    .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
    .config("spark.sql.adaptive.skewJoin.enabled", "true")
    // testdata parquet carries ms-precision timestamps with
    // isAdjustedToUTC=false; read them as session-TZ (UTC) timestamps, not
    // TIMESTAMP_NTZ, so datetime functions apply uniformly.
    .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
    // events.parquet carries TIMESTAMP(NANOS) which the parquet vectorized
    // reader rejects; read as raw long nanos and normalize in Tables.
    .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    .config("spark.sql.extensions", "graft.plans.GraftExtensions")
    // compiled classes are cached per (classloader, code), 100 by default;
    // one fixture_mix pass (perfbench) compiles 340-375 classes, about 245
    // of them distinct, so at 100 every repeated pass compiled them all again
    .config("spark.sql.codegen.cache.maxEntries", 1000)
}

/** Loaders for the driver-generated testdata tables (TESTDATA.md / FIXTURES.md).
  * Spark's vectorized parquet reader with predicate pushdown and column
  * pruning is the idiomatic equivalent of the reference's Arrow Dataset scan
  * (reference: arrow-data-source/standard/.../ArrowDataSourceV2.scala:27-41).
  * As there, a table's schema comes from one driver-side footer read per
  * JVM ([[footer]]) and is handed to the reader: loading starts no job.
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  // Catalog-style metadata reuse: a production engine resolves a table's
  // schema + file listing once (metastore), not per query. Re-running
  // spark.read.parquet per query re-reads footers and re-lists files — at
  // ~10 tables × ~100 queries that fixed cost dominates small-SF benches and
  // is pure waste at any scale. Keyed by the session object (SparkSession
  // has identity equality) so concurrent sessions (tests) stay isolated.
  private final class Catalog {
    val frames =
      new java.util.concurrent.ConcurrentHashMap[(String, String), DataFrame]()
    /** the dir whose tables are registered as temp views, if any */
    val views = new java.util.concurrent.atomic.AtomicReference[String]()
  }

  private val catalogs =
    new java.util.concurrent.ConcurrentHashMap[SparkSession, Catalog]()

  private def catalog(spark: SparkSession): Catalog =
    catalogs.computeIfAbsent(spark, _ => new Catalog)

  def apply(spark: SparkSession, dir: String, name: String): DataFrame =
    catalog(spark).frames.computeIfAbsent((dir, name),
      _ => load(spark, dir, name))

  private def load(spark: SparkSession, dir: String, name: String): DataFrame = {
    val path = s"$dir/$name.parquet"
    val df = schemaOf(spark, path).fold(spark.read)(spark.read.schema).parquet(path)
    if (name == "events" &&
      df.schema("ts").dataType == LongType)
      // nanosAsLong=true surfaces NANOS parquet as Long nanos; truncate to
      // micros and rebuild a proper timestamp column (session TZ is UTC).
      // `div` keeps the arithmetic integral — `/` would detour through
      // double, and epoch-ns values (~1.7e18) exceed double's 2^53 exact
      // range, silently rounding sub-ms digits. Re-written events tables
      // (e.g. Sessions.replica) arrive as TIMESTAMP already and pass through.
      df.withColumn("ts", timestamp_micros(expr("ts div 1000")))
    else df
  }

  /** guide §2.5 "input skew — one huge unsplittable file": parquet scans
    * parallelize at ROW-GROUP granularity, so a table whose files carry
    * fewer row groups than the session has cores runs its scan stage — and
    * any per-row-heavy work fused into it (sketch updates, hash chains,
    * decimal arithmetic, text shingling) — on fewer tasks than cores no
    * matter how Spark byte-splits the files. [[spread]] redistributes such
    * a table once, by a natural high-cardinality key (never rand(): retry
    * safety, guide §2.5), to the session's shuffle parallelism BEFORE the
    * heavy compute. The condition derives from the input itself (the
    * smaller of the footer row-group count and the scan's planned
    * partitions vs `defaultParallelism`), so at production layouts —
    * hundreds of row groups per 100 TB table — it is the identity and adds
    * NO exchange; only a degenerate layout pays the (tiny, proportional)
    * one-time shuffle. Callers are the per-row-heavy operators only:
    * shuffle-bound queries (joins/aggregations on keys) repartition anyway
    * and must not pay a second exchange. */
  private val spreadKeys: Map[String, Seq[String]] = Map(
    "lineitem" -> Seq("l_orderkey", "l_linenumber"),
    "orders" -> Seq("o_orderkey"),
    "customer" -> Seq("c_custkey"),
    "part" -> Seq("p_partkey"),
    "supplier" -> Seq("s_suppkey"),
    "events" -> Seq("event_id"),
    "documents" -> Seq("doc_id"),
    "embeddings" -> Seq("vec_id"))

  /** One footer read per data file per JVM, keyed by the file's status so
    * a file rewritten at the same path is read again. Schema inference
    * would start a Spark job in every session to read the same footer. */
  private val footers =
    new java.util.concurrent.ConcurrentHashMap[(String, Long, Long), metadata.ParquetMetadata]()

  private def footer(conf: Configuration, f: FileStatus): metadata.ParquetMetadata =
    footers.computeIfAbsent((f.getPath.toString, f.getLen, f.getModificationTime), _ => {
      val r = ParquetFileReader.open(util.HadoopInputFile.fromStatus(f, conf))
      try r.getFooter finally r.close()
    })

  /** a table's data files, sorted by path as schema inference sorts them,
    * and whether inference would read the first one (not so for partition
    * dirs or parquet summary files) */
  private def dataFiles(spark: SparkSession, path: String) = {
    val conf = spark.sessionState.newHadoopConf()
    val p = new Path(path)
    val all = p.getFileSystem(conf).listStatus(p).toSeq.sortBy(_.getPath.toString)
    val data = all.filterNot(f => Seq("_", ".").exists(f.getPath.getName.startsWith))
    (conf, data, data.forall(_.isFile) && !all.exists(f =>
      Seq("_metadata", "_common_metadata").contains(f.getPath.getName)))
  }

  /** the schema `spark.read.parquet(path)` infers (mergeSchema off),
    * converted under this session's conf; None leaves it to inference */
  private[graft] def schemaOf(spark: SparkSession, path: String): Option[StructType] = {
    val (conf, data, readsFirst) = dataFiles(spark, path)
    data.headOption.filter(_ => readsFirst)
      .map(f => Bridge.parquetSchema(spark, f.getPath, footer(conf, f)))
  }

  private[graft] def rowGroupCount(spark: SparkSession, path: String): Int = {
    val (conf, data, _) = dataFiles(spark, path)
    data.filter(_.isFile).map(footer(conf, _).getBlocks.size).sum
  }

  /** `keys` override: when the first downstream operation groups by a
    * known key, spreading BY THAT KEY lets the exchange double as the
    * operation's own shuffle (no second exchange); default is the table's
    * natural key, and a table without one (region, nation) passes through.
    * The partition count is deliberately left to AQE
    * (`parallelismFirst` coalescing): measured at sf0.1, forcing
    * `defaultParallelism` partitions pays more per-task floor than the
    * extra parallelism earns — AQE's size-derived pick is the
    * scale-adaptive one (guide §2.2). */
  def spread(spark: SparkSession, dir: String, name: String,
      keys: String*): DataFrame = {
    val df = apply(spark, dir, name)
    val ks = if (keys.nonEmpty) keys else spreadKeys.getOrElse(name, Nil)
    val cores = spark.sparkContext.defaultParallelism
    // Spark packs a small file's row groups into one split (the split
    // size floor is `openCostInBytes`), so the planned partition count
    // bounds the scan's tasks too; `df.rdd` plans it without a job
    if (ks.isEmpty || (rowGroupCount(spark, s"$dir/$name.parquet") >= cores &&
        df.rdd.getNumPartitions >= cores)) df
    else df.repartition(ks.map(df.col): _*)
  }

  /** Register every table as a temp view so SQL-text queries can run.
    * Idempotent per (session, dir): re-registers only when the dir changes. */
  def registerAll(spark: SparkSession, dir: String): Unit =
    if (catalog(spark).views.getAndSet(dir) != dir)
      names.foreach(n => apply(spark, dir, n).createOrReplaceTempView(n))
}
