package graft.tools

import java.io.File
import java.nio.file.Files

import scala.util.control.NonFatal

import graft.{Bench, Engine, Sessions, SparkEntry, Tables}
import graft.operators.Verbatim
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.ExplainMode
import org.apache.spark.sql.functions._

/** Scaled runs — one harness for every row set, as the reference runs
  * TPC-H, TPC-DS and SSB through one runner
  * (native-sql-engine/core/src/test/scala/.../tpc/util/TPCRunner.scala).
  * The fixture-scale rows are per-query-floor bound, so strategy decisions
  * rest on scaled measurements.
  *
  * Row sets, all over the sf dir with its facts replicated `factor`×
  * ([[graft.Sessions.replica]]: keys re-spaced so join fan-outs stay
  * realistic):
  *   - `tpch|tpcds|ssb`: the registry rows of a verbatim corpus (the rows
  *     the oracle checks). Every corpus's micro-schema is PARAMETRIC in
  *     the facts, so the normal [[graft.Sessions.fixture]] path (ANALYZE +
  *     CBO + the shared session profile, whose partition floor
  *     self-releases and whose SHJ preference self-enables above
  *     [[graft.Sessions.smallFactRows]]) derives a `factor`×-sized schema
  *     with full referential integrity while the dims keep their
  *     spec-shaped caps;
  *   - `heavy`: the [[heavy]] registry rows and scale-only `op_*` runners,
  *     over the replica itself — the local stand-in for the 100 TB
  *     question: plans chosen at sf0.1 must still behave at 10-100×.
  *
  * Each row runs once untimed to record its rows (executing the frame's
  * own plan, no row fetched to the driver), final AQE plan and stage table,
  * and to check that plan against its committed plan-stability pin — the
  * pinned fixture-scale plans amortizing is a finding, not a given: stats
  * differ `factor`×, CBO and AQE re-decide everything; then it is timed by
  * [[graft.Bench.minOf3]]. Under the fixture root (the replica for
  * `heavy`) it writes `_plans/<q>.txt` (final plan + stage table) and, for
  * a corpus, `_duck_sql/<q>.sql` (the prefix-free DuckDB statement), and
  * prints one JSON line last, which tools/scale_duck.py reads to time
  * DuckDB over the SAME parquet. Rows that fail are listed under `failed`.
  *
  * GATE mode times every heavy entry at both factors and FAILS (exit 1)
  * when an entry not tagged [[graft.QueryDef.parityShape]] or
  * [[gateExempt]] grows super-linearly ([[verdict]]). Parity shapes (the
  * canonical q21 self-joins etc.) are reported but never gate: their scale
  * behavior is pinned by their `*_fast` twins instead.
  *
  * Usage:
  *   sbt "runMain graft.tools.ScaleBench <tpch|tpcds|ssb|heavy> <factor> [srcDir [entry...]]"
  *   sbt "runMain graft.tools.ScaleBench gate <fA> <fB> [srcDir]"
  */
object ScaleBench {

  type Runner = (SparkSession, String) => DataFrame

  /** The `heavy` row set: registry rows and [[extraRunners]] whose wall
    * time must track the data linearly — the set the gate times. */
  val heavy = Seq("q1_agg", "q_join_q5_snowflake", "q_join_inner_smj",
    "q_tpch_q18", "q_events_sessionize", "q_window_running_sum",
    "q_dedup_minhash_lsh", "q_union_distinct",
    // round 3: anti-join chain, SSB star, LSH near-dup, packing
    "q_tpch_q21", "q_ssb_q4_1", "q_dedup_embedding_lsh",
    "q_pack_sequences",
    // round 4: the single-pass q21 rewrite beside the self-join original,
    // plus the dedup chain against the now-replicated documents fact
    "q_tpch_q21_fast", "q_dedup_exact", "q_dedup_clusters",
    "q_docs_pipeline", "q_text_freq_tokens",
    // round 4b: decontamination over the replicated corpus, quantized
    // retrieval, custom top-k exec, merge, BM25
    "q_decontaminate", "q_sim_quantized_topk", "q_topk_per_group",
    "q_merge_upsert", "q_text_bm25",
    // round 5: the heaviest new DS shapes — the three-fact follow-up chain
    // (three distinct exchange keys) and the INTERSECT+scalar+union+rollup
    // composite
    "q_ds_returns_chain", "q_ds_cross_channel_rollup",
    // round 5b: Gopher battery (explode + bigram shuffles over the
    // replicated corpus), KMV pairwise algebra (must stay flat — raw
    // tokens never join), map-only mixture sampling
    "q_text_gopher", "q_text_kmv_overlap", "q_sample_mix",
    // round 5c: PQ encode must be LINEAR in the corpus (fixed codebook —
    // a corpus-fraction codebook would be quadratic and fail here)
    "q_sim_ann_pq",
    // round 5d: Lloyd's k-means over the REPLICATED embedding corpus
    // (embeddings_rep, vec_ids shifted) — assignment is a narrow map and
    // the update shuffle is partitions·k·d regardless of n, so wall time
    // must track the corpus linearly
    "op_kmeans_i8",
    // round 5e: substring-span census (one explode + one fp shuffle, rows
    // ~ bytes/stride — must stay linear even though the replicated corpus
    // makes nearly every span "repeated") and bloom-routed admission (the
    // bloom build is one pass, the residual anti-join is bounded by the
    // duplicate volume)
    "q_dedup_repeated_spans", "q_dedup_admit_bloom",
    // round 6: quota selection must stay census+boundary-bounded (never a
    // whole-group sort), epoch sharding is map + per-shard sort (linear),
    // RAG chunking is a fixed ~2x explode + broadcast-scored scan, and the
    // reformulated KMV sketch is two narrow partial aggregates
    "q_sample_unimax", "q_sample_epoch_shards", "q_rag_chunk_retrieval",
    "q_agg_kmv_sketch",
    // round 6b: bigram-LM fluency scoring — model aggregate is
    // vocab-bounded and the scoring join is keyed on (lang, w1, w2), so
    // wall time must track the corpus linearly even at 100x duplication
    // (duplicated docs only deepen counts, never widen the model)
    "q_text_lm_fluency",
    // round 6c: bitmap COUNT DISTINCT ships constant <=4KB bitmaps per
    // (group, bucket) however many rows feed them; DSIR's two unigram
    // models are vocab-bounded and scoring is two keyed joins over one
    // token explode; priority dedup is one min-struct aggregate (the
    // exact-dedup shuffle with a wider payload); the diversity report is
    // two explodes + vocab-bounded aggregates
    "q_agg_bitmap_distinct", "q_sample_dsir", "q_dedup_priority",
    "q_text_diversity",
    // round 6d: oversampling explodes to the OUTPUT size (bounded by the
    // budgets, not the corpus); the leakage split rides the same pair/CC
    // machinery as the curation pipeline — on a replicated corpus its raw
    // form shares the minhash quadratic-in-duplication hazard (replica
    // cliques), so the gate measures the composition the operator's
    // scaladoc prescribes: exact dedup FIRST, then the split
    "q_sample_oversample", "op_leakage_split_deduped",
    // round 7: container header synth+parse is a pure per-row byte kernel
    // (must be exactly linear); interleaved packing is the running-sum
    // window per language (linear, no global sort); blob near-dup is gated
    // in the prescribed composition — exact blob dedup FIRST (one md5
    // shuffle collapses the replicas), then the histogram-signature pair
    // census, same stage-order lever as op_leakage_split_deduped
    "q_mm_bmp_header", "q_mm_interleave", "op_blob_neardup_deduped",
    // boilerplate removal: chunk explode + df aggregate + join-back +
    // per-doc reassembly, all corpus-linear (replication deepens df
    // counts — it never widens the chunk vocabulary)
    "q_text_boilerplate",
    // token-weighted quota: same census + boundary-bucket discipline as
    // quotaSelect (must never regress to a whole-group sort); PNG chunk
    // walk is a pure per-row byte kernel (exactly linear)
    "q_sample_token_budget", "q_mm_png_chunks",
    // PageRank: 5 rounds of one |E|-shuffle join + one dst aggregate —
    // must track the edge count linearly
    "q_graph_pagerank",
    // the composed cleaning pipeline: scrub map + boilerplate
    // explode/df/join + one dedup shuffle, all corpus-linear
    "q_docs_pipeline_clean",
    // round 7b: triangle counting — the degree orientation bounds every
    // node's out-adjacency to O(sqrt(m)), so the wedge stage must track
    // the edge count near-linearly even as replication densifies the
    // md5 link graph; audio frame energy is one bounded (<=128/row)
    // explode + per-doc aggregate + per-doc window, exactly linear
    "q_graph_triangles", "q_mm_audio_energy",
    // k-core peeling: four rounds of degree-aggregate + two semi-joins
    // over an eagerly-checkpointed, monotonically-shrinking edge set —
    // must track |E| linearly
    "q_graph_kcore",
    // perceptron training: per round one map + one 8-wide aggregate with
    // an 8-long driver pull (k-means discipline) — corpus-linear however
    // many rounds
    "q_text_perceptron",
    // round 7c: MAD outlier census is two grouped exact percentiles +
    // two broadcast stats joins (replication deepens groups, never widens
    // them); frozen label propagation is one |E|-shuffle join + one dst
    // min-aggregate + one anti-join per round over the replica-scaled
    // link graph; attribution pairs on (user, lookback bucket), so the
    // 31-day-shifted replicas of a user can never meet in a probe and
    // the join stays corpus-linear; fuzzy linkage runs fact-sized dirty
    // mentions against the replica-collapsed DISTINCT catalog (blocked
    // equi-join — replication multiplies the dirty side only)
    "q_events_mad_outliers", "q_graph_label_prop",
    "q_events_attribution", "op_fuzzy_link_rep",
    // drift report: one map-combine (key, log2-bucket) aggregate — the
    // window/TV math runs on the bucket-bounded frame; mix pipeline:
    // dedup-first ordering collapses the replicas before the budget
    // census and quota ranking, same stage-order lever as q_docs_pipeline
    "q_profile_drift", "q_mix_pipeline",
    // market basket: distinct (basket, item) + one self-equi-join on the
    // basket key (per-basket fan-out is bounded by basket size, ≤13 parts
    // per order in the fixture) + pair aggregate + per-item top-k;
    // transitions: one per-user lag window + a |types|²-bounded aggregate
    "q_retr_market_basket", "q_events_transitions",
    // novelty: bigram explode + gram-vocab-bounded first-bearer aggregate
    // + join-back (replication deepens gram counts, never widens the
    // vocabulary); vocab churn: one explode + one (lang, token) aggregate
    "q_text_novelty", "q_text_vocab_churn",
    // rank calibration: one window per source (group-bounded sort) + a
    // |sources|-bounded census
    "q_sample_calibrate",
    // round 8: PII redaction is a pure four-regex map stage (must be
    // exactly linear); stitching is two boundary-hash equi-joins (tails
    // vs heads), corpus-linear with collision-bounded output (segment-
    // blocked linkage at scale is op_fuzzy_link_rep below — the q_link_*
    // registry rows run on the dim-sized part catalog)
    "q_text_redact", "q_text_stitch")

  /** Scale-only runners that aren't registry queries: operators whose
    * registry fixture is a dim-sized table, re-run here against the
    * replicated fact-sized variant the scratch dir carries. */
  private val extraRunners: Map[String, Runner] =
    Map(
      "op_kmeans_i8" -> { (spark, dir) =>
        graft.plans.GraftFunctions.ensureRegistered(spark)
        // scratch dirs carry the replicated fact variant; plain testdata
        // dirs (plan-signature pinning) fall back to the dim-sized table
        val rep = s"$dir/embeddings_rep.parquet"
        val path = if (java.nio.file.Files.exists(
            java.nio.file.Paths.get(rep))) rep
          else s"$dir/embeddings.parquet"
        // loud in the gate log: if a scratch dir ever failed to write the
        // replicated fixture, the fallback would otherwise silently time
        // the dim-sized table at both factors and the entry goes vacuous
        println(s"  op_kmeans_i8 input: $path" +
          (if (path == rep) "" else " (FALLBACK: dim-sized table)"))
        val e = spark.read.parquet(path)
          .select(col("vec_id"), expr("quantize_i8(embedding)").as("v"))
        graft.ops.kmeansI8(e, "vec_id", "v", k = 8, iters = 2)
      },
      // leakage-safe split as the pipeline runs it at scale: exact dedup
      // collapses the replicated corpus FIRST (one md5 shuffle), so the
      // pair/CC stages see the deduped 15k docs however many replicas the
      // scratch dir carries — the same stage-order lever as q_docs_pipeline
      "op_leakage_split_deduped" -> { (spark, dir) =>
        graft.plans.GraftFunctions.ensureRegistered(spark)
        val docs = Tables(spark, dir, "documents")
        val deduped = docs
          .groupBy(md5(col("text").cast("binary")).as("fp"))
          .agg(min(col("doc_id")).as("keep_id"))
          .join(docs, col("keep_id") === col("doc_id"))
          .select(docs.columns.map(col): _*)
        graft.ops.leakageSafeSplit(deduped)
          .groupBy(col("split")).agg(count(lit(1)).as("n_docs"))
      },
      // fuzzy record linkage at scale: dirty mentions are per-doc
      // corrupted 24-char prefixes of the REPLICATED documents fact (the
      // corpus-sized side), the catalog is the DISTINCT prefix set (the
      // replicas collapse — dimension-sized, broadcastable); cost is the
      // blocked equi-join + per-block levenshtein, linear in the corpus
      "op_fuzzy_link_rep" -> { (spark, dir) =>
        val base = Tables(spark, dir, "documents")
          .select(col("doc_id"), expr("substr(text, 1, 24)").as("name"))
          .filter(length(col("name")) >= 6)
        val catalog = base.select(col("name").as("clean_name")).distinct()
        val dirty = base.withColumn("pos",
            expr("CAST(5 + conv(substr(md5(name), 1, 6), 16, 10) " +
              "% (length(name) - 4) AS INT)"))
          .select(col("doc_id").as("dirty_id"),
            expr("concat(substr(name, 1, pos - 1), substr(name, pos + 1))")
              .as("dirty_name"))
        graft.ops.fuzzyJoin(dirty, catalog, "dirty_name", "clean_name")
          .agg(count(lit(1)).as("n_matches"))
      },
      // blob near-dup as the pipeline runs it at scale: exact blob dedup
      // collapses replicas first, then the histogram-signature candidate
      // pair census runs over the deduped blobs
      "op_blob_neardup_deduped" -> { (spark, dir) =>
        val blobs = Tables(spark, dir, "documents")
          .select(col("doc_id"), col("text").cast("binary").as("blob"))
        val deduped = graft.ops.dedupBlobs(blobs, "doc_id", "blob")
        val sigs = graft.ops.blobHistogramSig(deduped, "doc_id", "blob")
        val a = sigs.select(col("bh_sig"), col("doc_id").as("id_a"))
        val b = sigs.select(col("bh_sig"), col("doc_id").as("id_b"))
        a.join(b, "bh_sig").filter(col("id_a") < col("id_b"))
          .agg(count(lit(1)).as("n_candidate_pairs"))
      })

  /** A gate entry by name: a registry query or an op_* scale-only runner
    * (PlanStabilitySpec pins the same set). */
  def runner(name: String): Runner =
    extraRunners.getOrElse(name, SparkEntry.queries(name))

  /** Gate exemptions beyond parityShape, each with the reason on record:
    * q_dedup_clusters is linear in its INPUT (the near-dup pair list), and
    * q_dedup_minhash_lsh in its bucket PAIR volume — but the replica corpus
    * makes both quantities quadratic in the duplication factor by
    * construction (every replica collides with every other), so the
    * measured 100× blow-up (9.2s→74s raw LSH at 30×→100×) is the input,
    * not the operator. The mitigation is pipeline ORDER — exact dedup
    * first — and the gate proves it beside them: q_docs_pipeline, which
    * contains the same near-dup stage behind an exact-dedup stage, stays
    * FLAT (1.8s→1.4s) on the identical corpus. */
  val gateExempt = Set("q_dedup_clusters", "q_dedup_minhash_lsh")

  /** Written adjudications for entries that sit in the >2.0× watch band
    * (above the ~1-1.5× most entries show once the per-query scheduling
    * floor amortizes, still inside the hard budget): WHY the growth is
    * the input's, not a plan flaw. Printed with the gate line whenever
    * the measured ratio exceeds 2.0, so the log is self-justifying
    * (VERDICT r8 #3). */
  val adjudications: Map[String, String] = Map(
    "q_graph_triangles" ->
      ("O(m^1.5) by algorithm: degree-oriented wedge counting is bounded " +
        "by sum(min-deg oriented wedges) ~ m^1.5; replication multiplies " +
        "m 3.3x, so the envelope allows up to ~6x. Input-shape-bound."),
    "q_events_transitions" ->
      ("window-sort-bound: per-user streams grow with replication (same " +
        "users, 3.3x events each), and ordering each stream is the " +
        "operator's definition — no pre-aggregation can reorder a lag(). " +
        "Ratio stays below the 3.3x data growth = sublinear."),
    "q_events_mad_outliers" ->
      ("corpus-linear by construction after the r9 histogram rework: the " +
        "one corpus-wide stage is a map-side-combinable (key,value) " +
        "census; everything after runs on the value-domain-bounded " +
        "histogram."),
    "q_docs_pipeline_clean" ->
      ("corpus-linear: scrub regexes and chunk hashing are pure map " +
        "work, the df census ships fixed-width md5 keys (r9 rework — " +
        "chunk text no longer crosses any shuffle), and replicas are " +
        "DISTINCT doc_ids so exact df must see each one. Subtracting " +
        "the ~0.5s scheduling floor the growth matches the 3.3x data " +
        "ratio; the 2.3-2.7x run-to-run band is noise on that floor."))

  /** The gate's verdict on `name`, timed `tA` at factor `fA` and `tB` at
    * `fB` (None: the row failed), `tagged` when it is a parity shape or
    * exempt: its log lines and whether it fails the gate. The budget is
    * 2× proportional (log-factor + noise headroom); the denominator is
    * floored at the per-query scheduling floor (~0.25s at these scales):
    * below it wall time measures job-launch noise, not throughput, and a
    * 0.09s -> 0.7s move would read as "8x" while being two samples of the
    * same floor. A row that failed at either factor fails the gate. */
  def verdict(name: String, fA: Int, tA: Option[Double], fB: Int,
      tB: Option[Double], tagged: Boolean): (Seq[String], Boolean) = {
    val budget = 2.0 * fB / fA
    def secs(t: Option[Double]) = t.fold("failed")(v => f"$v%.2fs")
    val ratio = for (a <- tA; b <- tB) yield b / math.max(a, 0.25)
    val (word, fails) = ratio match {
      case None => ("FAILED TO RUN — FAIL", true)
      case Some(r) if r <= budget => ("linear-ok", false)
      case Some(_) if tagged => ("super-linear (tagged, allowed)", false)
      case Some(_) => ("SUPER-LINEAR — FAIL", true)
    }
    val line = f"[scale-gate] $name%-24s x$fA=${secs(tA)} x$fB=${secs(tB)} " +
      ratio.fold("")(r => f"ratio=$r%.1f ") + f"budget=$budget%.1f $word"
    val why = ratio.filter(_ > 2.0).flatMap(_ => adjudications.get(name))
    (line +: why.map(w => s"[scale-gate]   adjudicated: $w").toSeq, fails)
  }

  /** A parsed command line: a row set with one factor, or `gate` with
    * two. */
  final case class Args(set: String, factors: Seq[Int], src: String,
      only: Seq[String])

  private val usage = "usage: ScaleBench <tpch|tpcds|ssb|heavy> <factor> " +
    "[srcDir [entry...]] | ScaleBench gate <fA> <fB> [srcDir]"

  /** Check the command line before any session starts. */
  def parse(args: Seq[String]): Args = {
    require(args.nonEmpty, usage)
    val set = args.head
    val gate = set == "gate"
    require(gate || set == "heavy" || Verbatim.all.exists(_.name == set),
      s"row set '$set' is not tpch, tpcds, ssb, heavy or gate; $usage")
    val names = if (gate) Seq("fA", "fB") else Seq("factor")
    require(args.length > names.size, usage)
    val factors = names.zip(args.tail).map { case (n, v) =>
      v.toIntOption.filter(_ >= 1).getOrElse(throw new IllegalArgumentException(
        s"$n must be an integer >= 1, got '$v'"))
    }
    if (gate) require(factors(1) > factors(0),
      s"fB must exceed fA, got fA=${factors(0)} fB=${factors(1)}")
    val rest = args.drop(1 + names.size)
    require(!gate || rest.length <= 1, usage)
    Args(set, factors, rest.headOption.getOrElse("/root/testdata/sf0.1"),
      rest.drop(1))
  }

  /** What one row recorded: its best time, its rows and its pin status. */
  final case class Measured(seconds: Double, rows: Long, pin: String)

  /** Run the entries of row set `set` named in `only` (all when empty)
    * over `src` replicated `factor`×; returns the fixture root and each
    * entry's measurement (None: it failed). */
  def measure(spark: SparkSession, set: String, factor: Int, src: String,
      only: Seq[String]): (File, Seq[(String, Option[Measured])]) = {
    val tag = s"[scale-bench $set x$factor]"
    val dir = Sessions.replica(spark, src, factor)
    // (short name, registry name for the pin, runner)
    val (root, entries) =
      if (set == "heavy") (new File(dir), heavy.map(n => (n, n, runner(n))))
      else {
        val corpus = Verbatim(set)
        val t0 = System.nanoTime()
        val session = Sessions.fixture(spark, dir, corpus)
        val root = corpus.root(dir)
        println(f"$tag fixture ready in ${(System.nanoTime() - t0) / 1e9}%.1fs  " +
          s"root=${root.getPath}  " +
          s"shufflePartitions=${session.conf.get("spark.sql.shuffle.partitions")}  " +
          s"preferSMJ=${session.conf.get("spark.sql.join.preferSortMergeJoin", "true")}")
        val duckSql = new File(root, "_duck_sql")
        duckSql.mkdirs()
        corpus.queryNames.foreach(q => Files.writeString(
          new File(duckSql, s"$q.sql").toPath, corpus.oracleBody(q)))
        (root, corpus.queryNames.zip(corpus.all).map { case (q, row) =>
          (q, row.name, row.run) })
      }
    val unknown = only.filterNot(entries.map(_._1).toSet)
    require(unknown.isEmpty, s"not in row set $set: ${unknown.mkString(", ")}")
    val plans = new File(root, "_plans")
    plans.mkdirs()
    val width = entries.map(_._1.length).max

    val stats = new StageStats
    spark.sparkContext.addSparkListener(stats)
    val results = try entries.filter(e => only.isEmpty || only.contains(e._1))
      .map { case (q, pinName, run) =>
        stats.reset()
        val recorded =
          try {
            val df = run(spark, dir)
            // executes the frame's own plan, so AQE finalizes it
            val rows = df.queryExecution.toRdd.count()
            Files.writeString(new File(plans, s"$q.txt").toPath,
              df.queryExecution.explainString(ExplainMode.fromString("formatted")) +
                "\nstages by longest task:\n" +
                stats.table(spark.sparkContext, 12).mkString("\n") + "\n")
            Some(rows -> PlanSignature.pinStatus(pinName,
              PlanSignature.signature(df.queryExecution.executedPlan)))
          } catch { case NonFatal(e) =>
            System.err.println(s"$tag $q failed: ${e.getMessage}")
            None
          }
        val m = recorded.flatMap { case (rows, pin) =>
          Bench.minOf3(spark, q)(run(spark, dir)).map(Measured(_, rows, pin))
        }
        m.foreach(r => println(s"$tag ${q.padTo(width, ' ')} " +
          f"rows=${r.rows}%-9d ${r.seconds}%.3fs  plan=${r.pin}"))
        q -> m
      }
    finally spark.sparkContext.removeSparkListener(stats)
    println(s"$tag plan pins: " + results.flatMap(_._2).groupBy(_.pin).toSeq
      .sortBy(_._1).map { case (pin, rs) => s"$pin=${rs.size}" }.mkString(" "))
    (root, results)
  }

  /** [[measure]] as the JSON line tools/scale_duck.py reads. */
  def run(spark: SparkSession, set: String, factor: Int, src: String,
      only: Seq[String]): String = {
    val (root, results) = measure(spark, set, factor, src, only)
    val ok = results.collect { case (q, Some(m)) => q -> m }
    def obj(f: Measured => String): String =
      ok.map { case (q, m) => s""""$q":${f(m)}""" }.mkString("{", ",", "}")
    val metric = if (set == "heavy") s"heavy_x$factor" else s"${set}_verbatim_x$factor"
    s"""{"metric":"$metric",""" +
      f""""value":${ok.map(_._2.seconds).sum}%.3f,"unit":"sec",""" +
      s""""factor":$factor,"fixtureRoot":"${root.getPath}",""" +
      s""""queries":${obj(m => f"${m.seconds}%.3f")},"rows":${obj(_.rows.toString)},""" +
      s""""failed":${results.collect { case (q, None) => s""""$q"""" }.mkString("[", ",", "]")}}"""
  }

  /** Time every heavy entry at `fA` and `fB`, print one verdict per entry;
    * true when none fails. */
  def gate(spark: SparkSession, fA: Int, fB: Int, src: String): Boolean = {
    val parity = SparkEntry.registry.filter(_.parityShape).map(_.name).toSet
    val Seq(tA, tB) = Seq(fA, fB).map(f =>
      measure(spark, "heavy", f, src, Nil)._2.toMap.view.mapValues(_.map(_.seconds)))
    val failed = heavy.filter { name =>
      val (lines, fails) = verdict(name, fA, tA(name), fB, tB(name),
        parity.contains(name) || gateExempt.contains(name))
      lines.foreach(println)
      fails
    }
    if (failed.nonEmpty)
      System.err.println(s"[scale-gate] FAILED: ${failed.mkString(", ")}")
    else println(s"[scale-gate] PASS: all untagged heavy queries within " +
      f"${2.0 * fB / fA}%.1fx at $fB/$fA scale")
    failed.isEmpty
  }

  def main(args: Array[String]): Unit = {
    val a = parse(args.toSeq)
    val spark = Engine.session()
    if (a.set == "gate") {
      val ok = gate(spark, a.factors(0), a.factors(1), a.src)
      spark.stop()
      if (!ok) sys.exit(1)
    } else {
      val line = run(spark, a.set, a.factors.head, a.src, a.only)
      spark.stop()
      println(line)
    }
  }
}
