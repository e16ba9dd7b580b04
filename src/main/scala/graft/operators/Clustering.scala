package graft.operators

import graft.{QueryDef, Tables}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Distributed Lloyd's k-means over int8-quantized embeddings — the
  * semantic-clustering primitive a curation pipeline uses to group a corpus
  * before per-cluster dedup/sampling, and the trainer the PQ/IVF indexes
  * (Similarity.scala) stand in fixed codebooks for.
  *
  * All arithmetic is EXACT integer (squared-L2 over int8 components,
  * centroid means via the same floor(sum/n + 0.5) rounding on both
  * engines), so the full iteration — seeds, assignments, updated
  * centroids, final clusters — is bit-reproducible in DuckDB and the
  * registry query is oracle-checked, not rows-only. Seeding is
  * deterministic (the k lowest-id vectors), matching the registry's
  * no-RNG reproducibility rule.
  *
  * The 100 TB shape (classic scalable Lloyd's):
  *  - assignment is a NARROW map: k×d centroid literals ride the closure
  *    (k·d ≤ a few KB), each row scores k codegen'd `vec_dot_i8` kernel
  *    calls — no shuffle, no join;
  *  - the update is posexplode → partial-aggregated sum/count per
  *    (cluster, dim) — the shuffle moves ≤ partitions·k·d pre-combined
  *    rows, and the driver pulls exactly k·d longs (the same bounded
  *    1-collect pattern as Layout's range bounds);
  *  - iterations multiply the scan count, not the shuffle width.
  *
  * Reference lacks any clustering operator (its aggregate list is six
  * built-ins, ColumnarHashAggregation.scala:101-196); this is part of the
  * beyond-reference LLM-pipeline surface.
  */
object Clustering {

  /** Single assignment pass: each row of `v` (columns id, v) scored
    * against every centroid — score_j = |c_j|^2 − 2·<v, c_j>, whose argmin
    * equals argmin |v−c_j|^2 (|v|^2 is constant per row), ties → lowest j
    * via array_position. A NARROW map: the k×d centroid literals ride the
    * expression tree, each scored by a codegen'd `vec_dot_i8` call. */
  private def assignExact(v: DataFrame, c: Array[Array[Long]]): DataFrame = {
    val scores: Seq[Column] = c.toIndexedSeq.map { cj =>
      val cc = cj.map(x => x * x).sum
      val centLit = s"CAST(array(${cj.mkString(",")}) AS ARRAY<TINYINT>)"
      lit(cc) - lit(2L) * expr(s"vec_dot_i8(v, $centLit)")
    }
    v.withColumn("scores", array(scores: _*))
      .withColumn("best", array_min(col("scores")))
      .select(
        col("id"), col("v"),
        (array_position(col("scores"), col("best")) - 1L).as("cluster"),
        // exact |v - c_win|^2 = |v|^2 + score_win
        (expr("vec_dot_i8(v, v)") + col("best")).as("dist2"))
  }

  /** Train centroids: deterministic lowest-id seeds, then `iters − 1`
    * Lloyd's update rounds (the centroids a final `iters`-th assignment
    * pass would use). Each round is one narrow assignment map plus a
    * posexplode partial-agg shuffle of ≤ partitions·k·d rows; the driver
    * pulls exactly k·d longs per round (the bounded-collect pattern). */
  def fitKmeansI8(
      quantized: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      iters: Int): Array[Array[Long]] = {
    require(k > 0 && iters > 0, s"k and iters must be positive: k=$k iters=$iters")
    val v = quantized.select(
      col(idCol).cast("long").as("id"), col(vecCol).as("v"))
    var cents: Array[Array[Long]] = v.orderBy(col("id")).limit(k).collect()
      .map(_.getSeq[Byte](1).map(_.toLong).toArray)
    require(cents.length == k, s"need >= $k input vectors, got ${cents.length}")
    var it = 1
    while (it < iters) {
      // new centroid = rounded per-dim mean of members; empty cluster keeps
      // its previous centroid. floor(x + 0.5) — the one rounding both Spark
      // and DuckDB spell identically (see VectorKernels.quantizeI8).
      val sums = assignExact(v, cents)
        .select(col("cluster"), posexplode(col("v")))
        .groupBy(col("cluster"), col("pos"))
        .agg(sum(col("col").cast("long")).as("s"), count(lit(1)).as("n"))
        .collect()
      val next = cents.map(_.clone())
      sums.foreach { r =>
        val cl = r.getLong(0).toInt; val pos = r.getInt(1)
        next(cl)(pos) =
          math.floor(r.getLong(2).toDouble / r.getLong(3).toDouble + 0.5).toLong
      }
      cents = next
      it += 1
    }
    cents
  }

  /** Lloyd's k-means over an `array<tinyint>` column. Returns the input
    * ids with their final cluster id and exact squared-L2 distance to the
    * winning centroid. `iters` = number of assignment passes (updates run
    * between passes, not after the last).
    */
  def kmeansI8(
      quantized: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      iters: Int): DataFrame = {
    val cents = fitKmeansI8(quantized, idCol, vecCol, k, iters)
    val v = quantized.select(
      col(idCol).cast("long").as("id"), col(vecCol).as("v"))
    assignExact(v, cents).select(col("id"), col("cluster"), col("dist2"))
  }

  /** Top-`nProbe` cells per row by COSINE to the trained centroids (the
    * retrieval metric — training is int8-L2, but assignment/probing for
    * ANN uses the same cosine the re-rank stage scores with, so cell
    * geometry and query metric agree). One output row per (id, probed
    * cell); rank 1 = best cell. Narrow map: k cosine_sim kernel calls per
    * row against centroid literals, bounded k-element sort. Tie rule =
    * (cos DESC, cell ASC) via ascending (−cos, cell) struct sort. */
  def probeCellsCosine(
      emb: DataFrame,
      idCol: String,
      embCol: String,
      cents: Array[Array[Long]],
      nProbe: Int): DataFrame = {
    require(nProbe > 0 && nProbe <= cents.length,
      s"nProbe must be in [1, ${cents.length}]: $nProbe")
    val v = emb.select(col(idCol).cast("long").as("id"), col(embCol).as("e"))
    val scores: Seq[Column] = cents.toIndexedSeq.zipWithIndex.map {
      case (cj, j) =>
        val centLit = s"CAST(array(${cj.mkString(",")}) AS ARRAY<FLOAT>)"
        struct((-expr(s"cosine_sim(e, $centLit)")).as("negcos"),
          lit(j.toLong).as("cell"))
    }
    v.withColumn("ranked", slice(array_sort(array(scores: _*)), 1, nProbe))
      .select(col("id"), posexplode(col("ranked")).as(Seq("rank0", "sc")))
      .select(col("id"), col("sc.cell").as("cell"),
        (col("rank0") + 1).cast("long").as("probe_rank"))
  }

  private val dims = 64
  private val kQ = 8

  /** DuckDB mirror of `quantize_i8(embedding)` as a list<bigint> —
    * identical to the q_sim_quantized_topk oracle's qv CTE. */
  private def duckQuantCte: String =
    s"""qv AS (
        SELECT vec_id,
               CASE WHEN m = 0e0
                    THEN list_transform(embedding, x -> CAST(0 AS BIGINT))
                    ELSE list_transform(embedding,
                      x -> CAST(floor(CAST(x AS DOUBLE) * 127e0 / m + 5e-1)
                                AS BIGINT))
               END AS q
        FROM (SELECT vec_id, embedding,
                     list_max(list_transform(embedding,
                       x -> abs(CAST(x AS DOUBLE)))) AS m
              FROM embeddings))"""

  /** exact integer squared-L2 between two list<bigint> of length `dims` */
  private def duckDist2(a: String, b: String): String =
    s"""CAST(list_reduce(list_transform(range($dims),
          i -> ($a[i+1] - $b[i+1]) * ($a[i+1] - $b[i+1])),
          (p, x) -> p + x) AS BIGINT)"""

  /** one assignment pass: each vector to its nearest centroid in `cent`
    * (columns cid, c), ties to the lowest cid — identical to the Spark
    * side's array_position-first-min rule. */
  private def duckAssign(cent: String): String =
    s"""SELECT vec_id, q, cid, dist2 FROM (
          SELECT v.vec_id, v.q, c.cid,
                 ${duckDist2("v.q", "c.c")} AS dist2,
                 row_number() OVER (PARTITION BY v.vec_id
                                    ORDER BY ${duckDist2("v.q", "c.c")}, c.cid)
                   AS rn
          FROM qv v, $cent c) WHERE rn = 1"""

  /** centroid update from an assignment CTE: rounded per-dim integer mean,
    * empty clusters keep the previous centroid. */
  private def duckUpdate(assignCte: String, prevCent: String): String =
    s"""SELECT p.cid, coalesce(u.c, p.c) AS c
        FROM $prevCent p LEFT JOIN (
          SELECT cid, list(m ORDER BY j) AS c FROM (
            SELECT a.cid, r.range AS j,
                   CAST(floor(CAST(sum(a.q[r.range + 1]) AS DOUBLE)
                              / CAST(count(*) AS DOUBLE) + 5e-1) AS BIGINT)
                     AS m
            FROM $assignCte a, range($dims) r
            GROUP BY a.cid, r.range)
          GROUP BY cid) u ON p.cid = u.cid"""

  /** k=8, 2 assignment passes over the quantized embeddings corpus —
    * the full Lloyd's loop (seed → assign → update → assign) reproduced
    * bit-exact by the unrolled DuckDB oracle. */
  val kmeansQuery = QueryDef(
    "q_cluster_kmeans",
    (spark, dir) => {
      val e = Tables(spark, dir, "embeddings")
        .select(col("vec_id"), expr("quantize_i8(embedding)").as("v"))
      kmeansI8(e, "vec_id", "v", kQ, iters = 2)
        .select(col("id").as("vec_id"), col("cluster"), col("dist2"))
    },
    Some(s"""
      WITH ${duckQuantCte},
      c0 AS (SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS BIGINT)
                      AS cid, q AS c
             FROM qv ORDER BY vec_id LIMIT $kQ),
      a0 AS (${duckAssign("c0")}),
      c1 AS (${duckUpdate("a0", "c0")}),
      a1 AS (${duckAssign("c1")})
      SELECT vec_id, cid AS cluster, dist2 FROM a1"""))

  /** Cluster profile on top of the same run — sizes and exact
    * within-cluster sum of squares (the quantity Lloyd's minimizes),
    * pivoting the assignment through an ordinary aggregate. */
  val kmeansSizes = QueryDef(
    "q_cluster_kmeans_profile",
    (spark, dir) => {
      val e = Tables(spark, dir, "embeddings")
        .select(col("vec_id"), expr("quantize_i8(embedding)").as("v"))
      kmeansI8(e, "vec_id", "v", kQ, iters = 2)
        .groupBy(col("cluster"))
        .agg(count(lit(1)).as("n"), sum(col("dist2")).as("wcss"))
        .orderBy(col("cluster"))
    },
    Some(s"""
      WITH ${duckQuantCte},
      c0 AS (SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS BIGINT)
                      AS cid, q AS c
             FROM qv ORDER BY vec_id LIMIT $kQ),
      a0 AS (${duckAssign("c0")}),
      c1 AS (${duckUpdate("a0", "c0")}),
      a1 AS (${duckAssign("c1")})
      SELECT cid AS cluster, count(*) AS n,
             CAST(sum(dist2) AS BIGINT) AS wcss
      FROM a1 GROUP BY cid ORDER BY cluster"""))

  /** Semantic deduplication (SemDeDup, Abbas et al. 2023): cluster the
    * embedding corpus with k-means, then inside each cluster rank members
    * by distance to the centroid (farthest first — the paper keeps the
    * LEAST prototypical example of a duplicate group) and drop any member
    * whose cosine similarity to a better-ranked clustermate reaches `tau`.
    * Clustering is the scale lever: pairwise similarity is computed only
    * WITHIN a cluster (the paper's whole point — |cluster|² pairs, never
    * corpus²), and the cluster id is an equi-join key, so the pair join is
    * one hash shuffle on (cluster), not a cartesian. Two operating rules
    * at 100 TB, same as the paper's: k scales WITH the corpus (k ≈ n/C
    * keeps cluster size — and so per-cluster pair count — bounded at C²/2,
    * making total pair work n·C/2, linear in n), and the stage runs AFTER
    * exact dedup (verbatim duplicates all land in one cluster and pair
    * quadratically in the duplication factor — the identical ordering
    * lesson the ScaleBench gate pins for raw LSH vs the curation pipeline).
    *
    * Everything is deterministic — integer k-means (fitKmeansI8) +
    * closed-form cosine — so the full path (training, assignment, ranking,
    * pairwise prune) is DuckDB-reproducible and the registry query is
    * oracle-checked, not rows-only.
    *
    * Returns (id, cluster, kept, max_prior_sim): `max_prior_sim` is the
    * highest cosine to any better-ranked clustermate (NULL for each
    * cluster's rank-1 row), `kept = max_prior_sim IS NULL OR < tau`. */
  def semDedup(
      emb: DataFrame,
      idCol: String,
      embCol: String,
      k: Int,
      iters: Int,
      tau: Double): DataFrame = {
    val q8 = emb.select(col(idCol).cast("long").as("id"),
      expr(s"quantize_i8($embCol)").as("v"))
    val asg = kmeansI8(q8, "id", "v", k, iters)
    val e = emb.select(col(idCol).cast("long").as("id"), col(embCol).as("e"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("cluster")).orderBy(col("dist2").desc, col("id"))
    val ranked = asg.join(e, "id")
      .withColumn("rk", row_number().over(w))
    val better = ranked.select(col("cluster").as("cl_a"),
      col("rk").as("rk_a"), col("e").as("ea"))
    ranked.join(better,
        col("cluster") === col("cl_a") && col("rk_a") < col("rk"), "left")
      .withColumn("cs", expr("cosine_sim(ea, e)"))
      .groupBy(col("id"), col("cluster"))
      .agg(max(col("cs")).as("max_prior_sim"))
      .withColumn("kept",
        col("max_prior_sim").isNull || col("max_prior_sim") < lit(tau))
  }

  /** SemDeDup over the embeddings corpus: k=8 integer k-means (2 passes),
    * farthest-from-centroid-first keep order, τ = 0.3 cosine. The entire
    * path — training, assignment, per-cluster ranking, pairwise prune — is
    * reproduced by the unrolled DuckDB oracle, so the dedup DECISIONS are
    * oracle-checked, not just row counts. */
  val semDedupQuery = QueryDef(
    "q_dedup_semantic",
    (spark, dir) => {
      val e = Tables(spark, dir, "embeddings")
      semDedup(e, "vec_id", "embedding", kQ, iters = 2, tau = 0.3)
        .select(col("id").as("vec_id"), col("cluster"), col("kept"),
          col("max_prior_sim"))
    },
    Some(s"""
      WITH ${duckQuantCte},
      c0 AS (SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS BIGINT)
                      AS cid, q AS c
             FROM qv ORDER BY vec_id LIMIT $kQ),
      a0 AS (${duckAssign("c0")}),
      c1 AS (${duckUpdate("a0", "c0")}),
      a1 AS (${duckAssign("c1")}),
      r AS (SELECT a1.vec_id, a1.cid, e.embedding,
                   row_number() OVER (PARTITION BY a1.cid
                                      ORDER BY a1.dist2 DESC, a1.vec_id) AS rk
            FROM a1 JOIN embeddings e ON a1.vec_id = e.vec_id),
      m AS (SELECT b.vec_id, b.cid,
                   max(${Dedup.duckCosine("a.embedding", "b.embedding")}) AS ms
            FROM r b LEFT JOIN r a ON a.cid = b.cid AND a.rk < b.rk
            GROUP BY b.vec_id, b.cid)
      SELECT vec_id, cid AS cluster,
             (ms IS NULL OR ms < 3e-1) AS kept, ms AS max_prior_sim
      FROM m"""))

  private val kIvf = 16
  private val nProbeIvf = 4

  /** IVF-ANN with a K-MEANS-TRAINED coarse quantizer — the composition
    * the fixed-codebook PQ/IVF queries (Similarity.scala) stand in for:
    * `fitKmeansI8` trains 16 cells on the corpus (exact integer Lloyd's,
    * 2 passes), candidates take their top-1 cell and queries probe their
    * top-4 cells BY COSINE to the trained centroids (the same metric the
    * re-rank uses), then exact cosine top-10 inside probed cells.
    * Fully DuckDB-oracle-checked end to end — training, assignment,
    * probing, re-rank; recall@10 vs brute force pinned in ClusteringSpec.
    * Scale: train = iters × (narrow map + k·d-bounded shuffle); assign =
    * narrow map; the only data shuffle is the pair join on cell id, and
    * the probe fan-out is per-QUERY. */
  val ivfKmeans = QueryDef(
    "q_sim_ann_ivf_kmeans",
    (spark, dir) => {
      val e = Tables(spark, dir, "embeddings")
      val q8 = e.select(col("vec_id"),
        expr("quantize_i8(embedding)").as("v"))
      val cents = fitKmeansI8(q8, "vec_id", "v", kIvf, iters = 2)
      val cand = probeCellsCosine(e.filter(col("vec_id") >= 8),
        "vec_id", "embedding", cents, 1)
        .select(col("id").as("cand_id"), col("cell"))
      val prob = probeCellsCosine(e.filter(col("vec_id") < 8),
        "vec_id", "embedding", cents, nProbeIvf)
        .select(col("id").as("query_id"), col("cell"))
      val pairs = prob.join(cand, "cell")
        .select(col("query_id"), col("cand_id")).distinct()
      val qe = e.filter(col("vec_id") < 8)
        .select(col("vec_id").as("query_id"), col("embedding").as("eq"))
      val ce = e.filter(col("vec_id") >= 8)
        .select(col("vec_id").as("cand_id"), col("embedding").as("ec"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("query_id"))
        .orderBy(col("cos").desc, col("cand_id"))
      pairs.join(broadcast(qe), "query_id").join(ce, "cand_id")
        .withColumn("cos", expr("cosine_sim(eq, ec)"))
        .withColumn("rn", row_number().over(w).cast("long"))
        .filter(col("rn") <= 10)
        .select(col("query_id"), col("cand_id"), col("cos"), col("rn"))
    },
    Some(s"""
      WITH ${duckQuantCte},
      c0 AS (SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS BIGINT)
                      AS cid, q AS c
             FROM qv ORDER BY vec_id LIMIT $kIvf),
      a0 AS (${duckAssign("c0")}),
      c1 AS (${duckUpdate("a0", "c0")}),
      cf AS (SELECT cid, list_transform(c, x -> CAST(x AS DOUBLE)) AS ce
             FROM c1),
      cand AS (
        SELECT vec_id AS cand_id, cid FROM (
          SELECT e.vec_id, f.cid,
                 row_number() OVER (PARTITION BY e.vec_id
                   ORDER BY ${Dedup.duckCosine("e.embedding", "f.ce")} DESC,
                            f.cid) AS rn
          FROM embeddings e, cf f WHERE e.vec_id >= 8) WHERE rn = 1),
      probe AS (
        SELECT vec_id AS query_id, cid FROM (
          SELECT e.vec_id, f.cid,
                 row_number() OVER (PARTITION BY e.vec_id
                   ORDER BY ${Dedup.duckCosine("e.embedding", "f.ce")} DESC,
                            f.cid) AS rn
          FROM embeddings e, cf f WHERE e.vec_id < 8) WHERE rn <= $nProbeIvf),
      pairs AS (
        SELECT DISTINCT p.query_id, c.cand_id
        FROM probe p JOIN cand c ON p.cid = c.cid)
      SELECT query_id, cand_id, cos, rn FROM (
        SELECT pr.query_id, pr.cand_id,
               ${Dedup.duckCosine("qe.embedding", "ce.embedding")} AS cos,
               CAST(row_number() OVER (PARTITION BY pr.query_id
                 ORDER BY ${Dedup.duckCosine("qe.embedding", "ce.embedding")}
                            DESC, pr.cand_id) AS BIGINT) AS rn
        FROM pairs pr
        JOIN embeddings qe ON pr.query_id = qe.vec_id
        JOIN embeddings ce ON pr.cand_id = ce.vec_id)
      WHERE rn <= 10"""))

  val all: Seq[QueryDef] = Seq(kmeansQuery, kmeansSizes, semDedupQuery,
    ivfKmeans)
}
