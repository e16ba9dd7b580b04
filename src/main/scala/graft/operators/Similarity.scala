package graft.operators

import graft.{QueryDef, Tables}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Approximate-nearest-neighbor search over the `embeddings` fixture
  * (`array<float>` of 64 dims — a type the reference can only row-fallback).
  *
  * Two paths:
  *  - brute-force cosine top-k: the correctness baseline. Query set ×
  *    candidate set cross join; at scale the query set is the broadcast side
  *    and candidates stream, so cost is linear in corpus size.
  *  - LSH-bucketed ANN over the sign-projection index of [[Lsh]]: two
  *    6-bit tables, multi-probe at hamming ≤ 2 (22 buckets per table), then
  *    exact re-rank inside probed buckets. The 100 TB shape: candidates
  *    shuffle once on bucket id; probe fan-out is per-query, not
  *    per-candidate. Hyperplanes are derived from pure integer arithmetic
  *    so the DuckDB oracle can reproduce them bit-for-bit (no
  *    engine-specific RNG).
  *
  * Both use the native codegen'd cosine (graft.functions.CosineSim).
  */
object Similarity {

  /** Query set: first 8 vectors; candidates: the rest. */
  private def split(spark: SparkSession, dir: String): (DataFrame, DataFrame) = {
    val e = Tables(spark, dir, "embeddings")
    (e.filter(col("vec_id") < 8), e.filter(col("vec_id") >= 8))
  }

  /** Brute-force cosine top-10 per query — the exactness baseline. */
  val bruteForceTopK = QueryDef(
    "q_sim_topk_brute",
    (spark, dir) => {
      val (q, c) = split(spark, dir)
      val qs = q.select(col("vec_id").as("query_id"), col("embedding").as("eq"))
      val cs = c.select(col("vec_id").as("cand_id"), col("embedding").as("ec"))
      val w = Window.partitionBy(col("query_id"))
        .orderBy(col("cos").desc, col("cand_id"))
      broadcast(qs).crossJoin(cs)
        .withColumn("cos", expr("cosine_sim(eq, ec)"))
        .withColumn("rn", row_number().over(w).cast("long"))
        .filter(col("rn") <= 10)
        .select(col("query_id"), col("cand_id"), col("cos"), col("rn"))
    },
    Some(s"""
      SELECT query_id, cand_id, cos, rn FROM (
        SELECT query_id, cand_id, cos,
               CAST(row_number() OVER (PARTITION BY query_id
                                       ORDER BY cos DESC, cand_id) AS BIGINT)
                 AS rn
        FROM (
          SELECT q.vec_id AS query_id, c.vec_id AS cand_id,
                 ${Dedup.duckCosine("q.embedding", "c.embedding")} AS cos
          FROM embeddings q, embeddings c
          WHERE q.vec_id < 8 AND c.vec_id >= 8))
      WHERE rn <= 10""")).copy(parityShape = true)

  /** Every query's LSH candidates ranked by exact cosine: (query_id,
    * cand_id, eq, ec, cos, rn), rn = 1 nearest. The queries probe their 44
    * buckets of [[Lsh]]'s sign-projection index (broadcast), the candidates
    * land in their 2 home buckets (one shuffle on bucket id), and each
    * probed (query, candidate) pair is scored once. */
  private def lshRanked(spark: SparkSession, dir: String): DataFrame = {
    val (q, c) = split(spark, dir)
    val cands = c.select(col("vec_id").as("cand_id"),
      col("embedding").as("ec"), Lsh.signature("embedding").as("sig"))
      .select(col("cand_id"), col("ec"), Lsh.homeBuckets)
    val probes = q.select(col("vec_id").as("query_id"),
      col("embedding").as("eq"), Lsh.signature("embedding").as("sig"))
      .select(col("query_id"), col("eq"), Lsh.probeBuckets)
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos").desc, col("cand_id"))
    broadcast(probes).join(cands, "bucket")
      .dropDuplicates("query_id", "cand_id")
      .withColumn("cos", expr("cosine_sim(eq, ec)"))
      .withColumn("rn", row_number().over(w).cast("long"))
  }

  /** DuckDB twin of [[lshRanked]] (without the embedding columns). */
  private def lshRankedSql: String = s"""
      WITH cands AS (
        SELECT cand_id, ec, ${Lsh.duckHomeBuckets} AS bucket
        FROM (SELECT vec_id AS cand_id, embedding AS ec,
                     ${Lsh.duckSignature("embedding")} AS sig
              FROM embeddings WHERE vec_id >= 8)),
      qsig AS (
        SELECT vec_id AS query_id, embedding AS eq,
               ${Lsh.duckSignature("embedding")} AS sig
        FROM embeddings WHERE vec_id < 8),
      probes AS (
        SELECT query_id, eq, ${Lsh.duckProbeBuckets} AS bucket
        FROM qsig),
      pairs AS (
        SELECT DISTINCT p.query_id, c.cand_id
        FROM probes p JOIN cands c ON p.bucket = c.bucket)
      SELECT query_id, cand_id, cos, rn FROM (
        SELECT pr.query_id, pr.cand_id,
               ${Dedup.duckCosine("q.embedding", "e.embedding")} AS cos,
               CAST(row_number() OVER (PARTITION BY pr.query_id
                 ORDER BY ${Dedup.duckCosine("q.embedding", "e.embedding")}
                          DESC, pr.cand_id) AS BIGINT) AS rn
        FROM pairs pr
        JOIN embeddings q ON q.vec_id = pr.query_id
        JOIN embeddings e ON e.vec_id = pr.cand_id)"""

  /** Multi-probe LSH ANN: a 12-bit sign projection split into two
    * independent 6-bit hash tables (OR-construction — a candidate is
    * examined if it collides with the query in EITHER table), each probed
    * at hamming≤2 (22 buckets/table; probe fan-out is per-QUERY, so
    * widening costs nothing per candidate), exact cosine re-rank inside
    * probed buckets. The index is [[Lsh]]'s, shared with the dedup scale
    * path (Dedup.embeddingNearDupLsh); recall@10 vs brute force is pinned
    * in SimilaritySpec. */
  val lshAnn = QueryDef(
    "q_sim_ann_lsh",
    (spark, dir) => lshRanked(spark, dir)
      .filter(col("rn") <= 10)
      .select(col("query_id"), col("cand_id"), col("cos"), col("rn")),
    Some(s"""$lshRankedSql
      WHERE rn <= 10"""))

  /** IVF (inverted-file) ANN — the second scale path the pipeline brief
    * names besides LSH. Build: every candidate is assigned to its nearest
    * coarse centroid (one linear pass over the corpus — the standard IVF
    * build cost; centroids here are a deterministic subset, vec_id % 50 = 0,
    * standing in for a k-means codebook so the DuckDB oracle can reproduce
    * the exact cells). Search: each query probes its nprobe=3 nearest
    * cells and re-ranks exactly inside them. At 100 TB: the cell
    * assignment shuffles the corpus once on cell id and persists as the
    * index; queries broadcast; per-query work is |corpus|·nprobe/|cells|.
    * All similarity math is the codegen'd cosine kernel; assignments and
    * ranks tie-break on ids, so the whole index is bit-deterministic. */
  val ivfAnn = QueryDef(
    "q_sim_ann_ivf",
    (spark, dir) => {
      val (q, c) = split(spark, dir)
      val cents = Tables(spark, dir, "embeddings")
        .filter(col("vec_id") % 50 === 0)
        .select(col("vec_id").as("cid"), col("embedding").as("ce"))
      val cands = c.select(col("vec_id").as("cand_id"),
        col("embedding").as("ec"))
      // Cell assignment = argmax over centroids. A row_number window here
      // would shuffle |corpus|×|cells| rows WITH the 64-float embedding
      // through the exchange (3.3s at sf0.1); max_by aggregates NARROW
      // (cand_id, cid, ccos) rows with map-side partial combine — the
      // exchange carries ~one row per candidate — and the embedding is
      // re-attached by one equi-join. Tie-break matches the oracle's
      // (ccos DESC, cid ASC): max over the struct (ccos, -cid).
      val assign = cands.crossJoin(broadcast(cents))
        .withColumn("ccos", expr("cosine_sim(ec, ce)"))
        .groupBy(col("cand_id"))
        .agg(max_by(col("cid"), struct(col("ccos"), -col("cid"))).as("cid"))
      val cells = cands.join(assign, "cand_id")
        .select(col("cand_id"), col("ec"), col("cid"))
      val wProbe = Window.partitionBy(col("query_id"))
        .orderBy(col("qcos").desc, col("cid"))
      val probes = q.select(col("vec_id").as("query_id"),
        col("embedding").as("eq"))
        .crossJoin(broadcast(cents))
        .withColumn("qcos", expr("cosine_sim(eq, ce)"))
        .withColumn("prn", row_number().over(wProbe))
        .filter(col("prn") <= 3)
        .select(col("query_id"), col("eq"), col("cid"))
      val wRank = Window.partitionBy(col("query_id"))
        .orderBy(col("cos").desc, col("cand_id"))
      broadcast(probes).join(cells, "cid")
        .withColumn("cos", expr("cosine_sim(eq, ec)"))
        .withColumn("rn", row_number().over(wRank).cast("long"))
        .filter(col("rn") <= 10)
        .select(col("query_id"), col("cand_id"), col("cos"), col("rn"))
    },
    Some(s"""
      WITH cents AS (
        SELECT vec_id AS cid, embedding AS ce FROM embeddings
        WHERE vec_id % 50 = 0),
      cands AS (
        SELECT vec_id AS cand_id, embedding AS ec FROM embeddings
        WHERE vec_id >= 8),
      assign AS (
        SELECT cand_id, ec, cid FROM (
          SELECT cand_id, ec, cid,
                 row_number() OVER (PARTITION BY cand_id
                                    ORDER BY ccos DESC, cid) AS arn
          FROM (SELECT cand_id, ec, cid,
                       ${Dedup.duckCosine("ec", "ce")} AS ccos
                FROM cands, cents))
        WHERE arn = 1),
      qprobe AS (
        SELECT query_id, eq, cid FROM (
          SELECT query_id, eq, cid,
                 row_number() OVER (PARTITION BY query_id
                                    ORDER BY qcos DESC, cid) AS prn
          FROM (SELECT q.vec_id AS query_id, q.embedding AS eq, cid,
                       ${Dedup.duckCosine("q.embedding", "ce")} AS qcos
                FROM (SELECT vec_id, embedding FROM embeddings
                      WHERE vec_id < 8) q, cents))
        WHERE prn <= 3)
      SELECT query_id, cand_id, cos, rn FROM (
        SELECT query_id, cand_id, cos,
               CAST(row_number() OVER (PARTITION BY query_id
                                       ORDER BY cos DESC, cand_id) AS BIGINT)
                 AS rn
        FROM (SELECT p.query_id, a.cand_id,
                     ${Dedup.duckCosine("p.eq", "a.ec")} AS cos
              FROM qprobe p JOIN assign a ON p.cid = a.cid))
      WHERE rn <= 10"""))

  /** Int8-QUANTIZED retrieval — the memory lever for a 100 TB vector
    * corpus: `quantize_i8` shrinks the candidate index 4× (every shuffle,
    * cache and broadcast moves bytes, not floats) and `vec_dot_i8` scores
    * in EXACT integer arithmetic, so ranking is bit-deterministic and the
    * DuckDB oracle reproduces the whole index (floor(x·127/m + 0.5)
    * mirrors the kernel exactly). Per-query top-k runs on the custom
    * [[graft.plans.TopKPerGroupExec]] operator — bounded heaps, no window
    * sort. Production shape: quantized candidate generation, then
    * full-precision re-rank of the survivors (SimilaritySpec pins recall
    * vs. the float ranking). */
  val quantizedTopK = QueryDef(
    "q_sim_quantized_topk",
    (spark, dir) => {
      val e = Tables(spark, dir, "embeddings")
        .select(col("vec_id"), expr("quantize_i8(embedding)").as("q"))
      val qs = e.filter(col("vec_id") < 8)
        .select(col("vec_id").as("query_id"), col("q").as("qa"))
      val cs = e.filter(col("vec_id") >= 8)
        .select(col("vec_id").as("cand_id"), col("q").as("qb"))
      val scored = broadcast(qs).crossJoin(cs)
        .withColumn("dot", expr("vec_dot_i8(qa, qb)"))
        .select(col("query_id"), col("cand_id"), col("dot"))
      graft.ops.topKPerGroup(scored, Seq("query_id"), "dot", "cand_id", 10)
    },
    Some("""
      WITH qv AS (
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
              FROM embeddings)),
      probes AS (SELECT vec_id AS query_id, q AS qa FROM qv
                 WHERE vec_id < 8),
      cands AS (SELECT vec_id AS cand_id, q AS qb FROM qv
                WHERE vec_id >= 8),
      scored AS (
        SELECT query_id, cand_id,
               CAST(list_reduce(list_transform(range(len(qa)),
                      i -> qa[i+1] * qb[i+1]), (p, x) -> p + x) AS BIGINT)
                 AS dot
        FROM probes, cands)
      SELECT query_id, cand_id, dot FROM (
        SELECT query_id, cand_id, dot,
               row_number() OVER (PARTITION BY query_id
                                  ORDER BY dot DESC, cand_id) AS rn
        FROM scored) WHERE rn <= 10"""))

  /** Dot-product ranking via the native vec_dot expression (exercises the
    * second vector kernel + a global top-k). */
  val dotTopK = QueryDef(
    "q_sim_dot_topk",
    (spark, dir) => {
      val e = Tables(spark, dir, "embeddings")
      val q = e.filter(col("vec_id") === 0)
        .select(col("embedding").as("eq"))
      val c = e.filter(col("vec_id") > 0)
        .select(col("vec_id").as("cand_id"), col("embedding").as("ec"))
      c.crossJoin(broadcast(q))
        .withColumn("dot", expr("vec_dot(eq, ec)"))
        .orderBy(col("dot").desc, col("cand_id"))
        .limit(20)
        .select(col("cand_id"), col("dot"))
    },
    Some(s"""
      SELECT c.vec_id AS cand_id,
             list_reduce(list_transform(range(len(q.embedding)),
               i -> CAST(q.embedding[i+1] AS DOUBLE) *
                    CAST(c.embedding[i+1] AS DOUBLE)), (p, x) -> p + x) AS dot
      FROM embeddings c, (SELECT embedding FROM embeddings WHERE vec_id = 0) q
      WHERE c.vec_id > 0
      ORDER BY dot DESC, cand_id LIMIT 20"""))

  /** Same semantics as q_sim_topk_brute, but planned through the custom
    * CosineTopKJoin logical operator + resolution rule
    * (graft.plans.CosineTopKJoin — SURVEY §7(c) machinery); shares the
    * brute-force oracle, so the lowering is verified bit-exact. */
  val planTopK = QueryDef(
    "q_sim_topk_plan",
    (spark, dir) => {
      val (q, c) = split(spark, dir)
      val qs = q.select(col("vec_id").as("query_id"), col("embedding").as("eq"))
      val cs = c.select(col("vec_id").as("cand_id"), col("embedding").as("ec"))
      graft.ops.cosineTopK(qs, cs, 10)
        .select(col("query_id"), col("cand_id"), col("cos"),
          col("rn").cast("long").as("rn"))
    },
    bruteForceTopK.oracle)

  /** Matryoshka-style truncation funnel (Kusupati et al. 2022, MRL): the
    * coarse stage ranks every candidate by cosine over only the FIRST 8
    * dimensions (an 8× cheaper linear scan — the nesting property makes
    * prefix-truncated embeddings usable as-is), keeps the top 32 per
    * query, and the fine stage re-ranks just those 32 with the full
    * 64-dim cosine. Both stages' doubles replay in DuckDB (identical
    * fold order over list_slice), so the funnel is oracle-exact end to
    * end — including any coarse-stage ranking mistakes the fine stage
    * inherits, which is the honest semantics of funnel retrieval. */
  val matryoshka = QueryDef(
    "q_sim_matryoshka",
    (spark, dir) => {
      val (q, c) = split(spark, dir)
      val qs = q.select(col("vec_id").as("query_id"), col("embedding").as("eq"))
      val cs = c.select(col("vec_id").as("cand_id"), col("embedding").as("ec"))
      val wCoarse = Window.partitionBy(col("query_id"))
        .orderBy(col("cos8").desc, col("cand_id"))
      val wFine = Window.partitionBy(col("query_id"))
        .orderBy(col("cos").desc, col("cand_id"))
      broadcast(qs).crossJoin(cs)
        .withColumn("cos8", expr("cosine_sim(slice(eq, 1, 8), slice(ec, 1, 8))"))
        .withColumn("rn8", row_number().over(wCoarse).cast("long"))
        .filter(col("rn8") <= 32)
        .withColumn("cos", expr("cosine_sim(eq, ec)"))
        .withColumn("rn", row_number().over(wFine).cast("long"))
        .filter(col("rn") <= 5)
        .select(col("query_id"), col("cand_id"), col("rn"), col("cos8"),
          col("cos"))
    },
    Some(s"""
      WITH coarse AS (
        SELECT query_id, cand_id, cos8, eq, ec,
               CAST(row_number() OVER (PARTITION BY query_id
                                       ORDER BY cos8 DESC, cand_id) AS BIGINT)
                 AS rn8
        FROM (
          SELECT q.vec_id AS query_id, c.vec_id AS cand_id,
                 ${Dedup.duckCosine("list_slice(q.embedding, 1, 8)",
                   "list_slice(c.embedding, 1, 8)")} AS cos8,
                 q.embedding AS eq, c.embedding AS ec
          FROM embeddings q, embeddings c
          WHERE q.vec_id < 8 AND c.vec_id >= 8)),
      fine AS (
        SELECT query_id, cand_id, cos8,
               ${Dedup.duckCosine("eq", "ec")} AS cos
        FROM coarse WHERE rn8 <= 32)
      SELECT query_id, cand_id, rn, cos8, cos FROM (
        SELECT query_id, cand_id, cos8, cos,
               CAST(row_number() OVER (PARTITION BY query_id
                                       ORDER BY cos DESC, cand_id) AS BIGINT)
                 AS rn
        FROM fine)
      WHERE rn <= 5"""))

  /** Product-quantization ANN (Jégou et al. 2011) — the COMPRESSED-index
    * scale path beside LSH (bucketing) and IVF (partitioning): the 64-dim
    * embedding becomes m=8 sub-codes, one per 8-dim subspace, each the
    * L2-nearest sub-centroid from a deterministic FIXED-SIZE codebook
    * (vec_id % 5 = 2 AND vec_id < 508 — ~100 rows at every SF, standing in
    * for k-means so DuckDB reproduces the exact codes; a codebook that
    * grew with the corpus would make encode quadratic).
    * Search is the standard two-stage ADC pipeline: (1) asymmetric-distance
    * shortlist — a per-query lookup table dot(q_j, centroid_j) for every
    * (subspace, centroid), broadcast, joined to the candidate CODES and
    * summed in FIXED order (8 single-row conditional sums, then a fixed
    * association chain), top-64 per query; (2) EXACT re-rank of the
    * shortlist by the full-precision dot (one sequential-fold kernel call
    * — deterministic), top-10 out.
    *
    * At 100 TB: the ADC stage touches ONLY the 8-small-int codes plus the
    * broadcast LUT — the embedding column moves for just |shortlist| rows
    * per query at re-rank. Encode is one linear pass of narrow rows,
    * map-side-combined argmin (xx dropped — constant per group). Recall
    * vs the exact dot ranking is pinned
    * in SimilaritySpec (mean recall@10 >= 0.6 at spec scale; measured
    * 0.83 at sf0.001). */
  val pqAnn = QueryDef(
    "q_sim_ann_pq",
    (spark, dir) => {
      val (q, c) = split(spark, dir)
      val jCol = explode(array((0 until 8).map(lit): _*)).as("j")
      val cents = Tables(spark, dir, "embeddings")
        .filter(col("vec_id") % 5 === 2 && col("vec_id") < 508)
        .select(col("vec_id").as("cid"), col("embedding").as("ce"))
      // encode: per (candidate, subspace) the L2-nearest sub-centroid;
      // d2 = (xx - 2xc) + cc from three exact sequential-fold dots, argmin
      // via max_by over (-d2, -cid) — narrow rows, map-side combined
      val codes = c.select(col("vec_id").as("cand_id"),
          col("embedding").as("ec"), jCol)
        .crossJoin(broadcast(cents))
        .withColumn("xs", slice(col("ec"), col("j") * 8 + 1, lit(8)))
        .withColumn("cs", slice(col("ce"), col("j") * 8 + 1, lit(8)))
        // argmin of L2 needs only cc - 2xc: the xx term is constant within
        // each (candidate, subspace) group and cannot change the argmin
        .withColumn("d2",
          expr("vec_dot(cs, cs)") - lit(2.0) * expr("vec_dot(xs, cs)"))
        .groupBy(col("cand_id"), col("j"))
        .agg(max_by(col("cid"), struct(-col("d2"), -col("cid"))).as("code"))
      // per-query LUT: dot(q_j, centroid_j) for every (j, centroid)
      val lut = q.select(col("vec_id").as("query_id"),
          col("embedding").as("eq"), jCol)
        .crossJoin(broadcast(cents))
        .withColumn("s",
          expr("vec_dot(" +
            "slice(eq, j * 8 + 1, 8), slice(ce, j * 8 + 1, 8))"))
        .select(col("query_id"), col("j"), col("cid"), col("s"))
      val wAdc = Window.partitionBy(col("query_id"))
        .orderBy(col("adc").desc, col("cand_id"))
      val partials = (0 until 8).map(j =>
        sum(when(codes("j") === j, col("s")).otherwise(lit(0.0)))
          .as(s"s$j"))
      val shortlist = codes.join(broadcast(lut),
          codes("j") === lut("j") && codes("code") === lut("cid"))
        .groupBy(col("query_id"), col("cand_id"))
        .agg(partials.head, partials.tail: _*)
        .withColumn("adc", (0 until 8).map(j => col(s"s$j"))
          .reduce((a, b) => a + b))
        .withColumn("srn", row_number().over(wAdc))
        .filter(col("srn") <= 64)
        .select(col("query_id"), col("cand_id"))
      // stage 2: exact re-rank of the shortlist (full-precision dot)
      val wRank = Window.partitionBy(col("query_id"))
        .orderBy(col("score").desc, col("cand_id"))
      shortlist
        .join(broadcast(q.select(col("vec_id").as("query_id"),
          col("embedding").as("eq"))), "query_id")
        .join(c.select(col("vec_id").as("cand_id"),
          col("embedding").as("ec")), "cand_id")
        .withColumn("score", expr("vec_dot(eq, ec)"))
        .withColumn("rn", row_number().over(wRank).cast("long"))
        .filter(col("rn") <= 10)
        .select(col("query_id"), col("cand_id"), col("score"), col("rn"))
    },
    Some {
      def dotSub(a: String, b: String): String =
        s"""list_reduce(list_transform(range(8),
            i -> CAST($a[j * 8 + i + 1] AS DOUBLE)
               * CAST($b[j * 8 + i + 1] AS DOUBLE)),
            (p, q) -> p + q)"""
      val adcSum = (0 until 8).map(j =>
        s"sum(CASE WHEN codes.j = $j THEN s ELSE 0e0 END)")
        .reduce((a, b) => s"($a + $b)")
      s"""
      WITH subs AS (SELECT unnest([0, 1, 2, 3, 4, 5, 6, 7]) AS j),
      cents AS (
        SELECT vec_id AS cid, embedding AS ce FROM embeddings
        WHERE vec_id % 5 = 2 AND vec_id < 508),
      codes AS (
        SELECT cand_id, j, cid AS code FROM (
          SELECT c.vec_id AS cand_id, subs.j, cents.cid,
                 row_number() OVER (
                   PARTITION BY c.vec_id, subs.j
                   ORDER BY (${dotSub("cents.ce", "cents.ce")})
                            - 2.0 * (${dotSub("c.embedding", "cents.ce")})
                            ASC, cents.cid ASC) AS arn
          FROM embeddings c, subs, cents WHERE c.vec_id >= 8)
        WHERE arn = 1),
      lut AS (
        SELECT q.vec_id AS query_id, subs.j, cents.cid,
               ${dotSub("q.embedding", "cents.ce")} AS s
        FROM embeddings q, subs, cents WHERE q.vec_id < 8),
      shortlist AS (
        SELECT query_id, cand_id FROM (
          SELECT query_id, cand_id,
                 row_number() OVER (PARTITION BY query_id
                                    ORDER BY adc DESC, cand_id) AS srn
          FROM (SELECT query_id, cand_id, $adcSum AS adc
                FROM codes JOIN lut
                  ON codes.j = lut.j AND codes.code = lut.cid
                GROUP BY query_id, cand_id))
        WHERE srn <= 64),
      rer AS (
        SELECT s.query_id, s.cand_id,
               list_reduce(list_transform(range(64),
                 i -> CAST(q.embedding[i + 1] AS DOUBLE)
                    * CAST(c.embedding[i + 1] AS DOUBLE)),
                 (p, x) -> p + x) AS score
        FROM shortlist s
        JOIN embeddings q ON q.vec_id = s.query_id
        JOIN embeddings c ON c.vec_id = s.cand_id)
      SELECT query_id, cand_id, score,
             CAST(row_number() OVER (PARTITION BY query_id
                                     ORDER BY score DESC, cand_id)
                  AS BIGINT) AS rn
      FROM rer
      QUALIFY rn <= 10"""
    })

  /** Hard-negative mining for contrastive training (DPR/CLIP recipe): for
    * each anchor, retrieve its nearest neighbors, SKIP rank 1 (the
    * presumed positive — in production the known caption/passage pair;
    * here the nearest neighbor stands in), and keep ranks 2–6 as the hard
    * negatives: the in-batch candidates similar enough to be maximally
    * informative gradients. Retrieval is the same multi-probe LSH bucket
    * equi-join as [[lshAnn]] — the anchor side broadcasts, candidates
    * shuffle once on bucket id, never all-pairs — so mining cost per
    * anchor is a bucket's worth of exact re-ranks, the shape that holds
    * when the negative pool is the full 100 TB corpus. */
  val hardNegatives = QueryDef(
    "q_sim_hard_negatives",
    (spark, dir) => lshRanked(spark, dir)
      .filter(col("rn").between(2, 6))
      .select(col("query_id"), col("cand_id"), col("cos"), col("rn")),
    Some(s"""$lshRankedSql
      WHERE rn BETWEEN 2 AND 6"""))

  val all: Seq[QueryDef] = Seq(bruteForceTopK, lshAnn, ivfAnn, dotTopK,
    planTopK, quantizedTopK, pqAnn, matryoshka, hardNegatives)
}
