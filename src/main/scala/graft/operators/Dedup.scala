package graft.operators

import graft.{QueryDef, Tables}
import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.catalyst.expressions.Attribute
import org.apache.spark.sql.catalyst.plans.logical.statsEstimation.EstimationUtils
import org.apache.spark.sql.catalyst.types.PhysicalDataType
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.Bridge
import org.apache.spark.sql.types.StructType
import scala.collection.immutable.TreeSet

/** Deduplication surface for large-scale training-data pipelines.
  *
  * Not present in the reference (its unit is relational batches; ARRAY types
  * fall back — ConverterUtils.scala:494-508), but a first-class requirement
  * here. Five strategies, each with the 100 TB shape:
  *
  *  - exact: hash-groupBy on a content fingerprint — one shuffle on md5,
  *    uniform key distribution by construction.
  *  - n-gram Jaccard: exact set similarity, restricted to candidate pairs
  *    from a cheap blocking key (never all-pairs).
  *  - MinHash + LSH: signature → band → bucket-join. The canonical
  *    near-dup-at-scale pipeline: shuffles on band hash, candidate pairs only
  *    within buckets, O(n·bands) not O(n²).
  *  - SimHash: 64-bit fingerprint, hamming≤k via pigeonhole chunk buckets.
  *  - embedding cosine: threshold pairs; brute-force here (bounded fixture),
  *    LSH-bucketed variant in Similarity.scala is the scale path.
  */
object Dedup {

  /** Word tokens and distinct word-3-gram shingle set (native kernel —
    * graft.functions.WordNgrams). */
  private def toks(c: Column): Column = split(c, " ")
  private def shingles(t: Column): Column =
    org.apache.spark.sql.graft.Bridge.column(graft.functions.WordNgrams(
      org.apache.spark.sql.graft.Bridge.expression(t), 3))

  private[operators] val duckShingles =
    """list_distinct(list_transform(range(len(str_split(text, ' ')) - 2),
       i -> str_split(text, ' ')[i+1] || ' ' || str_split(text, ' ')[i+2]
            || ' ' || str_split(text, ' ')[i+3]))"""

  /** Exact dedup: md5-fingerprint groupBy, keep the lowest doc_id. */
  val exact = QueryDef(
    "q_dedup_exact",
    (spark, dir) => {
      Tables(spark, dir, "documents")
        .groupBy(md5(col("text").cast("binary")).as("fp"))
        .agg(min(col("doc_id")).as("keeper"), count(lit(1)).as("n_copies"))
        .groupBy()
        .agg(
          count(lit(1)).as("n_unique"),
          sum(col("n_copies")).as("n_total"),
          sum(when(col("n_copies") > 1, col("n_copies") - 1).otherwise(0L))
            .as("n_removed"))
    },
    Some("""
      SELECT count(*) AS n_unique,
             CAST(sum(n_copies) AS BIGINT) AS n_total,
             CAST(sum(CASE WHEN n_copies > 1 THEN n_copies - 1 ELSE 0 END)
                  AS BIGINT) AS n_removed
      FROM (SELECT md5(text) AS fp, min(doc_id) AS keeper,
                   count(*) AS n_copies
            FROM documents GROUP BY md5(text))"""))

  /** Library API: exact n-gram Jaccard scored candidate pairs, blocked on a
    * 40-char prefix (the fixture's near-dups share long prefixes; at scale
    * the blocking key is any cheap locality surrogate). Int-ratio
    * arithmetic → bit-identical across engines, which makes this the
    * DETERMINISTIC near-dup stage an end-to-end pipeline can carry while
    * staying DuckDB-oracle-checkable (unlike the xxhash MinHash path). */
  def ngramJaccardPairs(
      docs: org.apache.spark.sql.DataFrame, idCol: String,
      textCol: String): org.apache.spark.sql.DataFrame = {
    // persist: both sides of the candidate self-join reuse the shingle
    // computation (at scale: a checkpointed intermediate table)
    val d = docs
      .select(col(idCol), col(textCol),
        substring(col(textCol), 1, 40).as("blk"),
        shingles(toks(col(textCol))).as("grams"))
      .persist()
    val a = d.select(col(idCol).as("doc_a"), col("blk"),
      col("grams").as("ga"))
    val b = d.select(col(idCol).as("doc_b"), col("blk").as("blk_b"),
      col("grams").as("gb"))
    a.join(b, col("blk") === col("blk_b") && col("doc_a") < col("doc_b"))
      .withColumn("inter", size(array_intersect(col("ga"), col("gb"))))
      .select(
        col("doc_a"), col("doc_b"),
        (col("inter").cast("double") /
          (size(col("ga")) + size(col("gb")) - col("inter")).cast("double"))
          .as("jaccard"))
  }

  /** Exact n-gram Jaccard over candidate pairs blocked on a 40-char prefix
    * (the fixture's near-dups share long prefixes). Int-ratio arithmetic →
    * bit-identical across engines. */
  val ngramJaccard = QueryDef(
    "q_dedup_ngram_jaccard",
    (spark, dir) =>
      ngramJaccardPairs(Tables(spark, dir, "documents"), "doc_id", "text")
        .withColumn("is_dup", col("jaccard") >= 0.5),
    Some(s"""
      SELECT doc_a, doc_b,
             CAST(inter AS DOUBLE) / CAST(la + lb - inter AS DOUBLE)
               AS jaccard,
             (CAST(inter AS DOUBLE) / CAST(la + lb - inter AS DOUBLE)) >= 0.5
               AS is_dup
      FROM (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
               len(list_intersect(a.grams, b.grams)) AS inter,
               len(a.grams) AS la, len(b.grams) AS lb
        FROM (SELECT doc_id, substring(text, 1, 40) AS blk,
                     $duckShingles AS grams FROM documents) a
        JOIN (SELECT doc_id, substring(text, 1, 40) AS blk,
                     $duckShingles AS grams FROM documents) b
          ON a.blk = b.blk AND a.doc_id < b.doc_id)"""))

  private[graft] val numHashes = 32
  private[graft] val numBands = 8
  private[graft] val rowsPerBand = numHashes / numBands

  /** (doc_id, `hashes`-long minhash signature) per document (native
    * kernel over the word-3-gram shingles). */
  private def minhashSigs(
      docs: org.apache.spark.sql.DataFrame, idCol: String, textCol: String,
      hashes: Int): org.apache.spark.sql.DataFrame =
    docs
      .select(col(idCol).as("doc_id"),
        shingles(toks(col(textCol))).as("grams"))
      .select(col("doc_id"), expr(s"minhash_sig(grams, $hashes)").as("sig"))

  /** Library API: MinHash + LSH near-dup candidate pairs over any document
    * frame — shingle → `hashes` minhashes → `bands` bands keyed by
    * xxhash64 → [[Lsh.bandPairs]] (bucket-join, signature-agreement
    * estimate ≥ `threshold`). One shuffle on the band key, pairs form only
    * within buckets (O(n·bands), never all-pairs). The signature table is
    * persisted: both sides of the band self-join read it. */
  def minHashNearDup(
      docs: org.apache.spark.sql.DataFrame, idCol: String, textCol: String,
      threshold: Double = 0.25, hashes: Int = 32, bands: Int = 8)
      : org.apache.spark.sql.DataFrame = {
    require(hashes % bands == 0, s"bands ($bands) must divide hashes ($hashes)")
    val sigs = minhashSigs(docs, idCol, textCol, hashes).persist()
    Lsh.bandPairs(sigs, hashes, bands, Lsh.hashKey, threshold)
  }

  /** Fixed affine-permutation coefficients for the DETERMINISTIC MinHash
    * below: h_i(x) = (a_i·x + b_i) mod p with p = 2^31−1 (the classic
    * universal family, same construction Spark MLlib's MinHashLSH uses —
    * but with FIXED constants so an external engine can replay them).
    * Base hash = first 7 hex chars of md5 (28 bits), so a_i·x < 2^59
    * stays inside signed-64 arithmetic in every engine. */
  private[graft] val arithP = 2147483647L
  private[graft] val arithCoeffs: Seq[(Long, Long)] =
    (0 until numHashes).map { i =>
      val a0 = (2654435761L * (2 * i + 1)) % arithP
      val a = if (a0 == 0L) 1L else a0
      val b = (1013904223L * (i + 1)) % arithP
      (a, b)
    }

  /** (doc_id, 32-long arithmetic minhash signature) per document — the
    * shared signature stage of [[minHashNearDupArith]], also replayed
    * row-at-a-time by the streaming ingest path
    * (graft.streaming.DocIngest.signature; parity pinned in DocIngestSpec). */
  private[graft] def minhashArithSigs(
      docs: org.apache.spark.sql.DataFrame, idCol: String, textCol: String)
      : org.apache.spark.sql.DataFrame = {
    val grams = docs
      .select(col(idCol).as("doc_id"),
        explode(shingles(toks(col(textCol)))).as("g"))
      .select(col("doc_id"),
        expr("cast(conv(substr(md5(g), 1, 7), 16, 10) as bigint)").as("h"))
    val minCols = arithCoeffs.zipWithIndex.map { case ((a, b), i) =>
      min((lit(a) * col("h") + lit(b)) % lit(arithP)).as(s"m$i") }
    grams.groupBy(col("doc_id"))
      .agg(minCols.head, minCols.tail: _*)
      .select(col("doc_id"),
        array((0 until numHashes).map(i => col(s"m$i")): _*).as("sig"))
  }

  /** Library API: MinHash + LSH with DETERMINISTIC md5-derived arithmetic
    * signatures — identical plan shape to [[minHashNearDup]] (signature →
    * band → bucket-join, one shuffle on the band key, O(n·bands) candidate
    * pairs), but every hash is plain integer arithmetic over
    * `conv(substr(md5(gram),1,7),16,10)`, so ANY ANSI engine reproduces the
    * signatures bit-for-bit and the whole near-dup output is
    * oracle-checkable. The xxhash kernel path above stays the single-pass
    * hot path; this is the auditable twin. */
  def minHashNearDupArith(
      docs: org.apache.spark.sql.DataFrame, idCol: String, textCol: String,
      threshold: Double = 0.25): org.apache.spark.sql.DataFrame = {
    val sigs = minhashArithSigs(docs, idCol, textCol).persist()
    Lsh.bandPairs(sigs, numHashes, numBands, Lsh.structKey, threshold)
  }

  /** DuckDB replay of [[minHashNearDupArith]] — same shingles, same md5
    * base hash, same 32 affine permutations, same 8×4 banding, unrolled. */
  private def minhashArithOracle: String = {
    val minExprs = arithCoeffs.zipWithIndex.map { case ((a, b), i) =>
      s"min(($a * h + $b) % $arithP) AS m$i" }.mkString(", ")
    val matches = Lsh.duckMatches(numHashes)
    val keyEq = Lsh.duckSameKey(numHashes, numBands)
    s"""
      WITH g AS (SELECT doc_id, unnest($duckShingles) AS g FROM documents),
      h AS (SELECT doc_id,
                   ('0x' || substr(md5(g), 1, 7))::BIGINT AS h FROM g),
      sig AS (SELECT doc_id, $minExprs FROM h GROUP BY doc_id),
      banded AS (${Lsh.duckBands(numHashes, numBands, "sig")}),
      pairs AS (
        SELECT x.doc_id AS doc_a, y.doc_id AS doc_b,
               CAST($matches AS DOUBLE) / $numHashes.0 AS est_jaccard
        FROM banded x JOIN banded y
          ON x.band_id = y.band_id AND $keyEq AND x.doc_id < y.doc_id)
      SELECT DISTINCT doc_a, doc_b, est_jaccard FROM pairs
      WHERE est_jaccard >= 0.25"""
  }

  /** MinHash + LSH banding over the documents fixture — the deterministic
    * arithmetic variant, so the full near-dup output (pairs + estimates) is
    * DuckDB-oracle-checked; DedupSpec additionally pins recall against
    * exact-Jaccard ground truth. */
  val minhashLsh = QueryDef(
    "q_dedup_minhash_lsh",
    (spark, dir) => minHashNearDupArith(
      Tables(spark, dir, "documents"), "doc_id", "text"),
    Some(minhashArithOracle))

  /** (doc_id, simhash) per document: the 64-bit token-hash majority
    * fingerprint (native codegen kernel — one JIT-compiled vote loop, not
    * interpreted lambdas; xxhash64 token hashes, so Spark-only). */
  private[graft] def simhashSigs(
      docs: org.apache.spark.sql.DataFrame, idCol: String, textCol: String)
      : org.apache.spark.sql.DataFrame =
    docs
      .select(col(idCol).as("doc_id"), toks(col(textCol)).as("toks"))
      .select(col("doc_id"), expr("simhash64(toks)").as("simhash"))

  /** Library API: SimHash near-dup pairs over any document frame, hamming
    * ≤ `maxHamming` ≤ 3 — [[simhashSigs]] through [[Lsh.chunkPairs]] with
    * 4×16-bit chunks, which cover all 64 bits. */
  def simHashNearDup(
      docs: org.apache.spark.sql.DataFrame, idCol: String, textCol: String,
      maxHamming: Int = 3): org.apache.spark.sql.DataFrame =
    Lsh.chunkPairs(simhashSigs(docs, idCol, textCol), 16, maxHamming)

  /** SimHash with DETERMINISTIC md5-derived token hashes — a 60-bit
    * fingerprint (bits 0..59 of the per-token majority vote, kept below the
    * sign bit so every engine's signed-64 shifts agree) per document. */
  private[operators] val simBits = 60
  private[graft] def simhashArithSigs(
      docs: org.apache.spark.sql.DataFrame, idCol: String, textCol: String)
      : org.apache.spark.sql.DataFrame = {
    val tokens = docs
      .select(col(idCol).as("doc_id"), explode(toks(col(textCol))).as("t"))
      .select(col("doc_id"),
        expr("cast(conv(substr(md5(t), 1, 15), 16, 10) as bigint)").as("h"))
    // branch-free votes (r10 — was sum(when(bit,1,-1)) per bit, a 60-way
    // branchy aggregate): majority(bit b) ⇔ 2·Σ((h>>b)&1) > n, so each
    // lane is a plain bit-extract sum plus ONE shared count — same
    // semantics (ties → 0) at a measurably lower per-row cost
    val voteCols = (0 until simBits).map(b =>
      sum(expr(s"shiftright(h, $b) & 1")).as(s"v$b")) :+
      count(lit(1)).as("vn")
    tokens.groupBy(col("doc_id"))
      .agg(voteCols.head, voteCols.tail: _*)
      .select(col("doc_id"),
        (0 until simBits).map(b =>
          when(col(s"v$b") * 2 > col("vn"), lit(1L << b)).otherwise(lit(0L)))
          .reduce(_ + _).as("simhash"))
  }

  /** Library API: SimHash over [[simhashArithSigs]] through
    * [[Lsh.chunkPairs]] with 4×15-bit chunks, which cover the 60 bits —
    * the plan shape of the xxhash kernel path ([[simHashNearDup]]), but
    * fully replayable in ANSI SQL. */
  def simHashNearDupArith(
      docs: org.apache.spark.sql.DataFrame, idCol: String, textCol: String,
      maxHamming: Int = 3): org.apache.spark.sql.DataFrame =
    Lsh.chunkPairs(simhashArithSigs(docs, idCol, textCol), 15, maxHamming)

  /** DuckDB replay of [[simHashNearDupArith]]: unrolled 60 per-bit majority
    * votes, fingerprint reassembly from literal powers of two, 4-chunk
    * pigeonhole buckets, bit_count(xor) verify. */
  private def simhashArithOracle: String = {
    val votes = (0 until simBits).map(b =>
      s"sum(CASE WHEN (h >> $b) & 1 = 1 THEN 1 ELSE -1 END) AS v$b")
      .mkString(", ")
    val build = (0 until simBits).map(b =>
      s"(CASE WHEN v$b > 0 THEN ${1L << b} ELSE 0 END)").mkString(" + ")
    s"""
      WITH t AS (SELECT doc_id, unnest(str_split(text, ' ')) AS t
                 FROM documents),
      h AS (SELECT doc_id,
                   ('0x' || substr(md5(t), 1, 15))::BIGINT AS h FROM t),
      v AS (SELECT doc_id, $votes FROM h GROUP BY doc_id),
      s AS (SELECT doc_id, $build AS simhash FROM v),
      c AS (${Lsh.duckChunks(15, "s")}),
      pairs AS (
        SELECT x.doc_id AS doc_a, y.doc_id AS doc_b,
               CAST(bit_count(xor(x.simhash, y.simhash)) AS BIGINT)
                 AS hamming
        FROM c x JOIN c y
          ON x.chunk_id = y.chunk_id AND x.chunk_val = y.chunk_val
         AND x.doc_id < y.doc_id)
      SELECT DISTINCT doc_a, doc_b, hamming FROM pairs WHERE hamming <= 3"""
  }

  /** SimHash near-dup over the documents fixture — deterministic arithmetic
    * variant, DuckDB-oracle-checked end to end. */
  val simhash = QueryDef(
    "q_dedup_simhash",
    (spark, dir) => simHashNearDupArith(
      Tables(spark, dir, "documents"), "doc_id", "text"),
    Some(simhashArithOracle))

  /** Embedding-cosine near-dup pairs — the LSH-bucketed SCALE path (this is
    * the variant to run at 100 TB; [[embeddingNearDup]] below is the bounded
    * brute-force baseline), over the sign-projection index of [[Lsh]]:
    * every vector probes its 44 buckets against every vector's 2 home
    * buckets. Candidate pairs form only within probed buckets — one
    * shuffle on the (table, bucket) key, O(n·probes) pairs tested instead
    * of O(n²). Precision is exact (every emitted pair passed the true
    * cosine test); recall vs the brute-force truth is pinned in DedupSpec. */
  val embeddingNearDupLsh = QueryDef(
    "q_dedup_embedding_lsh",
    (spark, dir) => {
      // persisted for the probe/candidate double-read; released by the
      // runner's per-query clearCache (Verify's finally, Bench.minOf3) —
      // ad-hoc callers embedding this plan long-term should clearCache too
      val sigs = Tables(spark, dir, "embeddings")
        .select(col("vec_id"), col("embedding"),
          Lsh.signature("embedding").as("sig"))
        .persist()
      val probes = sigs.select(col("vec_id").as("id_a"),
        col("embedding").as("ea"), Lsh.probeBuckets)
      val cands = sigs.select(col("vec_id").as("id_b"),
        col("embedding").as("eb"), Lsh.homeBuckets)
      // cosine BEFORE dedup: the codegen kernel is ~100 flops/pair, so
      // re-scoring a pair per colliding probe is cheap, while dedup-first
      // shuffles every candidate row WITH both 64-float embedding columns;
      // filtering to survivors first makes the dedup exchange near-empty
      // (sf0.1 probe: 3.5s → sub-second, identical result set)
      probes.join(cands, "bucket")
        .filter(col("id_a") < col("id_b"))
        .withColumn("cos", expr("cosine_sim(ea, eb)"))
        .filter(col("cos") > 0.45)
        .select(col("id_a"), col("id_b"), col("cos"))
        .dropDuplicates("id_a", "id_b")
    },
    Some(s"""
      WITH sigs AS (
        SELECT vec_id, embedding, ${Lsh.duckSignature("embedding")} AS sig
        FROM embeddings),
      probes AS (
        SELECT vec_id AS id_a, embedding AS ea,
               ${Lsh.duckProbeBuckets} AS bucket
        FROM sigs),
      cands AS (
        SELECT vec_id AS id_b, embedding AS eb,
               ${Lsh.duckHomeBuckets} AS bucket
        FROM sigs)
      SELECT id_a, id_b, cos FROM (
        SELECT DISTINCT p.id_a, c.id_b,
               ${duckCosine("p.ea", "c.eb")} AS cos
        FROM probes p JOIN cands c ON p.bucket = c.bucket
        WHERE p.id_a < c.id_b)
      WHERE cos > 0.45"""))

  /** Embedding-cosine near-dup pairs, brute force over the bounded fixture —
    * the correctness BASELINE for [[embeddingNearDupLsh]] (all-pairs cross
    * join: does not scale; kept for exact ground truth and small corpora).
    * Uses the native codegen'd cosine_sim expression
    * (graft.functions.CosineSim); the oracle folds the identical
    * double-accumulation order via DuckDB list_reduce → bit-equal doubles. */
  val embeddingNearDup = QueryDef(
    "q_dedup_embedding",
    (spark, dir) => {
      val e = Tables(spark, dir, "embeddings")
      val a = e.select(col("vec_id").as("id_a"), col("embedding").as("ea"))
      val b = e.select(col("vec_id").as("id_b"), col("embedding").as("eb"))
      a.crossJoin(b)
        .filter(col("id_a") < col("id_b"))
        .withColumn("cos", expr("cosine_sim(ea, eb)"))
        .filter(col("cos") > 0.45)
        .select(col("id_a"), col("id_b"), col("cos"))
    },
    Some(s"""
      SELECT id_a, id_b, cos FROM (
        SELECT a.vec_id AS id_a, b.vec_id AS id_b,
               ${duckCosine("a.embedding", "b.embedding")} AS cos
        FROM embeddings a, embeddings b
        WHERE a.vec_id < b.vec_id)
      WHERE cos > 0.45""")).copy(parityShape = true)

  /** DuckDB cosine with strict left-to-right double folding — mirrors
    * CosineSim's accumulation order exactly. */
  def duckCosine(a: String, b: String): String = {
    def fold(x: String, y: String) =
      s"""list_reduce(list_transform(range(len($a)),
          i -> CAST($x[i+1] AS DOUBLE) * CAST($y[i+1] AS DOUBLE)),
          (p, q) -> p + q)"""
    s"""(${fold(a, b)} / (sqrt(${fold(a, a)}) * sqrt(${fold(b, b)})))"""
  }

  /** Connected components over an undirected pair list `(doc_a, doc_b)` →
    * `(doc, label)` where label = smallest doc id reachable from doc, in
    * Spark's ordering of the id type (a null id is its own component,
    * labelled null).
    *
    * Min-label propagation *plus pointer jumping*: each round first takes
    * the min over neighbors' labels, then follows one label indirection
    * (`label := label(label)`), which halves the remaining chain depth —
    * O(log diameter) rounds instead of O(diameter), so a 25-round cap
    * covers any graph a dedup pass can produce (diameter ≤ 2^25). If the
    * cap is ever hit the method THROWS rather than returning silently-wrong
    * clusters (VERDICT r2 "What's wrong" #2a).
    *
    * The pair list is `localCheckpoint`ed first, so the caller's pair plan
    * runs once, and its size picks the executor. A list of at most
    * `spark.sql.autoBroadcastJoinThreshold` bytes (rows × Spark's row size
    * estimate; the bound Spark itself uses for shipping a relation through
    * the driver, ≤ 0 = never) runs the same rounds in driver memory, with
    * no job per round, and comes back as an RDD-backed frame. A larger one
    * runs [[distributedLabels]].
    */
  def componentLabels(
      pairs: org.apache.spark.sql.DataFrame,
      maxRounds: Int = 25): org.apache.spark.sql.DataFrame = {
    val list = pairs.select(col("doc_a"), col("doc_b")).localCheckpoint()
    val nodes = list.select(col("doc_a").as("doc"))
      .union(list.select(col("doc_b").as("doc"))).distinct()
    val bound = list.sparkSession.sessionState.conf.autoBroadcastJoinThreshold
    def bytes = EstimationUtils.getSizePerRow(list.queryExecution.analyzed.output) *
      list.count()
    if (bound > 0 && bytes <= bound) localLabels(list, nodes, maxRounds)
    else distributedLabels(list, nodes, maxRounds)
  }

  private def notConverged(maxRounds: Int) = new IllegalStateException(
    s"componentLabels did not converge in $maxRounds rounds — " +
      "graph diameter exceeds 2^" + maxRounds)

  /** [[componentLabels]]' rounds on the driver over a collected pair list.
    * Nodes are indexed in Spark's order of the id type, so a label is a
    * node index and the min over labels is an int min. The result has the
    * distributed result's schema (`doc` is `nodes`' column, `label` its
    * twin) and carries what `nodes`' plan guarantees of `doc` (e.g. not
    * null), as the last round's checkpoint does, so the optimizer infers no
    * extra filter above it. The collected list's checkpoint blocks are
    * released. */
  private def localLabels(list: org.apache.spark.sql.DataFrame,
      nodes: org.apache.spark.sql.DataFrame,
      maxRounds: Int): org.apache.spark.sql.DataFrame = {
    val doc = nodes.schema("doc")
    val t = doc.dataType
    val toCatalyst = CatalystTypeConverters.createToCatalystConverter(t)
    val pairs = list.select(col("doc_a").cast(t), col("doc_b").cast(t)).collect()
      .map(r => (toCatalyst(r.get(0)), toCatalyst(r.get(1))))
    list.queryExecution.analyzed.collect { case r: LogicalRDD => r.rdd }
      .foreach(_.unpersist(blocking = false))
    val ord = PhysicalDataType.ordering(t)
    val ids = (TreeSet.empty(ord) ++
      pairs.flatMap { case (a, b) => Seq(a, b) }.filter(_ != null)).toIndexedSeq
    val (whole, withNull) = pairs.partition { case (a, b) => a != null && b != null }
    val edges = whole.map { case (a, b) =>
      (ids.search(a)(ord).insertionPoint, ids.search(b)(ord).insertionPoint) }
    var label = Array.tabulate(ids.length)(identity)
    var converged = false
    var rounds = 0
    while (!converged && rounds < maxRounds) {
      val propagated = label.clone()
      for ((a, b) <- edges) {
        propagated(a) = math.min(propagated(a), label(b))
        propagated(b) = math.min(propagated(b), label(a))
      }
      val next = propagated.map(l => math.min(l, propagated(l)))
      converged = !next.indices.exists(v => next(v) < label(v))
      label = next
      rounds += 1
    }
    if (!converged) throw notConverged(maxRounds)
    val out = ids.indices.map(v => InternalRow(ids(v), ids(label(v)))) ++
      (if (withNull.nonEmpty) Seq(InternalRow(null, null)) else Nil)
    val nodePlan = nodes.queryExecution.optimizedPlan
    val nodeDoc = nodePlan.output.head
    Bridge.rowsFrame(list.sparkSession, out,
        StructType(Seq(doc, doc.copy(name = "label")))) { output =>
      nodePlan.constraints.toSeq.map(_.transform {
        case a: Attribute if a.semanticEquals(nodeDoc) => output.head
      })
    }
  }

  /** [[componentLabels]]' rounds as Spark jobs, for pair lists too large
    * for the driver. Each round is one shuffle on the edge key plus a label
    * self-join, and each round's frame is `localCheckpoint`ed: lineage is
    * truncated so analysis cost stays constant per round instead of growing
    * with the round number (#2b); at 100 TB swap for a reliable
    * `checkpoint()` to an HDFS dir so executor loss can't drop a round. */
  private def distributedLabels(list: org.apache.spark.sql.DataFrame,
      nodes: org.apache.spark.sql.DataFrame,
      maxRounds: Int): org.apache.spark.sql.DataFrame = {
    // undirected edge list, both directions. Partitioned BY THE ROUND
    // JOIN KEY before caching (guide §2.4 "two operations keyed the same
    // way share one exchange"): the cached relation reports
    // hashpartitioning(src), so every round's edges⋈labels join reuses the
    // layout instead of re-shuffling the static edge list O(log d) times —
    // at scale the edge list is the big side of every round.
    // Measured on a 2M-node graph: 15.25 vs 18.25 s, 33% fewer shuffle
    // bytes (OPTIMIZATION_r14.md).
    val edges = list.select(col("doc_a").as("src"), col("doc_b").as("dst"))
      .union(list.select(col("doc_b").as("src"), col("doc_a").as("dst")))
      .repartition(col("src"))
      .persist()
    var labels = nodes.select(col("doc"), col("doc").as("label"))
      .localCheckpoint()
    var converged = false
    var rounds = 0
    while (!converged && rounds < maxRounds) {
      val neighborMin = edges
        .join(labels.withColumnRenamed("doc", "src")
          .withColumnRenamed("label", "nl"), "src")
        .groupBy(col("dst").as("doc"))
        .agg(min(col("nl")).as("nmin"))
      // carry old + new label in one row: the convergence check is a
      // filter-count on the materialized frame, not another join
      val propagated = labels.join(neighborMin, Seq("doc"), "left_outer")
        .select(col("doc"), col("label").as("old_label"),
          least(col("label"), coalesce(col("nmin"), col("label")))
            .as("label"))
      // pointer jump: label := min(label, label-of-label). The label is
      // always itself a node id, so the lookup is a self-join on doc.
      val parents = propagated
        .select(col("doc").as("p_doc"), col("label").as("p_label"))
      val next = propagated
        .join(parents, propagated("label") === parents("p_doc"), "left_outer")
        .select(propagated("doc"), col("old_label"),
          least(propagated("label"),
            coalesce(col("p_label"), propagated("label"))).as("label"))
        .localCheckpoint()
      val changed = next.filter(col("label") < col("old_label")).count()
      labels = next.select(col("doc"), col("label"))
      converged = changed == 0
      rounds += 1
    }
    edges.unpersist(blocking = false)
    if (!converged) throw notConverged(maxRounds)
    labels
  }

  /** Duplicate-cluster assignment: connected components over the near-dup
    * pair graph (jaccard >= 0.5 candidates) via [[componentLabels]] — the
    * Pregel-shaped algorithm that scales to 100 TB (each round is one
    * shuffle on the edge key + one label self-join; the driver only sees
    * the final per-cluster aggregate). Each doc's cluster id = smallest
    * doc_id reachable from it. Oracle: DuckDB recursive-CTE transitive
    * closure (exact same semantics, viable because the fixture's pair set
    * is small).
    */
  val connectedComponents = QueryDef(
    "q_dedup_clusters",
    (spark, dir) => {
      val pairs = ngramJaccard.run(spark, dir)
        .filter(col("jaccard") >= 0.5)
        .select(col("doc_a"), col("doc_b"))
        .persist()
      componentLabels(pairs)
        .groupBy(col("label").as("cluster_id"))
        .agg(count(lit(1)).as("cluster_size"),
          max(col("doc")).as("max_doc"))
    },
    Some("""
      WITH RECURSIVE pairs AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM (SELECT doc_id, substring(text, 1, 40) AS blk,
                     """ + duckShingles + """ AS grams FROM documents) a
        JOIN (SELECT doc_id, substring(text, 1, 40) AS blk,
                     """ + duckShingles + """ AS grams FROM documents) b
          ON a.blk = b.blk AND a.doc_id < b.doc_id
        WHERE CAST(len(list_intersect(a.grams, b.grams)) AS DOUBLE) /
              CAST(len(a.grams) + len(b.grams)
                   - len(list_intersect(a.grams, b.grams)) AS DOUBLE) >= 0.5),
      edges AS (
        SELECT doc_a AS src, doc_b AS dst FROM pairs
        UNION ALL SELECT doc_b, doc_a FROM pairs),
      nodes AS (
        SELECT DISTINCT src AS doc FROM edges),
      reach(doc, r) AS (
        SELECT doc, doc FROM nodes
        UNION
        SELECT reach.doc, edges.dst
        FROM reach JOIN edges ON reach.r = edges.src)
      SELECT cluster_id, count(*) AS cluster_size, max(doc) AS max_doc
      FROM (SELECT doc, min(r) AS cluster_id FROM reach GROUP BY doc)
      GROUP BY cluster_id"""))

  /** Library API: exact-dedup admission of a new batch against an already
    * deduplicated corpus — the steady-state shape of pipeline dedup. At
    * 100 TB the corpus is curated ONCE; every increment must dedup (a)
    * within itself and (b) against the corpus, without ever re-shuffling
    * corpus content. Stage 1 keeps the lowest-id row per batch fingerprint
    * (one shuffle of the batch); stage 2 anti-joins the survivors against
    * the corpus FINGERPRINTS only — 16 bytes/doc cross the wire, never text
    * (in production the fingerprint column is a stored index). */
  def exactAdmit(
      corpus: org.apache.spark.sql.DataFrame,
      batch: org.apache.spark.sql.DataFrame,
      idCol: String, textCol: String): org.apache.spark.sql.DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("__fp").orderBy(col(idCol))
    batch
      .withColumn("__fp", md5(col(textCol).cast("binary")))
      .withColumn("__rk", row_number().over(w))
      .filter(col("__rk") === 1).drop("__rk")
      .join(corpus.select(md5(col(textCol).cast("binary")).as("__fp"))
        .distinct(), Seq("__fp"), "left_anti")
      .drop("__fp")
  }

  /** Library API: full incremental admission — [[exactAdmit]] plus a
    * MinHash-LSH near-dup check of the surviving batch docs against the
    * corpus band index (the bands of [[minHashNearDup]]; in a production
    * deployment the corpus side is a PERSISTED table, here it is derived on
    * the fly). Candidate pairs form only between BATCH and CORPUS
    * rows sharing a band bucket (never corpus×corpus — that work was paid
    * once when the corpus was curated); with a small increment AQE
    * broadcasts the batch band table and the corpus index never shuffles.
    * Returns the batch rows that are genuinely new. */
  def admitBatch(
      corpus: org.apache.spark.sql.DataFrame,
      batch: org.apache.spark.sql.DataFrame,
      idCol: String, textCol: String,
      threshold: Double = 0.25, hashes: Int = 32, bands: Int = 8)
      : org.apache.spark.sql.DataFrame = {
    require(hashes % bands == 0, s"bands ($bands) must divide hashes ($hashes)")
    val fresh = exactAdmit(corpus, batch, idCol, textCol)
    def index(df: org.apache.spark.sql.DataFrame) = Lsh.banded(
      minhashSigs(df, idCol, textCol, hashes), hashes, bands, Lsh.hashKey)
    val nearHits = index(fresh).as("x")
      .join(index(corpus).as("y"), Lsh.sameBucket(Lsh.hashKey))
      .filter(Lsh.agreement(col("x.sig"), col("y.sig"), hashes) >= threshold)
      .select(col("x.doc_id").as(idCol)).distinct()
    fresh.join(nearHits, Seq(idCol), "left_anti")
  }

  /** Oracle-checked incremental admission over the fixture: every fourth
    * doc plays the incoming batch, the rest the curated corpus. The exact
    * stages ([[exactAdmit]]) are ANSI-expressible, so the admitted count is
    * pinned against DuckDB; the LSH near stage is Spark-only (xxhash64) and
    * is bound by DedupSpec's planted-near-dup fixture instead. */
  val incremental = QueryDef(
    "q_dedup_incremental",
    (spark, dir) => {
      // single-pass twin of exactAdmit's two stages: rank within batch
      // fingerprint + existence-marker outer join against corpus
      // fingerprints, then ONE aggregate — no 1×1 cross join of separate
      // count plans (ScaleGuard-clean by construction)
      val docs = Tables(spark, dir, "documents")
      val corpus = docs.filter(col("doc_id") % 4 =!= 0)
      val batch = docs.filter(col("doc_id") % 4 === 0)
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("__fp").orderBy("doc_id")
      batch
        .withColumn("__fp", md5(col("text").cast("binary")))
        .withColumn("__rk", row_number().over(w))
        .join(corpus.select(md5(col("text").cast("binary")).as("__fp"),
          lit(1).as("__hit")).distinct(), Seq("__fp"), "left_outer")
        .groupBy()
        .agg(count(lit(1)).as("n_batch"),
          countDistinct(col("__fp")).as("n_batch_unique"),
          count(when(col("__rk") === 1 && col("__hit").isNull, 1))
            .as("n_admitted"))
    },
    Some("""
      WITH corpus AS (SELECT * FROM documents WHERE doc_id % 4 <> 0),
           batch  AS (SELECT * FROM documents WHERE doc_id % 4 = 0)
      SELECT (SELECT count(*) FROM batch) AS n_batch,
             (SELECT count(DISTINCT md5(text)) FROM batch) AS n_batch_unique,
             (SELECT count(*)
              FROM (SELECT md5(text) AS fp, min(doc_id) AS keeper
                    FROM batch GROUP BY md5(text)) b
              WHERE NOT EXISTS (SELECT 1 FROM corpus c
                                WHERE md5(c.text) = b.fp)) AS n_admitted"""))

  /** Bloom-prefiltered EXACT batch admission — the 100 TB shape for
    * "admit only novel documents against a curated corpus":
    *
    *  1. ONE pass over the corpus builds a Bloom filter of content
    *     fingerprints (Spark's own sketch via the exposed `bloom_agg`);
    *     the driver pulls a single ~numBits/8-byte binary REGARDLESS of
    *     corpus size — the broadcast-filter pattern, not a collect.
    *  2. Batch rows whose fingerprint the filter has DEFINITELY not seen
    *     (no false negatives) are admitted with NO join at all.
    *  3. Only the "maybe" survivors — true duplicates plus the filter's
    *     few false positives — pay the exact anti-join.
    *
    * The output is therefore EXACTLY the plain anti-join's (the bloom
    * stage only routes rows, never decides), so the registry query keeps
    * a DuckDB oracle; what scales is the join's probe side, which shrinks
    * from |batch| to |dupes| + FP·|batch|. */
  def admitBatchBloom(
      corpus: org.apache.spark.sql.DataFrame,
      batch: org.apache.spark.sql.DataFrame,
      idCol: String = "doc_id", textCol: String = "text",
      estimatedItems: Long = 1L << 16,
      numBits: Long = 1L << 20): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.graft.Bridge
    import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, Literal, XxHash64}
    val corpusFp = corpus
      .select(md5(col(textCol).cast("binary")).as("__fp")).distinct()
    val bloomRow = corpusFp
      .agg(Bridge.column(new org.apache.spark.sql.catalyst.expressions
        .aggregate.BloomFilterAggregate(
          new XxHash64(Seq(Bridge.expression(col("__fp")))),
          Literal(estimatedItems), Literal(numBits))
        .toAggregateExpression()).as("b"))
      .head()
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("__fp")).orderBy(col(idCol))
    val batchKeep = batch
      .withColumn("__fp", md5(col(textCol).cast("binary")))
      .withColumn("__rk", row_number().over(w))
      .filter(col("__rk") === 1).drop("__rk")
    if (bloomRow.isNullAt(0)) return batchKeep.drop("__fp") // empty corpus
    val bloomBin = bloomRow.getAs[Array[Byte]](0)
    val probed = batchKeep.withColumn("__maybe",
      Bridge.column(BloomFilterMightContain(
        Literal(bloomBin,
          org.apache.spark.sql.types.BinaryType),
        new XxHash64(Seq(Bridge.expression(col("__fp")))))))
    val definite = probed.filter(!col("__maybe"))
    val confirmed = probed.filter(col("__maybe"))
      .join(corpusFp, Seq("__fp"), "left_anti")
    definite.unionByName(confirmed).drop("__maybe", "__fp")
  }

  /** The bloom admission over the fixture split (every fourth doc is the
    * incoming batch) — output equals the plain anti-join bit-for-bit, so
    * the whole bloom routing is oracle-checked. */
  val admitBloom = QueryDef(
    "q_dedup_admit_bloom",
    (spark, dir) => {
      val docs = Tables(spark, dir, "documents")
      admitBatchBloom(
        docs.filter(col("doc_id") % 4 =!= 0),
        docs.filter(col("doc_id") % 4 === 0),
        estimatedItems = 4096L, numBits = 1L << 15)
        .select(col("doc_id"), col("source"))
    },
    Some("""
      WITH corpus AS (SELECT * FROM documents WHERE doc_id % 4 <> 0),
           batch  AS (SELECT * FROM documents WHERE doc_id % 4 = 0),
           b AS (SELECT md5(text) AS fp, min(doc_id) AS doc_id
                 FROM batch GROUP BY md5(text))
      SELECT b.doc_id, d.source
      FROM b JOIN batch d ON b.doc_id = d.doc_id
      WHERE NOT EXISTS (SELECT 1 FROM corpus c
                        WHERE md5(c.text) = b.fp)"""))

  /** Repeated-SUBSTRING span discovery — the character-grain intra-corpus
    * dedup signal (Lee et al. 2022, "Deduplicating Training Data Makes
    * Language Models Better": training corpora carry verbatim repeated
    * SUBSTRINGS that word- or document-grain dedup never sees). The
    * suffix-array approach is replaced by the distributable equivalent:
    * fixed-width character windows every `stride` bytes, fingerprinted,
    * census'd, and merged back into maximal repeated RUNS per document
    * via gaps-and-islands.
    *
    * Plan at 100 TB: windows are ~bytes/stride rows (linear, one
    * explode); the census is ONE shuffle on the fingerprint with partial
    * aggregation; the mark-back is a semi-join on the same key; the
    * run-merge window is per-document (bounded by document length).
    * No pairwise comparison anywhere. Boilerplate-heavy fingerprints can
    * be df-capped exactly like decontaminate's hot-gram cap.
    *
    * Returns one row per document: total spans, spans repeated in ≥
    * `minDocs` documents, and the longest merged repeated run in chars. */
  def repeatedSpans(
      docs: org.apache.spark.sql.DataFrame,
      idCol: String = "doc_id", textCol: String = "text",
      window: Int = 40, stride: Int = 10,
      minDocs: Int = 2): org.apache.spark.sql.DataFrame = {
    require(window > 0 && stride > 0 && minDocs >= 2,
      s"bad params: window=$window stride=$stride minDocs=$minDocs")
    val spans = docs
      .filter(length(col(textCol)) >= window)
      .select(col(idCol).cast("long").as("doc_id"),
        col(textCol).as("__t"),
        explode(sequence(lit(0), length(col(textCol)) - window,
          lit(stride))).as("pos"))
      .withColumn("fp",
        md5(expr(s"cast(substring(__t, pos + 1, $window) as binary)")))
      .drop("__t")
    val rep = spans.groupBy(col("fp"))
      .agg(countDistinct(col("doc_id")).as("nd"))
      .filter(col("nd") >= minDocs).select(col("fp"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id")).orderBy(col("pos"))
    val runs = spans.join(rep, Seq("fp"), "left_semi")
      .withColumn("grp", col("pos") - lit(stride) * row_number().over(w))
      .groupBy(col("doc_id"), col("grp"))
      .agg(min(col("pos")).as("p0"), max(col("pos")).as("p1"),
        count(lit(1)).as("c"))
    val perDoc = runs.groupBy(col("doc_id"))
      .agg(sum(col("c")).as("nr"),
        max(col("p1") - col("p0") + lit(window)).as("mrc"))
    spans.groupBy(col("doc_id")).agg(count(lit(1)).as("n_spans"))
      .join(perDoc, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_spans"),
        coalesce(col("nr"), lit(0L)).as("n_repeated"),
        coalesce(col("mrc").cast("long"), lit(0L)).as("max_run_chars"))
  }

  /** Span discovery over the documents fixture — window/stride/census/
    * island-merge all reproduced exactly by the DuckDB oracle. */
  val repeatedSpansQuery = QueryDef(
    "q_dedup_repeated_spans",
    (spark, dir) =>
      repeatedSpans(Tables(spark, dir, "documents"),
        window = 40, stride = 10),
    Some("""
      WITH spans AS (
        SELECT doc_id, u.pos, md5(substr(text, u.pos + 1, 40)) AS fp
        FROM documents,
             UNNEST(range(0, length(text) - 40 + 1, 10)) AS u(pos)
        WHERE length(text) >= 40),
      rep AS (SELECT fp FROM spans
              GROUP BY fp HAVING count(DISTINCT doc_id) >= 2),
      runs AS (
        SELECT doc_id, grp, min(pos) AS p0, max(pos) AS p1, count(*) AS c
        FROM (SELECT doc_id, pos,
                     pos - 10 * row_number() OVER (PARTITION BY doc_id
                                                   ORDER BY pos) AS grp
              FROM spans WHERE fp IN (SELECT fp FROM rep))
        GROUP BY doc_id, grp),
      per_doc AS (
        SELECT doc_id, CAST(sum(c) AS BIGINT) AS nr,
               CAST(max(p1 - p0 + 40) AS BIGINT) AS mrc
        FROM runs GROUP BY doc_id)
      SELECT t.doc_id, t.n_spans,
             coalesce(p.nr, 0) AS n_repeated,
             coalesce(p.mrc, 0) AS max_run_chars
      FROM (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_spans
            FROM spans GROUP BY doc_id) t
      LEFT JOIN per_doc p ON t.doc_id = p.doc_id"""))

  /** Benchmark decontamination — the cross-corpus overlap check every
    * training-data pipeline runs before shipping a corpus: which held-out
    * (test/benchmark) documents share verbatim word n-grams with the
    * training corpus. The industry-standard mechanic (overlapping n-gram
    * hit counting, as published for GPT-3/The Pile/FineWeb decontamination)
    * re-expressed as one blocked equi-join:
    *
    *  - per-doc DISTINCT 4-grams via the codegen [[graft.functions.WordNgrams]]
    *    kernel (one pass, no interpreted lambdas);
    *  - grams with train-side document frequency > 1000 are dropped before
    *    the join — boilerplate phrases otherwise create quadratic hot keys
    *    (the exact skew ScaleGuard flags); at the fixture scale the cap is
    *    inert, at 100 TB it is the difference between a bounded join and a
    *    cluster-killer;
    *  - ONE shuffle on the gram; two distinct-aggregations (shared grams,
    *    implicated train docs) joined on the test doc — no Expand, both
    *    benefit from partial aggregation.
    *
    * Output: one row per CONTAMINATED test doc. The driver's oracle runs the
    * identical set logic in DuckDB list functions. */
  def decontaminateDocs(
      train: org.apache.spark.sql.DataFrame,
      test: org.apache.spark.sql.DataFrame,
      idCol: String, textCol: String,
      n: Int = 4, maxDf: Long = 1000): org.apache.spark.sql.DataFrame = {
    def grams(df: org.apache.spark.sql.DataFrame, as: String) = df
      .select(col(idCol).as(as),
        explode(org.apache.spark.sql.graft.Bridge.column(
          graft.functions.WordNgrams(
            org.apache.spark.sql.graft.Bridge.expression(
              split(col(textCol), " ")), n))).as("gram"))
    val testG = grams(test, "test_id")
    val trainG = grams(train, "train_id")
    // rows are (doc, gram)-distinct by construction → count(*) per gram
    // IS the document frequency; cap hot grams before the join
    val keep = trainG.groupBy(col("gram"))
      .agg(count(lit(1)).as("df")).filter(col("df") <= maxDf)
      .select(col("gram"))
    val pairs = testG.join(trainG.join(keep, "gram"), "gram")
    val sharedGrams = pairs.select(col("test_id"), col("gram")).distinct()
      .groupBy(col("test_id")).agg(count(lit(1)).as("n_shared_grams"))
    val sharedDocs = pairs.select(col("test_id"), col("train_id")).distinct()
      .groupBy(col("test_id")).agg(count(lit(1)).as("n_train_docs"))
    sharedGrams.join(sharedDocs, "test_id")
      .select(col("test_id").as(idCol),
        col("n_shared_grams"), col("n_train_docs"))
  }

  val decontaminate = QueryDef(
    "q_decontaminate",
    (spark, dir) => {
      val docs = Tables(spark, dir, "documents")
      decontaminateDocs(
        docs.filter(col("doc_id") % 17 =!= 0),
        docs.filter(col("doc_id") % 17 === 0),
        "doc_id", "text")
    },
    Some {
      val g4 =
        """list_distinct(list_transform(range(len(str_split(text, ' ')) - 3),
           i -> str_split(text, ' ')[i+1] || ' ' || str_split(text, ' ')[i+2]
                || ' ' || str_split(text, ' ')[i+3] || ' '
                || str_split(text, ' ')[i+4]))"""
      s"""
      WITH g AS (SELECT doc_id, unnest($g4) AS gram FROM documents),
      test AS (SELECT doc_id AS test_id, gram FROM g WHERE doc_id % 17 = 0),
      train0 AS (SELECT doc_id AS train_id, gram FROM g
                 WHERE doc_id % 17 <> 0),
      train AS (SELECT * FROM train0 WHERE gram IN
                (SELECT gram FROM train0 GROUP BY gram
                 HAVING count(*) <= 1000)),
      p AS (SELECT t.test_id, t.gram, r.train_id
            FROM test t JOIN train r USING (gram))
      SELECT sg.test_id AS doc_id, sg.n_shared_grams, sd.n_train_docs
      FROM (SELECT test_id, count(DISTINCT gram) AS n_shared_grams
            FROM p GROUP BY test_id) sg
      JOIN (SELECT test_id, count(DISTINCT train_id) AS n_train_docs
            FROM p GROUP BY test_id) sd USING (test_id)"""
    })

  /** Library API: SEMANTIC decontamination — flag eval/benchmark items
    * whose EMBEDDING is near-duplicate to some training item (the
    * contamination n-gram overlap misses: paraphrases, translations,
    * formatting changes). Same sign-projection index ([[Lsh]]) as
    * [[embeddingNearDupLsh]], asymmetric: the (small) eval side fans out to
    * all 44 probe buckets, the (huge) train side lands in just its 2 home
    * buckets — so the corpus-sized explode is 2×, not 44×, and
    * candidates form only inside probed buckets (one shuffle on the bucket
    * key, never eval×train). Returns each contaminated eval item's BEST
    * training match (max cosine, smallest train id on ties). */
  def semanticDecontaminate(
      train: org.apache.spark.sql.DataFrame,
      eval: org.apache.spark.sql.DataFrame,
      idCol: String = "vec_id", embCol: String = "embedding",
      tau: Double = 0.4): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.expressions.Window
    def withSig(df: org.apache.spark.sql.DataFrame, a: String, e: String) =
      df.select(col(idCol).as(a), col(embCol).as(e),
        Lsh.signature(embCol).as("sig"))
    val probes = withSig(eval, "eval_id", "ea")
      .select(col("eval_id"), col("ea"), Lsh.probeBuckets)
    val cands = withSig(train, "train_id", "eb")
      .select(col("train_id"), col("eb"), Lsh.homeBuckets)
    probes.join(cands, "bucket")
      .withColumn("cos", expr("cosine_sim(ea, eb)"))
      .filter(col("cos") >= tau)
      .select(col("eval_id"), col("train_id"), col("cos"))
      .dropDuplicates("eval_id", "train_id")
      .withColumn("rk", row_number().over(
        Window.partitionBy(col("eval_id"))
          .orderBy(col("cos").desc, col("train_id"))))
      .filter(col("rk") === 1)
      .select(col("eval_id"), col("train_id"), col("cos"))
  }

  /** Semantic decontamination over the embeddings fixture (label 0 plays
    * the held-out benchmark, labels 1–9 the training corpus) — the
    * integer-hyperplane projection makes every bucket, probe, cosine and
    * the best-match argmax DuckDB-replayable. */
  val decontaminateSemantic = QueryDef(
    "q_decontaminate_semantic",
    (spark, dir) => {
      val e = Tables(spark, dir, "embeddings")
      semanticDecontaminate(
        train = e.filter(col("label") =!= 0),
        eval = e.filter(col("label") === 0))
    },
    Some(s"""
      WITH ev AS (
        SELECT vec_id, embedding, ${Lsh.duckSignature("embedding")} AS sig
        FROM embeddings WHERE label = 0),
      tr AS (
        SELECT vec_id, embedding, ${Lsh.duckSignature("embedding")} AS sig
        FROM embeddings WHERE label <> 0),
      probes AS (
        SELECT vec_id AS eval_id, embedding AS ea,
               ${Lsh.duckProbeBuckets} AS bucket
        FROM ev),
      cands AS (
        SELECT vec_id AS train_id, embedding AS eb,
               ${Lsh.duckHomeBuckets} AS bucket
        FROM tr),
      hits AS (
        SELECT DISTINCT p.eval_id, c.train_id,
               ${duckCosine("p.ea", "c.eb")} AS cos
        FROM probes p JOIN cands c ON p.bucket = c.bucket),
      ranked AS (
        SELECT eval_id, train_id, cos,
               row_number() OVER (PARTITION BY eval_id
                                  ORDER BY cos DESC, train_id) AS rk
        FROM hits WHERE cos >= 0.4)
      SELECT eval_id, train_id, cos FROM ranked WHERE rk = 1"""))

  /** Library API: canonical-copy selection — dedup that keeps the BEST
    * copy per duplicate group instead of the first. Real pipelines rank
    * duplicate copies by provenance (curated corpus over web crawl over
    * mirror) and only fall back to arrival order within a tier; the rule
    * here is argmin of (priority, id) — lower priority value wins, id
    * breaks ties deterministically.
    *
    * Scale shape: ONE min-struct hash aggregate on the group key — no
    * window sort, no secondary shuffle; at 100 TB this is the same
    * single-shuffle plan as exact dedup with a 16-byte wider aggregation
    * payload (the struct), and partial aggregation still combines
    * map-side. */
  def keepBest(docs: org.apache.spark.sql.DataFrame, groupKey: Column,
      priority: Column,
      idCol: String = "doc_id"): org.apache.spark.sql.DataFrame =
    docs.groupBy(groupKey.as("grp"))
      .agg(min(struct(priority.as("prio"), col(idCol).as("id"))).as("best"),
        count(lit(1)).as("n_copies"))
      .select(col("grp"), col("best.id").as("keeper"),
        col("best.prio").as("keeper_prio"), col("n_copies"))

  /** Priority dedup over the ngram path's 40-char-prefix blocking key (the
    * fixture's near-dup groups share long prefixes; 23 groups at sf0.01
    * have real competition): sources src0–src9 are the "curated" tier 0,
    * src10–src19 the "web" tier 1, keeper = argmin (tier, doc_id). Reduced
    * to the per-tier census with a sum-of-keeper-ids checksum so the
    * oracle pins every individual selection, not just counts. */
  val priorityKeeper = QueryDef(
    "q_dedup_priority",
    (spark, dir) => {
      val docs = Tables(spark, dir, "documents")
      keepBest(
        docs,
        substring(col("text"), 1, 40),
        when(length(col("source")) === 4, 0L).otherwise(1L))
        .groupBy(col("keeper_prio").as("tier"))
        .agg(count(lit(1)).as("n_groups"),
          sum(col("n_copies") - 1).as("n_removed"),
          sum(col("keeper")).as("keeper_id_sum"))
    },
    Some("""
      WITH ranked AS (
        SELECT doc_id,
               CASE WHEN length(source) = 4 THEN 0 ELSE 1 END AS prio,
               row_number() OVER (
                 PARTITION BY substr(text, 1, 40)
                 ORDER BY CASE WHEN length(source) = 4 THEN 0 ELSE 1 END,
                          doc_id) AS rk,
               count(*) OVER (PARTITION BY substr(text, 1, 40)) AS n_copies
        FROM documents)
      SELECT CAST(prio AS BIGINT) AS tier,
             count(*) AS n_groups,
             CAST(sum(n_copies - 1) AS BIGINT) AS n_removed,
             CAST(sum(doc_id) AS BIGINT) AS keeper_id_sum
      FROM ranked WHERE rk = 1
      GROUP BY 1"""))

  val all: Seq[QueryDef] = Seq(
    exact, ngramJaccard, minhashLsh, simhash, embeddingNearDupLsh,
    embeddingNearDup, connectedComponents, incremental, admitBloom,
    repeatedSpansQuery, decontaminate, decontaminateSemantic,
    priorityKeeper)
}
