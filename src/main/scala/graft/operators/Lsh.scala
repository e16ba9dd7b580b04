package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** The candidate stages of the near-duplicate and similarity layer, each
  * laid out once, for Spark and for the DuckDB oracle that replays it.
  * Candidates form only inside shared buckets (one shuffle on the bucket
  * key, never all-pairs); each caller then verifies its candidates exactly.
  *
  *  - Sign-projection index: a 12-bit `sign_proj` signature (native
  *    kernel, integer-derived hyperplanes, so DuckDB reproduces every bit)
  *    split into TWO independent 6-bit hash tables (the OR-construction: a
  *    pair is a candidate if it collides in EITHER table, squaring the miss
  *    probability). A vector lands in its 2 home buckets, or probes all 22
  *    buckets within hamming 2 of home in each table (44 probes). Used by
  *    the embedding near-dup scale path, semantic decontamination, LSH ANN
  *    and hard-negative mining.
  *  - MinHash banding: a signature cut into bands of consecutive hashes,
  *    one row per (doc, band) keyed by a band-key function, joined on
  *    (band, key) and scored by signature agreement. Used by both MinHash
  *    near-dup paths and batch admission.
  *  - SimHash chunks: a fingerprint cut into 4 chunks of `width` bits. By
  *    pigeonhole two fingerprints within hamming 3 agree on at least one
  *    chunk, so the chunk equi-join plus the bit_count(xor) check is exact.
  */
object Lsh {

  // ---- sign-projection index ----

  private val P1 = graft.functions.SignProjection.P1
  private val P2 = graft.functions.SignProjection.P2

  /** Signature width: two 6-bit tables. */
  private val sigBits = 12

  /** The 12-bit signature of embedding column `emb` (native codegen
    * kernel: one JIT-compiled bits×dims loop per row). */
  def signature(emb: String): Column = expr(s"sign_proj($emb, $sigBits)")

  // Hyperplanes h(i,j) = ((i·P1 XOR j·P2) mod 2001 − 1000)/1000: pure
  // integer arithmetic, reproducible in any engine (see SignProjection's
  // scaladoc for why the mix is XOR, not addition).
  private def duckDot(i: Int, emb: String): String =
    s"""list_reduce(list_transform(range(len($emb)),
        j -> CAST($emb[j+1] AS DOUBLE) *
             (CAST(xor(${i * P1}, j * $P2) % 2001 - 1000 AS DOUBLE)
              / 1000.0)),
        (p, q) -> p + q)"""

  /** DuckDB mirror of [[signature]]: identical integer hyperplanes. */
  def duckSignature(emb: String): String =
    (0 until sigBits)
      .map(i => s"(CASE WHEN ${duckDot(i, emb)} > 0.0 THEN ${1 << i} ELSE 0 END)")
      .mkString("(", " + ", ")")

  /** Table t's 6-bit slice of `sig`, Spark and DuckDB. */
  private def slice(t: Int): Column =
    if (t == 0) expr("sig % 64") else expr("sig div 64")
  private def duckSlice(t: Int): String =
    if (t == 0) "sig % 64" else "sig // 64"

  /** The 22 six-bit masks within hamming 2 of zero: 1 + 6 + 15. */
  private val probeMasks: Seq[Long] =
    0L +: ((0 until 6).map(i => 1L << i) ++
      (for { i <- 0 until 6; j <- i + 1 until 6 } yield (1L << i) | (1L << j)))

  /** Table-qualified bucket key: t*64 + (table t's slice XOR mask). */
  private def bucket(t: Int, mask: Long): Column =
    (lit(t * 64L) + slice(t).cast("long").bitwiseXOR(lit(mask))).cast("long")

  /** One `bucket` row per home bucket of the `sig` column (2 rows): the
    * side that is stored, typically the corpus. */
  def homeBuckets: Column =
    explode(array(bucket(0, 0L), bucket(1, 0L))).as("bucket")

  /** One `bucket` row per probed bucket of the `sig` column (44 rows): the
    * side that searches, typically the small one. */
  def probeBuckets: Column =
    explode(array((for { t <- 0 to 1; m <- probeMasks } yield bucket(t, m)): _*))
      .as("bucket")

  /** DuckDB twin of [[homeBuckets]], an `unnest([...])` over `sig`. */
  def duckHomeBuckets: String =
    (0 to 1).map(t => s"${t * 64} + ${duckSlice(t)}")
      .mkString("unnest([", ", ", "])")

  /** DuckDB twin of [[probeBuckets]], an `unnest([...])` over `sig`. */
  def duckProbeBuckets: String =
    (for { t <- 0 to 1; m <- probeMasks } yield
      s"${t * 64} + xor(${duckSlice(t)}, $m)").mkString("unnest([", ", ", "])")

  // ---- MinHash banding ----

  /** A band key: the join-key column `name` and how band number and the
    * band's signature entries make it. */
  final case class BandKey(name: String, of: (Int, Seq[Column]) => Column)

  /** xxhash64 over (band, entries): one long per band, the kernel path. */
  val hashKey = BandKey("band_hash",
    (band, entries) => xxhash64(lit(band) +: entries: _*))

  /** The entries themselves as a struct: plain values any engine compares
    * the same way, the arithmetic path. */
  val structKey = BandKey("band_key", (_, entries) =>
    struct(entries.zipWithIndex.map { case (e, j) => e.as(s"k$j") }: _*))

  /** (doc_id, sig, band_id, key column), one row per band of `sigs`'
    * `hashes`-long `sig`: band b holds entries b·rows … b·rows + rows − 1.
    * The signature rides along so pairs need no re-join against `sigs`. */
  def banded(sigs: DataFrame, hashes: Int, bands: Int, key: BandKey)
      : DataFrame = {
    val rows = hashes / bands
    sigs.select(col("doc_id"), col("sig"), posexplode(
      array((0 until bands).map(b => key.of(b,
        (0 until rows).map(j => element_at(col("sig"), b * rows + j + 1)))): _*))
      .as(Seq("band_id", key.name)))
  }

  /** [[banded]] frames aliased `x` and `y` share a band bucket. */
  def sameBucket(key: BandKey): Column =
    col("x.band_id") === col("y.band_id") &&
      col(s"x.${key.name}") === col(s"y.${key.name}")

  /** Fraction of the `hashes` signature positions on which `x` and `y`
    * agree: the MinHash estimate of Jaccard similarity. */
  def agreement(x: Column, y: Column, hashes: Int): Column =
    aggregate(zip_with(x, y, (p, q) => when(p === q, 1).otherwise(0)),
      lit(0), _ + _).cast("double") / hashes.toDouble

  /** The banded self-join: (doc_a < doc_b, est_jaccard) pairs of `sigs`
    * that share a [[banded]] bucket and agree on ≥ `threshold` of `hashes`
    * positions. The score is computed BEFORE pair dedup (scoring is cheap;
    * deduping first would shuffle both signatures per candidate row), so
    * survivors — ids and score only — dedup in a near-empty exchange. */
  def bandPairs(sigs: DataFrame, hashes: Int, bands: Int, key: BandKey,
      threshold: Double): DataFrame = {
    val b = banded(sigs, hashes, bands, key)
    b.as("x")
      .join(b.as("y"),
        sameBucket(key) && col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"),
        agreement(col("x.sig"), col("y.sig"), hashes).as("est_jaccard"))
      .filter(col("est_jaccard") >= threshold)
      .dropDuplicates("doc_a", "doc_b")
  }

  /** DuckDB twin of [[banded]] over the one-column-per-hash table `from`
    * (m0 … m{hashes−1}): band b's entries are k0 … k{rows−1}, and every
    * row carries the whole signature. */
  def duckBands(hashes: Int, bands: Int, from: String): String = {
    val rows = hashes / bands
    val sigCols = (0 until hashes).map(i => s"m$i").mkString(", ")
    (0 until bands).map { b =>
      val keys = (0 until rows).map(j => s"m${b * rows + j} AS k$j")
        .mkString(", ")
      s"SELECT doc_id, $b AS band_id, $keys, $sigCols FROM $from"
    }.mkString(" UNION ALL ")
  }

  /** DuckDB twin of [[sameBucket]]'s key half over [[duckBands]] rows. */
  def duckSameKey(hashes: Int, bands: Int): String =
    (0 until hashes / bands).map(j => s"x.k$j = y.k$j").mkString(" AND ")

  /** DuckDB twin of [[agreement]]'s numerator over [[duckBands]] rows. */
  def duckMatches(hashes: Int): String =
    (0 until hashes).map(i => s"CASE WHEN x.m$i = y.m$i THEN 1 ELSE 0 END")
      .mkString(" + ")

  // ---- SimHash chunks ----

  /** (doc_a < doc_b, hamming) pairs of `fingerprints` (doc_id, simhash)
    * within `maxHamming` ≤ 3 bits, through 4 chunk buckets of `width` bits:
    * exact when the fingerprint's bits all lie in the 4 chunks. The hamming
    * filter runs BEFORE pair dedup so the distinct shuffles survivors only.
    * `fingerprints` is persisted: the chunk self-join reads it twice. */
  def chunkPairs(fingerprints: DataFrame, width: Int,
      maxHamming: Int): DataFrame = {
    require(maxHamming >= 0 && maxHamming <= 3,
      s"pigeonhole guarantee holds only for maxHamming <= 3, got $maxHamming")
    val chunks = fingerprints.persist()
      .select(col("doc_id"), col("simhash"), posexplode(
        array((0 until 4).map(k =>
          expr(s"shiftright(simhash, ${width * k}) & ${(1L << width) - 1}")): _*))
        .as(Seq("chunk_id", "chunk_val")))
    chunks.as("x")
      .join(chunks.as("y"),
        col("x.chunk_id") === col("y.chunk_id") &&
          col("x.chunk_val") === col("y.chunk_val") &&
          col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"),
        expr("bit_count(x.simhash ^ y.simhash)").cast("long").as("hamming"))
      .filter(col("hamming") <= maxHamming)
      .distinct()
  }

  /** DuckDB twin of [[chunkPairs]]' chunk rows over the (doc_id, simhash)
    * table `from`. */
  def duckChunks(width: Int, from: String): String =
    (0 until 4).map(k =>
      s"SELECT doc_id, simhash, $k AS chunk_id, (simhash >> ${width * k}) & ${(1L << width) - 1} AS chunk_val FROM $from")
      .mkString(" UNION ALL ")
}
