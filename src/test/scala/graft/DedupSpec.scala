package graft

import org.apache.spark.sql.functions._

/** Semantics checks for the near-dup pipelines that have no SQL oracle
  * (MinHash/SimHash use engine-specific xxhash64). Everything here is
  * deterministic — fixed fixture + fixed hash seeds — so exact assertions
  * are stable. */
class DedupSpec extends GraftSpecBase {

  private def jaccardPairs = operators.Dedup.ngramJaccard.run(spark, sfDir)
    .select(col("doc_a"), col("doc_b"), col("jaccard")).collect()
    .map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap

  private def minhashPairs = operators.Dedup.minhashLsh.run(spark, sfDir)
    .select(col("doc_a"), col("doc_b"), col("est_jaccard")).collect()
    .map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap

  test("minhash LSH finds every strong near-dup pair (true jaccard >= 0.6)") {
    val strong = jaccardPairs.filter(_._2 >= 0.6).keySet
    val found = minhashPairs.keySet
    assert(strong.nonEmpty, "fixture should contain strong near-dups")
    val missed = strong -- found
    assert(missed.isEmpty, s"minhash missed strong pairs: $missed")
  }

  test("minhash estimates are close to true jaccard on shared pairs") {
    val shared = minhashPairs.keySet intersect jaccardPairs.keySet
    assert(shared.nonEmpty)
    shared.foreach { p =>
      assert(math.abs(minhashPairs(p) - jaccardPairs(p)) <= 0.35,
        s"pair $p: est ${minhashPairs(p)} vs true ${jaccardPairs(p)}")
    }
  }

  test("simhash near-dup pairs have genuinely similar token sets") {
    val sim = operators.Dedup.simhash.run(spark, sfDir)
      .filter(col("hamming") <= 3)
      .select(col("doc_a"), col("doc_b")).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(sim.nonEmpty, "fixture should contain simhash near-dups")
    // hamming<=3 pairs should substantially overlap the true-jaccard pairs
    val jp = jaccardPairs.filter(_._2 >= 0.5).keySet
    val overlap = sim.toSet intersect jp
    assert(overlap.nonEmpty, "simhash pairs disjoint from jaccard truth")
  }

  test("simhash chunk buckets are exact for hamming <= 3 (kernel and " +
      "arithmetic fingerprints)") {
    val docs = Tables(spark, sfDir, "documents")
    type Pairs = (org.apache.spark.sql.DataFrame, String, String, Int) =>
      org.apache.spark.sql.DataFrame
    val paths: Seq[(String, org.apache.spark.sql.DataFrame, Pairs)] = Seq(
      ("kernel", operators.Dedup.simhashSigs(docs, "doc_id", "text"),
        operators.Dedup.simHashNearDup),
      ("arithmetic", operators.Dedup.simhashArithSigs(docs, "doc_id", "text"),
        operators.Dedup.simHashNearDupArith))
    paths.foreach { case (name, sigs, pairs) =>
      val fp = sigs.filter(col("simhash").isNotNull).collect()
        .map(r => (r.getLong(0), r.getLong(1)))
      assert(fp.length >= 500, s"$name: ${fp.length} fingerprints")
      // every unordered pair of the same fingerprints, by brute force
      val all = for {
        (a, fa) <- fp; (b, fb) <- fp if a < b
      } yield (a, b, java.lang.Long.bitCount(fa ^ fb).toLong)
      (0 to 3).foreach { k =>
        val want = all.filter(_._3 <= k).toSet
        val got = pairs(docs, "doc_id", "text", k).collect()
          .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
        assert(got == want, s"$name, hamming <= $k: missing " +
          s"${(want -- got).take(5)}, extra ${(got -- want).take(5)}")
        if (k == 3) assert(want.nonEmpty, s"$name: no pair within hamming 3")
      }
    }
    spark.catalog.clearCache()
  }

  test("exact dedup counts are consistent") {
    val r = operators.Dedup.exact.run(spark, sfDir).head
    val nUnique = r.getAs[Long]("n_unique")
    val nTotal = r.getAs[Long]("n_total")
    val nRemoved = r.getAs[Long]("n_removed")
    assert(nTotal == nUnique + nRemoved)
    assert(nTotal == Tables(spark, sfDir, "documents").count())
  }

  test("LSH embedding near-dup: exact precision, bounded recall loss") {
    def pairs(q: QueryDef) = q.run(spark, sfDir)
      .select(col("id_a"), col("id_b"), col("cos")).collect()
      .map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    val brute = pairs(operators.Dedup.embeddingNearDup)
    val lsh = pairs(operators.Dedup.embeddingNearDupLsh)
    assert(brute.nonEmpty, "fixture should contain near-dup embeddings")
    // precision is exact: every LSH pair is a true pair with the same cosine
    lsh.foreach { case (k, cos) =>
      assert(brute.contains(k) && brute(k) == cos, s"false positive $k")
    }
    // recall: two decorrelated 6-bit tables with hamming<=2 multi-probe
    // must find the large majority of true pairs
    val recall = lsh.size.toDouble / brute.size
    assert(recall >= 0.7, s"recall $recall (${lsh.size}/${brute.size})")
  }

  test("componentLabels converges on a 200-diameter chain (pointer jumping)") {
    // a path graph 0-1-2-...-200 has diameter 200: plain min-label
    // propagation needs 200 rounds, the pointer-jumping variant O(log n).
    // Plus a disjoint 3-cycle to check component separation.
    val s = spark; import s.implicits._
    val chain = (0L until 200L).map(i => (i, i + 1))
    val cycle = Seq((1000L, 1001L), (1001L, 1002L), (1002L, 1000L))
    val pairs = (chain ++ cycle).toDF("doc_a", "doc_b")
    val labels = operators.Dedup.componentLabels(pairs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(labels.size == 204)
    (0L to 200L).foreach(d => assert(labels(d) == 0L, s"doc $d"))
    Seq(1000L, 1001L, 1002L).foreach(d => assert(labels(d) == 1000L))
  }

  test("componentLabels throws instead of emitting wrong clusters at cap") {
    val s = spark; import s.implicits._
    val pairs = (0L until 40L).map(i => (i, i + 1)).toDF("doc_a", "doc_b")
    // diameter 40 > 2^2: a 2-round cap must fail loudly, not return garbage
    val e = intercept[IllegalStateException] {
      operators.Dedup.componentLabels(pairs, maxRounds = 2).collect()
    }
    assert(e.getMessage.contains("did not converge"))
  }

  // componentLabels runs its rounds on the driver when the pair list fits
  // under spark.sql.autoBroadcastJoinThreshold (the tests above) and as
  // Spark jobs otherwise; a session with the threshold off forces the jobs
  private def distributed = {
    val s = spark.newSession()
    s.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    s
  }

  /** seeded chains, stars, cycles and disjoint pairs over shuffled ids,
    * plus one pair with a null id */
  private def graph(seed: Long): Seq[(Option[Long], Option[Long])] = {
    val rnd = new scala.util.Random(seed)
    val ids = rnd.shuffle((1L to 400L).toVector).iterator
    def next(n: Int) = Vector.fill(n)(ids.next())
    val chains = (1 to 3).flatMap { _ =>
      val c = next(2 + rnd.nextInt(30)); c.zip(c.tail) }
    val stars = (1 to 3).flatMap { _ =>
      val c = next(2 + rnd.nextInt(8)); c.tail.map(c.head -> _) }
    val cycles = (1 to 2).flatMap { _ =>
      val c = next(3 + rnd.nextInt(6)); c.zip(c.tail :+ c.head) }
    val disjoint = (1 to 5).map(_ => next(2)).map(c => (c(0), c(1)))
    val pairs = rnd.shuffle(chains ++ stars ++ cycles ++ disjoint)
      .map { case (a, b) => if (rnd.nextBoolean()) (a, b) else (b, a) }
    pairs.map { case (a, b) => (Option(a), Option(b)) } :+
      (Option(ids.next()), Option.empty[Long])
  }

  private def labelsIn(s: org.apache.spark.sql.SparkSession,
      rows: Seq[org.apache.spark.sql.Row],
      t: org.apache.spark.sql.types.DataType) = {
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(StructField("doc_a", t), StructField("doc_b", t)))
    operators.Dedup.componentLabels(
      s.createDataFrame(java.util.Arrays.asList(rows: _*), schema))
  }

  private def sameOnBothPaths(rows: Seq[org.apache.spark.sql.Row],
      t: org.apache.spark.sql.types.DataType) = {
    import org.apache.spark.sql.execution.LogicalRDD
    val local = labelsIn(spark, rows, t)
    val jobs = labelsIn(distributed, rows, t)
    // the driver path's frame is the RDD itself; the distributed one
    // projects the last round's checkpoint
    assert(local.queryExecution.analyzed.isInstanceOf[LogicalRDD])
    assert(!jobs.queryExecution.analyzed.isInstanceOf[LogicalRDD])
    assert(local.schema == jobs.schema)
    val got = local.collect().toSet
    assert(got == jobs.collect().toSet)
    assert(got.size == local.count())
    got.map(r => r.get(0) -> r.get(1)).toMap
  }

  test("componentLabels: driver and distributed rounds agree (Long ids)") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types.LongType
    for (seed <- 1L to 3L) {
      val g = graph(seed)
      val labels = sameOnBothPaths(g.map { case (a, b) =>
        Row(a.map(Long.box).orNull, b.map(Long.box).orNull) }, LongType)
      assert(labels(null) == null)
      g.collect { case (Some(a), Some(b)) =>
        assert(labels(a) == labels(b), s"seed $seed: $a and $b split") }
    }
  }

  test("componentLabels: driver and distributed rounds agree (String ids, " +
      "Spark's UTF-8 order)") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types.StringType
    // U+FF61 sorts before U+1F600 in UTF-8 bytes (EF.. < F0..) but after
    // it in UTF-16 units (FF61 > D83D): the label is the UTF-8 minimum
    val (halfwidth, emoji) = ("\uFF61", "\uD83D\uDE00")
    assert(emoji.compareTo(halfwidth) < 0)
    val g = graph(7).map { case (a, b) =>
      Row(a.map(i => s"n$i").orNull, b.map(i => s"n$i").orNull) } :+
      Row(emoji, halfwidth)
    val labels = sameOnBothPaths(g, StringType)
    assert(labels(emoji) == halfwidth && labels(halfwidth) == halfwidth)
  }

  test("componentLabels throws at the cap on the distributed path too") {
    val s = distributed; import s.implicits._
    val pairs = (0L until 40L).map(i => (i, i + 1)).toDF("doc_a", "doc_b")
    val e = intercept[IllegalStateException] {
      operators.Dedup.componentLabels(pairs, maxRounds = 2).collect()
    }
    assert(e.getMessage.contains("did not converge"))
  }

  test("componentLabels on the driver starts the same few jobs at any " +
      "diameter") {
    val s = spark; import s.implicits._
    def jobs(diameter: Long) = jobsDuring(operators.Dedup.componentLabels(
      (0L until diameter).map(i => (i, i + 1)).toDF("doc_a", "doc_b")))
    val (short, long) = (jobs(4), jobs(200))
    assert(short == long && long <= 4, s"$short vs $long jobs")
  }

  // --- incremental admission -------------------------------------------

  private val baseText = ("the quick brown fox jumps over a lazy dog while " +
    "seventy distinct tokens keep the shingle space busy enough for " +
    "minhash signatures to estimate jaccard similarity with useful " +
    "resolution across this deliberately repetitive sentence").trim

  test("exactAdmit drops intra-batch and vs-corpus exact duplicates only") {
    val s = spark; import s.implicits._
    val corpus = Seq((1L, baseText + " alpha"), (2L, baseText + " beta"))
      .toDF("doc_id", "text")
    val batch = Seq(
      (100L, baseText + " alpha"), // exact dup of corpus 1 → dropped
      (101L, baseText + " gamma"), // new → kept
      (102L, baseText + " gamma"), // intra-batch dup of 101 → dropped
      (103L, baseText.replace("quick", "rapid") + " alpha") // near-dup → KEPT (exact stage only)
    ).toDF("doc_id", "text")
    val got = operators.Dedup.exactAdmit(corpus, batch, "doc_id", "text")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(got == Set(101L, 103L))
  }

  test("bloom admission equals the exact anti-join and actually prunes") {
    import org.apache.spark.sql.functions._
    plans.GraftFunctions.ensureRegistered(spark)
    val docs = Tables(spark, sfDir, "documents")
    val corpus = docs.filter(col("doc_id") % 4 =!= 0)
    val batch = docs.filter(col("doc_id") % 4 === 0)
    val got = operators.Dedup.admitBatchBloom(corpus, batch,
        estimatedItems = 1024L, numBits = 1L << 13)
      .select(col("doc_id")).collect().map(_.getLong(0)).toSet
    // ground truth: batch-internal keeper per fingerprint, anti corpus fps
    val keepers = batch.withColumn("__fp", md5(col("text").cast("binary")))
      .groupBy(col("__fp")).agg(min(col("doc_id")).as("doc_id"))
    val want = keepers.join(
        corpus.select(md5(col("text").cast("binary")).as("__fp")).distinct(),
        Seq("__fp"), "left_anti")
      .collect().map(_.getAs[Long]("doc_id")).toSet
    assert(got == want, s"bloom routing changed the admitted set: " +
      s"extra=${got -- want} missing=${want -- got}")
    // no false negatives means every true duplicate fingerprint reads
    // "maybe" — so a tiny filter (worse FP rate) may only shrink the
    // definite-new side, never admit a duplicate
    val tiny = operators.Dedup.admitBatchBloom(corpus, batch,
        estimatedItems = 16L, numBits = 256L)
      .select(col("doc_id")).collect().map(_.getLong(0)).toSet
    assert(tiny == want, "FP-heavy filter must still confirm exactly")
  }

  test("repeatedSpans: shared block found, run merged to its exact extent") {
    val s = spark; import s.implicits._
    val shared = "the quick brown fox jumps over the lazy dog again and " +
      "again." // 60 chars
    assert(shared.length == 60)
    val docs = Seq(
      (1L, shared + " unique tail alpha goes here padding padding one"),
      (2L, shared + " another completely different ending two padding"),
      (3L, "no overlap with anything else at all in this document xyz")
    ).toDF("doc_id", "text")
    val out = operators.Dedup.repeatedSpans(docs, window = 40, stride = 10)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    // windows at pos 0/10/20 sit fully inside the shared 60-char block →
    // 3 repeated spans per doc, merged into one 20-0+40 = 60-char run
    assert(out(1L)._2 == 3 && out(1L)._3 == 60, s"doc1: ${out(1L)}")
    assert(out(2L)._2 == 3 && out(2L)._3 == 60, s"doc2: ${out(2L)}")
    assert(out(3L)._2 == 0 && out(3L)._3 == 0, s"doc3: ${out(3L)}")
    // span totals: floor((len - 40) / 10) + 1
    docs.collect().foreach { r =>
      val want = (r.getString(1).length - 40) / 10 + 1
      assert(out(r.getLong(0))._1 == want.toLong)
    }
  }

  test("admitBatch additionally drops near-duplicates of corpus docs") {
    val s = spark; import s.implicits._
    val corpus = Seq((1L, baseText + " alpha"), (2L, baseText + " beta"))
      .toDF("doc_id", "text")
    val batch = Seq(
      (100L, baseText + " alpha"),                           // exact vs corpus
      (101L, "completely unrelated content about maritime navigation and " +
        "celestial charts drawn by eighteenth century cartographers"),
      (103L, baseText.replace("quick", "rapid") + " alpha")  // near-dup of 1
    ).toDF("doc_id", "text")
    val got = operators.Dedup.admitBatch(corpus, batch, "doc_id", "text")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(got == Set(101L), s"got $got")
  }

  test("keepBest: highest-priority tier wins, id breaks ties, one keeper " +
      "per group") {
    val s = spark; import s.implicits._
    val docs = Seq(
      // group "g1": web copy has the LOWEST id but curated must win
      (10L, "g1", "web"), (11L, "g1", "curated"), (12L, "g1", "curated"),
      // group "g2": web-only → lowest id wins within the tier
      (20L, "g2", "web"), (21L, "g2", "web"),
      // group "g3": singleton
      (30L, "g3", "curated")
    ).toDF("doc_id", "blk", "src")
    val out = ops.dedupKeepBest(docs, col("blk"),
        when(col("src") === "curated", 0L).otherwise(1L))
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    assert(out("g1") == ((11L, 0L, 3L)),
      "curated beats web despite higher id; min id within curated")
    assert(out("g2") == ((20L, 1L, 2L)), "tier tie → lowest id")
    assert(out("g3") == ((30L, 0L, 1L)))
    assert(out.size == 3, "exactly one keeper row per group")
  }
}
