package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.graft.Bridge

/** Library-level operator API built on the custom Catalyst machinery. */
object ops {

  /** Cosine top-k join: for each row of `queries` (id, embedding), the k
    * nearest rows of `candidates` (id, embedding) by cosine similarity.
    * Plans via [[graft.plans.CosineTopKJoin]] → broadcast cross + codegen'd
    * score + per-query window (see ResolveCosineTopK). `queries` must be
    * broadcast-sized; `candidates` streams at any scale. */
  def cosineTopK(queries: DataFrame, candidates: DataFrame, k: Int): DataFrame =
    Bridge.ofRows(
      queries.sparkSession,
      graft.plans.CosineTopKJoin(
        queries.queryExecution.analyzed,
        candidates.queryExecution.analyzed,
        k))

  /** As-of (nearest-prior) join — see [[graft.operators.AsOf.asOfJoin]]:
    * union + last-ignoring-nulls window, ONE shuffle on the key, never an
    * inequality-join blowup. */
  def asOfJoin(
      left: DataFrame, right: DataFrame,
      key: String, ts: String,
      payload: org.apache.spark.sql.Column, payloadName: String): DataFrame =
    graft.operators.AsOf.asOfJoin(left, right, key, ts, payload, payloadName)

  /** Interval (range) join at scale: rows of `points` whose `ptCol` falls in
    * `[loCol, hiCol]` of `intervals`. A naive theta join plans as a nested
    * loop (O(|L|·|R|)); this composes existing operators instead: bucketize
    * the point, explode each interval into every bucket it overlaps, equi-
    * join on the bucket (ONE shuffle, hash-partitioned), then apply the
    * exact predicate. Interval rows replicate once per overlapped bucket —
    * choose `bucketWidth` near the typical interval length so replication
    * stays O(1) per row. Column names must be distinct across the inputs. */
  /** MinHash + LSH near-dup candidate pairs over any document frame — see
    * [[graft.operators.Dedup.minHashNearDup]]: shingle → k minhashes →
    * banded bucket join → agreement-score filter; one shuffle on the band
    * hash, never all-pairs. Returns `(doc_a, doc_b, est_jaccard)`.
    * Caching contract: the signature table is persist()ed (read by both
    * sides of the band join); release it with `spark.catalog.clearCache()`
    * after the consuming action, same as [[dsirWeights]]. */
  def minHashNearDup(
      docs: DataFrame, idCol: String, textCol: String,
      threshold: Double = 0.25, hashes: Int = 32, bands: Int = 8): DataFrame =
    graft.operators.Dedup.minHashNearDup(
      docs, idCol, textCol, threshold, hashes, bands)

  /** Deterministic blocked n-gram Jaccard near-dup pairs — see
    * [[graft.operators.Dedup.ngramJaccardPairs]]: exact set similarity on
    * word-3-gram shingles, candidates restricted to a cheap blocking key
    * (never all-pairs), integer-ratio scores reproducible in any engine.
    * Returns `(doc_a, doc_b, jaccard)`; the curation pipeline's default
    * near-dup stage. */
  def ngramJaccardPairs(
      docs: DataFrame, idCol: String, textCol: String): DataFrame =
    graft.operators.Dedup.ngramJaccardPairs(docs, idCol, textCol)

  /** Canonical-copy selection: dedup keeping the BEST copy per duplicate
    * group — copies rank by `priority` (lower wins; e.g. curated source
    * over web crawl), ties by id. One min-struct hash aggregate, no window
    * sort — see [[graft.operators.Dedup.keepBest]]. Returns
    * `(grp, keeper, keeper_prio, n_copies)`. */
  def dedupKeepBest(docs: DataFrame, groupKey: org.apache.spark.sql.Column,
      priority: org.apache.spark.sql.Column,
      idCol: String = "doc_id"): DataFrame =
    graft.operators.Dedup.keepBest(docs, groupKey, priority, idCol)

  /** SimHash near-dup candidate pairs over any document frame — see
    * [[graft.operators.Dedup.simHashNearDup]]: 64-bit majority fingerprint,
    * 4×16-bit pigeonhole chunk buckets, exact hamming verification.
    * Returns `(doc_a, doc_b, hamming)`. */
  def simHashNearDup(
      docs: DataFrame, idCol: String, textCol: String,
      maxHamming: Int = 3): DataFrame =
    graft.operators.Dedup.simHashNearDup(docs, idCol, textCol, maxHamming)

  /** Connected components over an undirected `(doc_a, doc_b)` pair list —
    * see [[graft.operators.Dedup.componentLabels]]: min-label propagation
    * with pointer jumping, O(log diameter) rounds, hard failure instead of
    * silently-wrong clusters at the round cap. Eager: the pair plan runs
    * once, here; a list under `spark.sql.autoBroadcastJoinThreshold` is
    * labelled in driver memory, a larger one by one Spark job per round.
    * Compose after [[minHashNearDup]] to turn candidate pairs into dedup
    * groups. */
  def nearDupClusters(pairs: DataFrame, maxRounds: Int = 25): DataFrame =
    graft.operators.Dedup.componentLabels(pairs, maxRounds)

  /** Deterministic content-keyed train/val/test split column — see
    * [[graft.operators.Sampling.withHashSplit]]: duplicate-safe, engine-
    * stable, pure map stage. */
  def withHashSplit(
      df: DataFrame, contentCol: String, splitCol: String = "split",
      trainNibbles: Int = 12, valNibbles: Int = 2): DataFrame =
    graft.operators.Sampling.withHashSplit(
      df, contentCol, splitCol, trainNibbles, valNibbles)

  /** Deterministic stratified quota sample — see
    * [[graft.operators.Sampling.stratifiedSample]]: n rows per stratum in
    * content-hash order, rank limit pushed ahead of the shuffle. */
  def stratifiedSample(
      df: DataFrame, stratumCol: String, contentCol: String,
      tiebreakCol: String, n: Int): DataFrame =
    graft.operators.Sampling.stratifiedSample(
      df, stratumCol, contentCol, tiebreakCol, n)

  /** PII-style scrub column (emails, digit runs) — see
    * [[graft.operators.Sampling.scrubbed]]. */
  def scrubbed(text: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    graft.operators.Sampling.scrubbed(text)

  /** Exact per-group quota selection without per-group sorts (bucket census
    * + boundary-bucket ranking) — see
    * [[graft.operators.Sampling.quotaSelect]]. `budgets` carries
    * (groupCol, budget). */
  def quotaSelect(
      df: DataFrame, groupCol: String, contentCol: String,
      tiebreakCol: String, budgets: DataFrame): DataFrame =
    graft.operators.Sampling.quotaSelect(
      df, groupCol, contentCol, tiebreakCol, budgets)

  /** Curriculum sharding: global score-quantile shard assignment
    * (easy→hard epochs) via a score-domain-bounded census — the corpus
    * never sorts, only map-joins the tiny score→shard table — see
    * [[graft.operators.Sampling.curriculumShards]]. `scoreCol` must be a
    * bounded-domain integer difficulty score. Adds `shard`. */
  def curriculumShards(df: DataFrame, scoreCol: String,
      nShards: Int): DataFrame =
    graft.operators.Sampling.curriculumShards(df, scoreCol, nShards)

  /** TOKEN-weighted quota selection — [[quotaSelect]]'s sibling where the
    * budget caps summed tokens per group (the unit pre-training mixtures
    * are specified in); maximal hash-order prefix ≤ budget — see
    * [[graft.operators.Sampling.tokenQuotaSelect]]. `budgets` carries
    * (groupCol, budget). Caching contract: the ≤|G|·256-row boundary
    * census is persist()ed (read by both union branches); release with
    * `spark.catalog.clearCache()` after the consuming action, same as
    * [[dsirWeights]]. */
  def tokenQuotaSelect(df: DataFrame, groupCol: String, contentCol: String,
      tiebreakCol: String, tokensCol: String,
      budgets: DataFrame): DataFrame =
    graft.operators.Sampling.tokenQuotaSelect(
      df, groupCol, contentCol, tiebreakCol, tokensCol, budgets)

  /** Near-dup-leakage-safe train/val/test split: every near-duplicate
    * cluster splits as a unit (members key off the representative's
    * content), so no near-dup pair can straddle train/test — see
    * [[graft.operators.Sampling.leakageSafeSplit]]. */
  def leakageSafeSplit(docs: DataFrame, idCol: String = "doc_id",
      textCol: String = "text", threshold: Double = 0.5,
      splitCol: String = "split"): DataFrame =
    graft.operators.Sampling.leakageSafeSplit(
      docs, idCol, textCol, threshold, splitCol)

  /** Exact-budget mixture construction with oversampling (multi-epoch
    * tiers repeat, web tiers subsample; output hits each group's budget
    * EXACTLY) — see [[graft.operators.Sampling.oversampleMix]]. `budgets`
    * carries (groupCol, budget); returns input columns + `copy_n`. */
  def oversampleMix(df: DataFrame, groupCol: String, contentCol: String,
      tiebreakCol: String, budgets: DataFrame): DataFrame =
    graft.operators.Sampling.oversampleMix(
      df, groupCol, contentCol, tiebreakCol, budgets)

  /** DSIR-style importance resampling weights: per-pool-doc
    * log p_target − log p_raw under two unigram models in integer bits —
    * see [[graft.operators.Sampling.dsirWeights]]. Returns
    * `(idCol, weight_bits, n_tokens)`; rank by weight DESC for the most
    * target-like documents.
    *
    * Caching contract: the two vocab-bounded unigram model tables backing
    * the returned frame are persist()ed (so each corpus explode+count runs
    * once). After the consuming action, release them with
    * `spark.catalog.clearCache()` (or unpersist the specific tables) —
    * repeated calls otherwise accumulate cached model tables. */
  def dsirWeights(pool: DataFrame, target: DataFrame,
      textCol: String = "text", idCol: String = "doc_id"): DataFrame =
    graft.operators.Sampling.dsirWeights(pool, target, textCol, idCol)

  /** Streaming near-dup flagging at ingest (LSH band buckets as keyed
    * state) — see [[graft.streaming.DocIngest.nearDupMatches]]. */
  def streamingNearDup(
      docs: org.apache.spark.sql.Dataset[graft.streaming.DocIngest.DocIn],
      threshold: Double = 0.25)
      : org.apache.spark.sql.Dataset[graft.streaming.DocIngest.DupMatch] =
    graft.streaming.DocIngest.nearDupMatches(docs, threshold)

  /** End-to-end document curation (gate → exact dedup → near-dup cluster
    * representatives) — see [[graft.operators.DocPipeline.curatedDocs]]. */
  def curatedDocs(
      docs: DataFrame, minQuality: Double = 0.7,
      langs: Seq[String] = Seq("en", "fr", "es", "de"),
      jaccard: Double = 0.5,
      nearDup: String = "ngram"): DataFrame =
    graft.operators.DocPipeline.curatedDocs(
      docs, minQuality, langs, jaccard, nearDup)

  /** Incremental admission of a new document batch against an already
    * deduplicated corpus — see [[graft.operators.Dedup.admitBatch]]:
    * intra-batch exact dedup, fingerprint anti-join vs the corpus, then a
    * MinHash-LSH near-dup check against the corpus band index (batch×corpus
    * candidates only, never corpus×corpus). Returns the genuinely new rows. */
  def admitBatch(
      corpus: DataFrame, batch: DataFrame,
      idCol: String, textCol: String,
      threshold: Double = 0.25, hashes: Int = 32, bands: Int = 8): DataFrame =
    graft.operators.Dedup.admitBatch(
      corpus, batch, idCol, textCol, threshold, hashes, bands)

  /** Z-order (Morton) multi-column clustering for write-side scan pruning —
    * see [[graft.operators.Layout.zorderWrite]]: min-max bucketize each
    * column, sort by the codegen'd bit-interleave, ONE range shuffle.
    * Tightens per-file min-max ranges on EVERY participating column so box
    * predicates skip files on all dimensions at once. */
  def zorderWrite(
      df: DataFrame, cols: Seq[String], path: String,
      files: Int, bits: Int = 8): Unit =
    graft.operators.Layout.zorderWrite(df, cols, path, files, bits)

  /** Benchmark decontamination — contaminated `test` docs sharing verbatim
    * word n-grams with `train` (see
    * [[graft.operators.Dedup.decontaminateDocs]]): distinct per-doc n-grams
    * via the codegen kernel, hot grams capped at `maxDf` train-side
    * document frequency BEFORE the join, one gram shuffle, no Expand.
    * Returns (idCol, n_shared_grams, n_train_docs) per contaminated doc. */
  def decontaminate(
      train: DataFrame, test: DataFrame, idCol: String, textCol: String,
      n: Int = 4, maxDf: Long = 1000): DataFrame =
    graft.operators.Dedup.decontaminateDocs(train, test, idCol, textCol,
      n, maxDf)

  /** Per-group top-k via the custom physical operator
    * [[graft.plans.TopKPerGroupExec]]: ONE hash shuffle on the group key,
    * then bounded per-group min-heaps — O(n log k) with k×groups state,
    * instead of the window formulation's full per-partition sort. `tieCol`
    * must be unique within a group (defines the exact top-k set). Rows come
    * back unordered; sort afterwards if presentation order matters. */
  def topKPerGroup(
      df: DataFrame, groupCols: Seq[String], valueCol: String,
      tieCol: String, k: Int): DataFrame = {
    graft.plans.GraftFunctions.ensureRegistered(df.sparkSession)
    Bridge.ofRows(
      df.sparkSession,
      graft.plans.TopKPerGroup(groupCols, valueCol, tieCol, k,
        df.queryExecution.analyzed))
  }

  /** Distributed Lloyd's k-means over an `array<tinyint>` embedding column
    * — exact integer arithmetic, deterministic lowest-id seeding; returns
    * (id, cluster, dist2). Assignment is a narrow map (centroids ride the
    * closure), updates shuffle only partitions·k·d pre-combined rows. See
    * [[graft.operators.Clustering.kmeansI8]]. */
  def kmeansI8(quantized: DataFrame, idCol: String, vecCol: String,
      k: Int, iters: Int): DataFrame =
    operators.Clustering.kmeansI8(quantized, idCol, vecCol, k, iters)

  /** Semantic deduplication (SemDeDup): k-means-cluster the embedding
    * corpus, then drop members whose cosine to a farther-from-centroid
    * clustermate reaches `tau` — pairwise work bounded to within-cluster
    * pairs, joined on the cluster id (one hash shuffle, never corpus²).
    * Returns (id, cluster, kept, max_prior_sim). See
    * [[graft.operators.Clustering.semDedup]]. */
  def semDedup(emb: DataFrame, idCol: String, embCol: String,
      k: Int, iters: Int, tau: Double): DataFrame =
    operators.Clustering.semDedup(emb, idCol, embCol, k, iters, tau)

  /** Repeated-substring span discovery (character-grain intra-corpus
    * dedup signal): fixed-width windows every `stride` chars, fingerprint
    * census (one shuffle), per-doc island-merge into maximal repeated
    * runs. See [[graft.operators.Dedup.repeatedSpans]]. */
  def repeatedSpans(docs: DataFrame, idCol: String = "doc_id",
      textCol: String = "text", window: Int = 40, stride: Int = 10,
      minDocs: Int = 2): DataFrame =
    operators.Dedup.repeatedSpans(docs, idCol, textCol, window, stride,
      minDocs)

  /** Train k-means centroids only (the IVF coarse-quantizer trainer) —
    * returns k×d integer centroids after `iters − 1` Lloyd's rounds. */
  def fitKmeansI8(quantized: DataFrame, idCol: String, vecCol: String,
      k: Int, iters: Int): Array[Array[Long]] =
    operators.Clustering.fitKmeansI8(quantized, idCol, vecCol, k, iters)

  /** Top-`nProbe` cells per embedding row by cosine to trained centroids
    * (IVF probe/assignment primitive); one row per (id, cell, probe_rank). */
  def probeCellsCosine(emb: DataFrame, idCol: String, embCol: String,
      cents: Array[Array[Long]], nProbe: Int): DataFrame =
    operators.Clustering.probeCellsCosine(emb, idCol, embCol, cents, nProbe)

  /** Distributed BPE tokenizer training — ONE word-count shuffle of the
    * bounded vocabulary, then the standard merge loop over the compact
    * (word, freq) table; deterministic (count DESC, pair ASC argmax).
    * See [[graft.operators.Bpe]]. */
  def bpeTrain(docs: DataFrame, textCol: String, nMerges: Int,
      maxVocab: Int = 50000): Seq[operators.Bpe.Merge] =
    operators.Bpe.train(docs, textCol, nMerges, maxVocab)

  /** Apply learned BPE merges corpus-wide: broadcast rules, partition-local
    * encode, no shuffle. Appends `bpe_tokens` + `n_bpe_tokens`. */
  def bpeEncoded(docs: DataFrame, textCol: String,
      merges: Seq[operators.Bpe.Merge]): DataFrame =
    operators.Bpe.encoded(docs, textCol, merges)

  /** Write-side small-file / skew compaction via the AQE REBALANCE hint:
    * one extra shuffle whose output partitions AQE re-sizes to
    * `spark.sql.adaptive.advisoryPartitionSizeInBytes` — coalescing the
    * thousands of tiny task outputs a wide upstream stage would otherwise
    * write, AND splitting skewed partitions (unlike `coalesce`, which can
    * only merge, and `repartition(n)`, which needs n guessed right).
    * With key columns, rows co-locate by key first (layout-friendly for
    * downstream partition pruning). The 100 TB story: file sizing becomes
    * a CONFIG, not a per-dataset partition-count guess. */
  def compacted(df: DataFrame, cols: String*): DataFrame =
    if (cols.isEmpty) df.hint("rebalance")
    else df.hint("rebalance", cols.map(org.apache.spark.sql.functions.col): _*)

  /** Gopher-style per-document quality flags (word-count / mean-word-length
    * bounds, duplicate-word fraction, top-bigram share, stopword presence)
    * — see [[graft.operators.TextAnalysis.gopherFlags]]. Appends integer
    * `f_*` columns plus boolean `is_clean`. */
  def gopherFlags(docs: DataFrame, textCol: String = "text",
      idCol: String = "doc_id"): DataFrame =
    operators.TextAnalysis.gopherFlags(docs, textCol, idCol)

  /** CCNet-style perplexity filter: per-document fluency scores under a
    * per-language bigram LM (integer-bits surprise — deterministic across
    * engines). Train on `modelDocs` (a curated reference corpus) or, by
    * default, the scored corpus itself.
    *
    * Caching contract: the vocab-bounded bigram model table backing the
    * returned frame is persist()ed; release it after the consuming action
    * with `spark.catalog.clearCache()` — repeated calls otherwise
    * accumulate cached model tables. */
  def fluencyScores(docs: DataFrame, textCol: String = "text",
      langCol: String = "lang", idCol: String = "doc_id",
      gateBits: Double = 6.0, modelDocs: DataFrame = null): DataFrame =
    operators.LmScore.fluencyScores(docs, textCol, langCol, idCol,
      gateBits, modelDocs)

  /** Semantic decontamination: flag eval items whose embedding near-dups a
    * training item (two-table sign-proj LSH, asymmetric probe fan-out —
    * eval side 44 probes, train side 2 home buckets). */
  def semanticDecontaminate(train: DataFrame, eval: DataFrame,
      idCol: String = "vec_id", embCol: String = "embedding",
      tau: Double = 0.4): DataFrame =
    operators.Dedup.semanticDecontaminate(train, eval, idCol, embCol, tau)

  /** Multinomial Naive Bayes classifier with integer-bits log-probs
    * (deterministic; classifier-based quality/language filtering).
    *
    * Caching contract: the vocab-bounded class-count model table backing
    * the returned frame is persist()ed; release it after the consuming
    * action with `spark.catalog.clearCache()` — repeated calls otherwise
    * accumulate cached model tables. */
  def nbClassify(docs: DataFrame, textCol: String = "text",
      labelCol: String = "lang", idCol: String = "doc_id"): DataFrame =
    operators.LmScore.nbClassify(docs, textCol, labelCol, idCol)

  /** Fixed-iteration integer PageRank over an edge list (micro-rank
    * units, floor-division damping — bit-reproducible on any engine):
    * the link-centrality quality prior pretraining pipelines run over
    * crawl graphs — see [[graft.operators.Graphs.pageRankInt]]. Returns
    * (node, rank_u). Caching contract: the degree-annotated edge list
    * and node table are persist()ed (reused every round); release with
    * `spark.catalog.clearCache()`/unpersist after the consuming action,
    * same as [[dsirWeights]]. Lineage contract: the carried contribution
    * table is localCheckpoint-truncated every 8th round, so planning
    * stays bounded at any `iters`. */
  def pageRankInt(edges: DataFrame, srcCol: String, dstCol: String,
      iters: Int, dampingPct: Int = 85): DataFrame =
    operators.Graphs.pageRankInt(edges, srcCol, dstCol, iters, dampingPct)

  /** Per-node triangle counts over an undirected edge list via
    * degree-oriented wedge joins (each node's out-adjacency bounded to
    * O(√m), so hub nodes can't blow up the wedge stage) — the local
    * clustering signal link-spam/community filters consume. Node ids
    * MUST lie in [0, 1e9) (the (degree, id) total order packs into one
    * long); out-of-domain ids raise an error — zip 64-bit hash ids to
    * dense longs first. Persists the deduped + oriented edge lists
    * internally (reused three times); release via `unpersist`/
    * `spark.catalog.clearCache()` after the consuming action, same
    * caching contract as [[dsirWeights]]. Returns (node, n_tri) — see
    * [[graft.operators.Graphs.triangleCounts]]. */
  def triangleCounts(edges: DataFrame, srcCol: String,
      dstCol: String): DataFrame =
    operators.Graphs.triangleCounts(edges, srcCol, dstCol)

  /** Full-batch integer perceptron training (learning rate 1, zero
    * init): one map + one |features|-wide aggregate per round, the
    * driver pulls |features| longs per round — the k-means discipline.
    * Pass a persisted features frame (it is consumed rounds+1 times).
    * Returns (weights, per-round misclassified counts) — see
    * [[graft.operators.LmScore.perceptronTrain]]. */
  def perceptronTrain(features: DataFrame, xCols: Seq[String], yCol: String,
      rounds: Int): (Seq[Long], Seq[Long]) =
    operators.LmScore.perceptronTrain(features, xCols, yCol, rounds)

  /** Right-to-be-forgotten cascade census: per child table, the rows a
    * purge of rootKeys would delete (one semi-join per table) + fk-sum
    * checksums — see [[graft.operators.Mutations.purgeCascade]]. */
  def purgeCascade(rootKeys: DataFrame, keyCol: String,
      children: Seq[(String, DataFrame, String)]): DataFrame =
    operators.Mutations.purgeCascade(rootKeys, keyCol, children)

  /** Bounded-round k-core peeling: drop nodes with degree < k, restrict
    * edges to survivors, repeat `rounds` times — the dense-core link
    * prior. Returns surviving (node, deg) — see
    * [[graft.operators.Graphs.kCore]]. */
  def kCore(edges: DataFrame, srcCol: String, dstCol: String,
      k: Int, rounds: Int): DataFrame =
    operators.Graphs.kCore(edges, srcCol, dstCol, k, rounds)

  /** PII detection flags: per-document counts of emails, NNN-NNN-NNNN
    * phones, dotted-quad IPs, and 16-digit card candidates gated by the
    * LUHN checksum, plus `has_pii` — see
    * [[graft.operators.TextAnalysis.piiFlags]]. Pure map stage; compose
    * in front of [[scrubbed]]. */
  def piiFlags(docs: DataFrame, textCol: String = "text"): DataFrame =
    operators.TextAnalysis.piiFlags(docs, textCol)

  /** PII redaction: rewrite emails/phones/IPs/16-digit runs to
    * placeholder tokens (recall-biased — Luhn-invalid decoys are scrubbed
    * too, unlike [[piiFlags]]'s precision-gated counter). Pure map stage;
    * returns the frame + (redacted, was_redacted) — see
    * [[graft.operators.TextAnalysis.redactPii]]. */
  def redactPii(docs: DataFrame, textCol: String = "text"): DataFrame =
    operators.TextAnalysis.redactPii(docs, textCol)

  /** Document stitching candidates: shard B continues shard A when A's
    * `overlap`-char tail equals B's head — exact equi-join on the
    * boundary-slice md5, never all-pairs; confirm candidates on the raw
    * slices downstream. Returns (a_id, b_id) — see
    * [[graft.operators.TextAnalysis.stitchPairs]]. */
  def stitchPairs(docs: DataFrame, idCol: String, textCol: String,
      overlap: Int = 32): DataFrame =
    operators.TextAnalysis.stitchPairs(docs, idCol, textCol, overlap)

  /** Fuzzy record linkage, candidate stage: multi-key SEGMENT blocking
    * (PassJoin partition signature — maxDist+1 segments per record,
    * pigeonhole ⇒ 100% recall for ANY edit pattern, prefix edits
    * included) + Levenshtein ≤ maxDist filter — never all-pairs; the
    * catalog side broadcasts in real workloads. Mentions should be
    * ≥ ~10 chars (shorter strings degrade to 1-char segments → big
    * blocks). See [[graft.operators.Linkage.fuzzyJoin]]. */
  def fuzzyJoin(dirty: DataFrame, clean: DataFrame, dirtyCol: String,
      cleanCol: String, maxDist: Int = 2): DataFrame =
    operators.Linkage.fuzzyJoin(dirty, clean, dirtyCol, cleanCol,
      maxDist)

  /** Deterministic best match per dirty mention over a fuzzyJoin
    * candidate set: argmin(distance, match key) + ambiguity count — see
    * [[graft.operators.Linkage.bestMatch]]. */
  def bestMatch(cands: DataFrame, idCol: String, matchCol: String,
      distCol: String = "dist"): DataFrame =
    operators.Linkage.bestMatch(cands, idCol, matchCol, distCol)

  /** Robust (median/MAD) outlier census per key over an integer value
    * column: |v − median| > 3·MAD in exact ×2/×4 integer space — the
    * heavy-tail-safe anomaly monitor. Returns (key, n, med_x2, mad_x4,
    * n_outliers) — see [[graft.operators.Events.madOutlierCensus]]. */
  def madOutlierCensus(df: DataFrame, keyCol: String,
      intCol: String): DataFrame =
    operators.Events.madOutlierCensus(df, keyCol, intCol)

  /** Frozen min-label propagation from a seed set over an edge list
    * (undirected; labels never change once assigned, so fixed rounds are
    * deterministic) — the semi-supervised seed-domain classifier. Returns
    * (node, label) for every reached node — see
    * [[graft.operators.Graphs.labelPropagate]]. Caching contract: the
    * undirected edge list is persist()ed (reused every round) and the
    * label table localCheckpoint'd per round; release cached tables with
    * `spark.catalog.clearCache()` after the consuming action, same as
    * [[dsirWeights]]. */
  def labelPropagate(edges: DataFrame, srcCol: String, dstCol: String,
      seeds: DataFrame, nodeCol: String, labelCol: String,
      rounds: Int): DataFrame =
    operators.Graphs.labelPropagate(edges, srcCol, dstCol, seeds,
      nodeCol, labelCol, rounds)

  /** Deterministic weight-proportional top-k sample (integer-arithmetic
    * PPS draw, bit-exact replayable): priority = md5-hash DIV weight, keep
    * the k smallest. Weights must be ≥ 1 — zero/negative weights raise an
    * error (a zero weight would NULL the integer DIV and deterministically
    * win the top-k) — see [[graft.operators.Sampling.prioritySample]]. */
  def prioritySample(df: DataFrame, contentCol: String, weightCol: String,
      tiebreakCol: String, k: Int): DataFrame =
    operators.Sampling.prioritySample(df, contentCol, weightCol,
      tiebreakCol, k)

  /** Multi-touch linear attribution in exact integer cents (remainder to
    * the last touch, so credits conserve value bit-for-bit), paired on
    * (user, lookback-sized time bucket) so probe work is bounded by
    * per-window activity — see
    * [[graft.operators.Events.linearAttribution]]. */
  def linearAttribution(events: DataFrame, convType: String,
      touchTypes: Seq[String], lookbackDays: Int): DataFrame =
    operators.Events.linearAttribution(events, convType, touchTypes,
      lookbackDays)

  /** Point-in-time (temporal) join: each fact row picks the dimension
    * version valid at its own timestamp (`[from, to)` half-open) — the
    * consumer side of [[scd2Merge]]. Equi-join on the key; the interval
    * check rides as a post-condition — see
    * [[graft.operators.Mutations.pitJoin]]. */
  def pitJoin(fact: DataFrame, dim: DataFrame, factKey: String,
      dimKey: String, tsCol: String, fromCol: String,
      toCol: String): DataFrame =
    operators.Mutations.pitJoin(fact, dim, factKey, dimKey, tsCol,
      fromCol, toCol)

  /** Per-group rank calibration: score → group-relative rank position in
    * exact integer per-mille, so one global threshold applies a different
    * absolute cutoff per source — see
    * [[graft.operators.Sampling.rankCalibrate]]. */
  def rankCalibrate(df: DataFrame, groupCol: String, scoreCol: String,
      tiebreakCol: String): DataFrame =
    operators.Sampling.rankCalibrate(df, groupCol, scoreCol, tiebreakCol)

  /** Per-key distribution-drift report between two time epochs: exact
    * integer per-mille total-variation distance over ⌊log2⌋ value
    * buckets — see [[graft.operators.Profiling.driftReport]]. */
  def driftReport(df: DataFrame, keyCol: String, intCol: String,
      tsCol: String, splitTs: String): DataFrame =
    operators.Profiling.driftReport(df, keyCol, intCol, tsCol, splitTs)

  /** Market-basket co-occurrence: top-k co-basket items per item with
    * support and exact per-mille confidence — see
    * [[graft.operators.Retrieval.basketPairs]]. */
  def basketPairs(df: DataFrame, basketCol: String, itemCol: String,
      topK: Int, minSupport: Long = 2L): DataFrame =
    operators.Retrieval.basketPairs(df, basketCol, itemCol, topK,
      minSupport)

  /** Cross-document boilerplate removal: chunks whose document frequency
    * exceeds maxDf (headers/footers/banners) are cut from every document,
    * which is reassembled in order from its surviving chunks — see
    * [[graft.operators.TextAnalysis.removeBoilerplate]]. Returns
    * (idCol, clean_text, n_chunks, n_dropped). */
  def removeBoilerplate(docs: DataFrame, idCol: String = "doc_id",
      textCol: String = "text", chunkTokens: Int = 8,
      maxDf: Int = 2): DataFrame =
    operators.TextAnalysis.removeBoilerplate(
      docs, idCol, textCol, chunkTokens, maxDf)

  /** Generic SCD-Type-2 merge of a change-set into a history table
    * (close current versions of changed keys, open version max+1, pass
    * untouched keys through) — see
    * [[graft.operators.Mutations.scd2Merge]]. The per-microbatch MERGE a
    * streaming foreachBatch sink runs. */
  def scd2Merge(hist: DataFrame, changes: DataFrame,
      keyCol: String): DataFrame =
    operators.Mutations.scd2Merge(hist, changes, keyCol)

  /** Exact dedup over a BINARY column: one md5-fingerprint hash aggregate
    * keeping the lowest-id copy of each distinct blob — see
    * [[graft.operators.Multimodal.dedupBlobs]]. */
  def dedupBlobs(df: DataFrame, idCol: String, blobCol: String): DataFrame =
    operators.Multimodal.dedupBlobs(df, idCol, blobCol)

  /** Quantized byte-histogram near-dup blocking signature for binary
    * payloads (16 buckets over the first `maxBytes` bytes) — see
    * [[graft.operators.Multimodal.blobHistogramSig]]. Returns
    * `(idCol, bh_sig)`; self-join on `bh_sig` for candidate pairs. */
  def blobHistogramSig(df: DataFrame, idCol: String, blobCol: String,
      maxBytes: Int = 256, quant: Int = 2): DataFrame =
    operators.Multimodal.blobHistogramSig(df, idCol, blobCol, maxBytes, quant)

  /** MMC4-style interleaved multimodal sequence packing: items (text
    * chunks, image placeholders) → fixed token windows per partition key
    * in a pinned order, ONE running-sum window per partition — see
    * [[graft.operators.Multimodal.interleavePack]]. Adds `seq_id`. */
  def interleavePack(items: DataFrame, partCol: String,
      orderCols: Seq[String], tokensCol: String,
      windowTokens: Int): DataFrame =
    operators.Multimodal.interleavePack(
      items, partCol, orderCols, tokensCol, windowTokens)

  /** Parse a BMP (BITMAPFILEHEADER+BITMAPINFOHEADER) header out of a
    * binary column → struct(magic_ok, file_bytes, width, height, channels,
    * bpp, img_bytes) — see [[graft.operators.Multimodal.bmpMeta]]. */
  def bmpMeta(blob: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    operators.Multimodal.bmpMeta(blob)

  /** Parse a canonical WAV/RIFF header out of a binary column →
    * struct(riff_ok, n_channels, sample_rate, byte_rate, bits, data_bytes)
    * — see [[graft.operators.Multimodal.wavMeta]]. */
  def wavMeta(blob: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    operators.Multimodal.wavMeta(blob)

  /** Dereference a TIFF-style IFD pointer and pivot the walked tag
    * entries → struct(ii_ok, ifd_off, n_entries, width, height, bits) —
    * see [[graft.operators.Multimodal.tiffMeta]]. */
  def tiffMeta(blob: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    operators.Multimodal.tiffMeta(blob)

  /** ViT-style patch-grid decomposition: width×height image bytes →
    * (P×P)-patch integer features via one pixel explode + one keyed
    * aggregate — see [[graft.operators.Multimodal.patchify]]. */
  def patchify(blobs: DataFrame, idCol: String, blobCol: String,
      width: Int, height: Int, patch: Int, payloadOff: Int): DataFrame =
    operators.Multimodal.patchify(
      blobs, idCol, blobCol, width, height, patch, payloadOff)

  /** Frame-level PCM energy + silence-span census over WAV blobs (the
    * voice-activity-detection shape ASR curation trims silence with):
    * one bounded explode → per-frame energies → per-doc silent-run
    * islands. Returns (idCol, n_frames, n_silent, total_energy,
    * max_silent_run) — see
    * [[graft.operators.Multimodal.audioFrameEnergy]]. */
  def audioFrameEnergy(blobs: DataFrame, idCol: String, blobCol: String,
      frameLen: Int = 8, silenceThresh: Long = 30000L): DataFrame =
    operators.Multimodal.audioFrameEnergy(
      blobs, idCol, blobCol, frameLen, silenceThresh)

  def rangeBucketJoin(
      points: DataFrame, ptCol: String,
      intervals: DataFrame, loCol: String, hiCol: String,
      bucketWidth: Long): DataFrame = {
    require(bucketWidth > 0, "bucketWidth must be positive")
    import org.apache.spark.sql.functions._
    val b = "__graft_bucket"
    val lb = points.withColumn(b,
      floor(col(ptCol) / bucketWidth).cast("long"))
    val rb = intervals.withColumn(b, explode(sequence(
      floor(col(loCol) / bucketWidth).cast("long"),
      floor(col(hiCol) / bucketWidth).cast("long"))))
    lb.join(rb, Seq(b))
      .filter(col(ptCol) >= col(loCol) && col(ptCol) <= col(hiCol))
      .drop(b)
  }
}
