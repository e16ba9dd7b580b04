package graft.operators

import graft.{QueryDef, Tables}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** End-to-end training-data curation pipeline over the `documents` table —
  * the flagship composition of the LLM-pipeline suite: every stage is one of
  * this library's operators, chained into a single declarative plan.
  *
  *   1. feature map: token count + quality score (codegen map stage)
  *   2. gate: quality ≥ 0.7, language whitelist (filter, fully pushed)
  *   3. exact dedup: md5 fingerprint, keep the smallest doc_id (one shuffle
  *      on the fingerprint)
  *   4. near-dup removal: candidate pairs → connected-component clusters →
  *      keep each cluster's representative (smallest doc_id = its label)
  *   5. corpus summary per source
  *
  * The reference has no such pipeline surface (its test corpus stops at SQL
  * queries); this is the "what a 100 TB curation pass actually runs" shape:
  * stages 1–2 are embarrassingly parallel, stage 3 shuffles once on a
  * uniform hash, stage 4 shuffles the (tiny) near-dup subgraph only, and
  * the summary aggregate is bounded by source cardinality.
  *
  * Two near-dup strategies (stage 4):
  *  - "ngram" (default): exact blocked n-gram Jaccard
  *    ([[Dedup.ngramJaccardPairs]]) — fully deterministic integer-ratio
  *    arithmetic, so the WHOLE pipeline is DuckDB-oracle-checkable
  *    (the oracle reproduces the cluster step with a recursive CTE).
  *  - "minhash": MinHash+LSH ([[Dedup.minHashNearDup]]) — the
  *    probabilistic-signature variant (xxhash64, Spark-specific);
  *    output invariants pinned in DocPipelineSpec instead of an oracle.
  */
object DocPipeline {

  private val stopCsv = "the,a,of,and,to,in,is"

  /** Stages 1–4 as a reusable frame: the curated (kept) documents with
    * their token counts and quality scores. */
  def curatedDocs(docs: DataFrame,
      minQuality: Double = 0.7,
      langs: Seq[String] = Seq("en", "fr", "es", "de"),
      jaccard: Double = 0.5,
      nearDup: String = "ngram"): DataFrame = {
    val toksC = split(col("text"), " ")
    val scored = docs.select(
      col("doc_id"), col("text"), col("lang"), col("source"),
      size(toksC).cast("double").as("n_tok"),
      // codegen'd set-probe kernel (count_in_set) — a filter() HOF here
      // evaluates interpreted and breaks the WholeStageCodegen span
      expr(s"count_in_set(split(text, ' '), '$stopCsv')")
        .cast("double").as("n_stop"),
      size(regexp_extract_all(col("text"), lit("[0-9]"), lit(0)))
        .cast("double").as("n_digit"))
      .select(col("doc_id"), col("text"), col("lang"), col("source"),
        col("n_tok").cast("long").as("n_tok"),
        (col("n_tok") / (col("n_tok") + lit(50.0)) +
          col("n_stop") / col("n_tok") -
          col("n_digit") / col("n_tok")).as("quality"))
    val gated = scored
      .filter(col("quality") >= minQuality &&
        col("lang").isin(langs.map(x => x: Any): _*))
    // exact dedup: smallest doc_id per fingerprint survives. min_by over
    // the fingerprint groupBy (partial-aggregable, narrow) rather than a
    // row_number window (which would shuffle and sort full rows); persisted
    // because BOTH the near-dup pair generation and the final anti-join
    // consume it (without this the scoring+gate+dedup chain runs twice).
    val exactKept = gated
      .groupBy(md5(col("text")).as("fp"))
      .agg(min_by(
        struct(gated.columns.map(col): _*), col("doc_id")).as("r"))
      .select(col("r.*"))
      .persist()
    // near-dup: candidate pairs → clusters → drop non-representatives.
    // componentLabels is eager: the pair plan runs once, here, and a pair
    // list under the broadcast threshold is labelled in driver memory; only
    // the tiny drop-list joins back.
    val keyed = exactKept.select(col("doc_id"), col("text"))
    val pairs = nearDup match {
      case "ngram" =>
        Dedup.ngramJaccardPairs(keyed, "doc_id", "text")
          .filter(col("jaccard") >= jaccard)
          .select(col("doc_a"), col("doc_b"))
      case "minhash" =>
        Dedup.minHashNearDup(keyed, "doc_id", "text", threshold = jaccard)
          .select(col("doc_a"), col("doc_b"))
      case other => throw new IllegalArgumentException(
        s"nearDup must be 'ngram' or 'minhash', got '$other'")
    }
    val dropList = Dedup.componentLabels(pairs)
      .filter(col("doc") =!= col("label"))
      .select(col("doc").as("doc_id"))
    exactKept.join(dropList, Seq("doc_id"), "left_anti")
  }

  /** Registry entry: per-source corpus summary of the curated set, with the
    * deterministic n-gram near-dup stage — the full five-stage pipeline is
    * reproduced by the DuckDB oracle, connected components included
    * (transitive min-label via WITH RECURSIVE over the pair edges). */
  val pipeline = QueryDef(
    "q_docs_pipeline",
    (spark, dir) => {
      curatedDocs(Tables(spark, dir, "documents"))
        .groupBy(col("source"))
        .agg(
          count(lit(1)).as("n_docs"),
          sum(col("n_tok")).as("total_toks"),
          min(col("quality")).as("min_quality"))
    },
    Some(s"""
      WITH RECURSIVE
      scored AS (
        SELECT doc_id, text, lang, source,
               CAST(len(str_split(text, ' ')) AS DOUBLE) AS n_tok,
               CAST(len(list_filter(str_split(text, ' '),
                 t -> t IN ('the','a','of','and','to','in','is')))
                 AS DOUBLE) AS n_stop,
               CAST(len(regexp_extract_all(text, '[0-9]')) AS DOUBLE)
                 AS n_digit
        FROM documents),
      gated AS (
        SELECT doc_id, text, lang, source,
               CAST(n_tok AS BIGINT) AS n_tok,
               n_tok / (n_tok + 50.0) + n_stop / n_tok - n_digit / n_tok
                 AS quality
        FROM scored
        WHERE n_tok / (n_tok + 50.0) + n_stop / n_tok - n_digit / n_tok
                >= 0.7
          AND lang IN ('en','fr','es','de')),
      exact AS (
        SELECT doc_id, text, lang, source, n_tok, quality FROM (
          SELECT g.*, row_number() OVER (PARTITION BY md5(text)
                                         ORDER BY doc_id) AS rn
          FROM gated g) WHERE rn = 1),
      grams AS (
        SELECT doc_id, substring(text, 1, 40) AS blk,
               ${Dedup.duckShingles} AS grams
        FROM exact),
      pairs AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM grams a JOIN grams b
          ON a.blk = b.blk AND a.doc_id < b.doc_id
        WHERE CAST(len(list_intersect(a.grams, b.grams)) AS DOUBLE)
              / CAST(len(a.grams) + len(b.grams)
                     - len(list_intersect(a.grams, b.grams)) AS DOUBLE)
              >= 0.5),
      edges AS (
        SELECT doc_a AS s, doc_b AS d FROM pairs
        UNION SELECT doc_b AS s, doc_a AS d FROM pairs),
      reach AS (
        SELECT doc_id AS doc, doc_id AS lbl FROM exact
        UNION
        SELECT e.d AS doc, reach.lbl FROM reach JOIN edges e
          ON reach.doc = e.s),
      labels AS (SELECT doc, min(lbl) AS label FROM reach GROUP BY doc),
      kept AS (
        SELECT x.* FROM exact x JOIN labels l ON x.doc_id = l.doc
        WHERE l.label = x.doc_id)
      SELECT source, count(*) AS n_docs,
             CAST(sum(n_tok) AS BIGINT) AS total_toks,
             min(quality) AS min_quality
      FROM kept GROUP BY source"""))

  /** The CLEANING-side pipeline (round 7): the pre-dedup passes a crawl
    * corpus runs before the near-dup machinery of [[pipeline]] —
    *
    *   1. PII scrub ([[Sampling.scrubbed]]) over a deterministically
    *      PII-salted corpus (each doc's md5 class injects an email /
    *      phone / card / decoy / nothing — the fixture carries none)
    *   2. cross-document boilerplate removal
    *      ([[TextAnalysis.removeBoilerplate]]) on the scrubbed text —
    *      the near-dup docs' shared-prefix chunks are the high-df
    *      boilerplate it cuts (105 chunks at sf0.01), and running it
    *      AFTER the scrub means mask normalization can only increase
    *      chunk-level agreement, never hide it
    *   3. exact dedup of the cleaned text (min_by fingerprint aggregate)
    *   4. per-source census: kept docs, chunks dropped, and an md5-prefix
    *      checksum pinning every surviving byte
    *
    * Every stage replays in the DuckDB oracle, so the COMPOSITION —
    * including the scrub→boilerplate interaction — is bit-exact, the
    * same end-to-end discipline as q_docs_pipeline. */
  val cleaningPipeline = QueryDef(
    "q_docs_pipeline_clean",
    (spark, dir) => {
      val docs = Tables(spark, dir, "documents")
      val cls = expr(
        "CAST(conv(substr(md5(text), 30, 1), 16, 10) AS BIGINT) % 5")
      val salted = docs.select(col("doc_id"), col("source"),
        concat(col("text"), lit(" "),
          when(cls === 0, concat(lit("user"), col("doc_id"),
            lit("@example.com")))
            .when(cls === 1, lit("555-867-5309"))
            .when(cls === 2, lit("4111111111111111"))
            .when(cls === 3, lit("4111111111111112"))
            .otherwise(lit("clean"))).as("salted"))
      val scrubbedDocs = salted.select(col("doc_id"), col("source"),
        Sampling.scrubbed(col("salted")).as("clean0"))
      val cleaned = TextAnalysis
        .removeBoilerplate(scrubbedDocs, "doc_id", "clean0")
        .join(scrubbedDocs.select(col("doc_id"), col("source")), "doc_id")
      val deduped = cleaned
        .groupBy(md5(col("clean_text")).as("fp"))
        .agg(min_by(struct(col("doc_id"), col("source"), col("clean_text"),
          col("n_dropped")), col("doc_id")).as("r"))
        .select(col("r.*"))
      deduped.groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs_kept"),
          sum(col("n_dropped")).as("n_chunks_dropped"),
          sum(expr(
            "CAST(conv(substr(md5(clean_text), 1, 7), 16, 10) AS BIGINT)"))
            .as("corpus_checksum"))
    },
    Some("""
      WITH salted AS (
        SELECT doc_id, source,
               text || ' ' ||
               CASE ('0x' || substr(md5(text), 30, 1))::BIGINT % 5
                 WHEN 0 THEN 'user' || doc_id || '@example.com'
                 WHEN 1 THEN '555-867-5309'
                 WHEN 2 THEN '4111111111111111'
                 WHEN 3 THEN '4111111111111112'
                 ELSE 'clean' END AS salted
        FROM documents),
      scrub AS (
        SELECT doc_id, source,
               regexp_replace(
                 regexp_replace(salted,
                   '[a-zA-Z0-9._]+@[a-zA-Z0-9.]+', '<EMAIL>', 'g'),
                 '[0-9]+', '<NUM>', 'g') AS clean0
        FROM salted),
      t AS (SELECT doc_id, source, string_split(clean0, ' ') AS w
            FROM scrub),
      c AS (SELECT doc_id, i AS bp_idx,
              array_to_string(w[(i*8+1):(i*8+8)], ' ') AS chunk
            FROM t, unnest(range((len(w)+7)//8)) AS u(i)),
      df AS (SELECT md5(chunk) AS h, count(DISTINCT doc_id) AS df
             FROM c GROUP BY 1),
      kept AS (SELECT c.doc_id, c.bp_idx, c.chunk
               FROM c JOIN df ON md5(c.chunk) = df.h WHERE df.df <= 2),
      re AS (SELECT doc_id,
                    string_agg(chunk, ' ' ORDER BY bp_idx) AS clean_text,
                    count(*) AS bp_kept
             FROM kept GROUP BY doc_id),
      full_t AS (
        SELECT t.doc_id, t.source,
               coalesce(re.clean_text, '') AS clean_text,
               (len(t.w)+7)//8 - coalesce(re.bp_kept, 0) AS n_dropped
        FROM t LEFT JOIN re USING (doc_id)),
      dedup AS (
        SELECT doc_id, source, clean_text, n_dropped FROM (
          SELECT f.*, row_number() OVER (PARTITION BY md5(clean_text)
                                         ORDER BY doc_id) AS rn
          FROM full_t f) WHERE rn = 1)
      SELECT source, count(*) AS n_docs_kept,
             CAST(sum(n_dropped) AS BIGINT) AS n_chunks_dropped,
             CAST(sum(('0x' || substr(md5(clean_text), 1, 7))::BIGINT)
                  AS BIGINT) AS corpus_checksum
      FROM dedup GROUP BY source"""))

  val all: Seq[QueryDef] = Seq(pipeline, cleaningPipeline)
}
