package graft.tools

import java.nio.file.{Files, Paths}

import graft.{Engine, SparkEntry}

/** Writes docs/PLANS.md: the final (AQE-resolved) formatted physical plans
  * of the headline queries, as reviewable evidence of plan quality —
  * pushdown, pruning, broadcast choices, partial aggregation, codegen spans.
  * Usage: sbt "runMain graft.tools.PlanDump [sfDir]"
  */
object PlanDump {
  val headline = Seq(
    "q1_agg", "q_join_q3_topk", "q_join_q5_snowflake", "q_tpch_q18",
    "q_dedup_minhash_lsh", "q_sim_ann_lsh", "q_sim_topk_plan",
    "q_events_sessionize", "q_asof_join", "q_join_range_bucket",
    // round 3: decorrelation, anti-join chain, SSB star, LSH scale path
    "q_tpch_q2", "q_tpch_q21", "q_ssb_q2_1", "q_dedup_embedding_lsh",
    "q_profile_lineitem",
    // round 4: single-pass q21 rewrite, stacked EXISTS decorrelation,
    // correlated group-average, curation pipeline, histogram profile
    "q_tpch_q21_fast", "q_ds_multi_exists", "q_ds_above_group_avg",
    "q_docs_pipeline", "q_profile_histogram",
    // round 4b: custom top-k exec, quantized retrieval, decontamination,
    // BM25, merge, IVF max_by assignment
    "q_topk_per_group", "q_sim_quantized_topk", "q_decontaminate",
    "q_text_bm25", "q_merge_upsert", "q_sim_ann_ivf",
    "q_mv_refresh", "q_quality_constraints",
    // round 5b: Gopher battery (explode + two partial-agg shuffles), KMV
    // set algebra over sketch rows, map-only mixture sampling, and two
    // decorrelation shapes (correlated range avg, semi+anti gating)
    "q_text_gopher", "q_text_kmv_overlap", "q_sample_mix",
    "q_ds_corr_excess_discount", "q_ds_gated_count_distinct",
    // round 6: bucketed quota selection (census + boundary ranking), hash-
    // sharded epoch ordering, chunk-explode RAG retrieval, sketch-over-
    // distinct-pairs KMV
    "q_sample_unimax", "q_sample_epoch_shards", "q_rag_chunk_retrieval",
    "q_agg_kmv_sketch",
    // round 6b: bigram-LM fluency (vocab-bounded model aggregate + keyed
    // scoring join — the signature pins that the model side aggregates
    // BEFORE joining, never the raw-pairs-squared alternative) and the NB
    // classifier (broadcast class table + keyed count join + min-struct
    // argmin, no per-doc sort)
    "q_text_lm_fluency", "q_text_nb_lang",
    // round 6c: bitmap COUNT DISTINCT (two-level mergeable aggregate — the
    // signature pins that raw keys stop at the first partial aggregate),
    // DSIR importance weights (two vocab-bounded model aggregates + two
    // keyed scoring joins + global top-k, never a corpus sort), priority
    // dedup (ONE min-struct hash aggregate), and the diversity report
    // (token + trigram explodes each feeding exactly one aggregation)
    "q_agg_bitmap_distinct", "q_sample_dsir", "q_dedup_priority",
    "q_text_diversity",
    // round 6d: exact-budget oversampling (census + quotaSelect remainder
    // + id-keyed membership join + output-sized explode) and the
    // leakage-safe split (pair/CC stages + rep-text lookup + map-stage
    // nibble assignment)
    "q_sample_oversample", "q_sample_leakage_split",
    // round 7: channel-emulation scan reuse (the signature pins ONE
    // lineitem scan in ds75 / TWO in ds14 instead of three — the persisted
    // channel base), the single-pass conditional-aggregate promo share,
    // and the multimodal caption↔embedding joint retrieval through
    // CosineTopKJoin
    "q_ds_channel_count_delta", "q_ds_cross_channel_rollup",
    "q_ds_promo_ratio", "q_mm_caption_retrieval",
    // round 7b: the new scale-shaped operators — boilerplate (chunk
    // explode + vocabulary-bounded df aggregate + join-back, NEVER a
    // corpus sort), token-weighted quota (census + boundary bucket),
    // curriculum (score census + broadcast map join), PageRank (5
    // edge-shuffle rounds), and the composed cleaning pipeline
    "q_text_boilerplate", "q_sample_token_budget", "q_sample_curriculum",
    "q_graph_pagerank", "q_docs_pipeline_clean",
    // round 7c: triangle counting (the signature pins degree-oriented
    // EQUI-joins for the wedge + closing stages — never an all-pairs
    // shape) and the PCM frame-energy census (bounded explode + per-doc
    // aggregate + per-doc island window)
    "q_graph_triangles", "q_mm_audio_energy",
    // round 7d: attribution (the signature pins the (user, time-bucket)
    // EQUI-join — never a plain user-key interval probe), the blocked
    // fuzzy-linkage best match, market basket (basket self-equi-join +
    // WindowGroupLimit top-k), the composed mix-builder pipeline, and
    // per-doc novelty (first-bearer aggregate + join-back, no pairs)
    "q_events_attribution", "q_link_best_match", "q_retr_market_basket",
    "q_mix_pipeline", "q_text_novelty")

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val spark = Engine.session()
    val sb = new StringBuilder
    sb.append("# Physical plans (generated by graft.tools.PlanDump, AQE-final)\n\n")
    sb.append(s"Scale factor dir: `$sfDir`. Regenerate: " +
      "`sbt \"runMain graft.tools.PlanDump\"`.\n")
    headline.foreach { name =>
      val df = SparkEntry.queries(name)(spark, sfDir)
      df.collect() // execute this exact QueryExecution so AQE finalizes it
      sb.append(s"\n## $name\n\n```\n")
      sb.append(df.queryExecution.executedPlan.toString
        .split("== Initial Plan ==")(0).trim)
      sb.append("\n```\n")
    }
    Files.createDirectories(Paths.get("docs"))
    Files.writeString(Paths.get("docs/PLANS.md"), sb.toString)
    println(s"[plandump] wrote docs/PLANS.md (${headline.size} plans)")
    spark.stop()
  }
}
