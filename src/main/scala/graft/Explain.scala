package graft

import java.nio.file.{Files, Paths}

/** Writes EXPLAIN.md: formatted physical plans for headline queries,
  * the artifact to eyeball for pushdown/broadcast/codegen regressions.
  * A comma list of query names replaces the headline set.
  * Usage: runMain graft.Explain [sfDir] [outFile] [q1,q2,...]
  */
object Explain {
  val Headline: Seq[String] = Seq(
    "q01_pricing_agg", "q02_date_range", "q03_join_enrich",
    "q05_topn_per_group", "q15_keyword_mentions", "q22_ngram_jaccard",
    "q23_minhash_lsh", "q24_simhash", "q25_embed_neardup",
    "q26_ann_bruteforce", "q31_sessionize", "q45_ann_ivf",
    "q46_lang_id_ngram", "q47_topk_custom", "q53_profile",
    "q56_context_gazetteer", "q61_match_spans", "q70_ann_ivf_trained",
    "q71_repetition_stats", "q73_contamination", "q75_sequence_pack",
    "q76_top_terms", "q79_ann_pq", "q80_ann_ivf_pq",
    "q81_group_median", "q83_rolling_features", "q89_field_extraction",
    "q91_dup_ngrams", "q93_url_resolve", "q94_pq_refined",
    "q95_ann_recall", "q96_pq_local_codebooks", "q100_gap_fill",
    "q102_kmv_distinct", "q112_geo_disambiguate", "q114_store_replay",
    "q116_collect_accounting", "q118_match_aggregate",
    "q122_person_ner", "q123_catalog_enrich", "q124_error_replay",
    "q126_line_dedup", "q127_lm_surprisal", "q128_lsh_eval",
    "q129_vocab_oov", "q130_dsir_weights", "q131_epoch_shuffle",
    "q132_span_corrupt", "q133_quality_classifier", "q134_bm25_topk",
    "q135_hybrid_rrf", "q136_pack_audit", "q138_domain_pagerank",
    "q139_pca_power", "q140_collocations", "q141_sink_roundtrip",
    "q142_portal_payload", "q143_batch_validation",
    "q144_pending_deserialize", "q145_length_batches",
    "q146_cities_sync", "q147_exact_substr", "q148_chunk_overlap",
    "q149_datasheet", "q150_source_overlap",
    "q151_ngram_contamination", "q152_tokenizer_fertility",
    "q153_vocab_growth", "q154_embed_anisotropy", "q155_patch_batches",
    "q156_semdedup", "q157_filter_agreement", "q158_doremi_mix",
    "q159_rep_selection", "q160_contamination_sweep",
    "q161_zipf_spectrum", "q162_length_drift", "q163_domain_hits",
    "q164_kanon_audit", "q165_phash_neardup", "q166_shard_manifest",
    "q167_bigram_surprisal", "q168_embed_contamination",
    "q169_source_boilerplate", "q170_luhn_audit",
    "q171_cms_heavy_hitters", "q172_skipgram_assoc",
    "q173_diversity_sample", "q174_url_blocklist",
    "q175_snapshot_dedup", "q176_jl_distortion",
    "q177_curriculum_layout", "q178_source_minhash",
    "q179_watermark_audit", "q180_lsh_band_sweep", "q182_token_runs",
    "q181_cdc_chunks", "q183_knn_graph", "q184_mmr_rerank",
    "q185_unigram_segment", "q186_hard_negatives", "q187_char_entropy",
    "q188_cluster_purity", "q189_knn_triangles",
    "q190_token_burstiness", "q191_quality_percentile",
    "q192_knn_kcore", "q193_label_prop", "q194_kmeans_elbow",
    "q195_containment", "q196_audio_energy", "q197_watermark_sweep", "q198_gap_slo",
    "q199_team_draft", "q200_vocab_curve", "q201_jaccard_curve",
    "q202_temporal_dedup", "q205_score_calibration",
    "q206_prf_expansion", "q207_ndcg_eval", "q208_cusum_changepoint",
    "q209_wordpiece_segment", "q210_leaky_bucket",
    "q212_kaplan_meier", "q213_geohash_join", "q215_pps_sample",
    "q217_rendezvous_shards", "q219_boolean_and",
    "q220_event_pattern", "q221_copurchase_lift", "q223_acf",
    "q224_knn_bfs", "q225_apportion", "q226_linregress",
    "q227_theil_sen", "q229_ref_integrity",
    "q230_attribution", "q231_isotonic_fit",
    "q232_merkle_manifest", "q233_sparse_cosine", "q235_decayed_counts",
    "q236_burst_viterbi", "q238_budget_knapsack", "q239_fuzzy_titles",
    "q240_vopt_histogram", "q241_interval_join",
    "q242_datetime_cascade", "q243_queue_replay", "q244_portal_registry",
    "q86_skew_join", "q245_pareto_skyline", "q246_phrase_query",
    "q247_hashring_shards", "q248_tcloseness",
    "q67_dedup_clusters", "q68_embed_clusters", "q249_ivf_nprobe_curve",
    "q250_pq_code_curve", "q251_simhash_sweep", "q252_cms_curve",
    "q253_curation_funnel", "q254_cdc_curve", "q255_linedf_curve",
    "q256_curation_pfunnel", "q257_dup_tail", "q258_jaccard_tuned")

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val out = if (args.length > 1) args(1) else "EXPLAIN.md"
    val names = if (args.length > 2) QueryRun.names(args(2)) else Headline
    // fixed local[4] sizing keeps EXPLAIN.md comparable across boxes
    val spark = Sessions.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sb = new StringBuilder
    sb.append(s"# Physical plans (${if (names == Headline) "headline" else "selected"} queries)\n\n")
    sb.append(s"Generated by `graft.Explain` against `$sfDir`. Things to check:\n")
    sb.append("`PushedFilters`/`ReadSchema` on scans, `BroadcastHashJoin` for dims,\n")
    sb.append("`partial_*` aggregates before exchanges, `WholeStageCodegen` spans.\n\n")
    names.foreach { name =>
      val df = SparkEntry.queries(name)(spark, sfDir)
      sb.append(s"## $name\n\n```\n")
      sb.append(df.queryExecution.explainString(
        org.apache.spark.sql.execution.ExplainMode.fromString("formatted")))
      sb.append("\n```\n\n")
    }
    Files.writeString(Paths.get(out), sb.toString)
    println(s"[explain] wrote $out")
    spark.stop()
  }
}
