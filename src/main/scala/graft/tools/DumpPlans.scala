package graft.tools

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession

import graft.GraftSession

/** Formatted physical plans of the suite's queries.
  *
  *  - `runMain graft.tools.DumpPlans [sfDir]` regenerates PLANS.md: every
  *    query's plan at the given sf dir, headline queries first.
  *  - `runMain graft.tools.DumpPlans <sfDir> <round> <suffix> <query...>`
  *    writes `plans/<round>/<query>_<suffix>.txt`, one file per named
  *    query — the before/after plan evidence the optimization rounds
  *    commit next to the code.
  */
object DumpPlans {
  private val Headline = Seq(
    "q1_pricing_summary", "q5_nation_revenue", "j2_interval_join",
    "d2_ngram_jaccard", "d3_minhash_lsh", "d5_embed_neardup",
    "d8_semdedup", "d11_exact_substr", "d13_near_decontam",
    "v1_cosine_topk", "v3_ann_ivf",
    "v8_pca_cov", "t7_tfidf", "t9_pack", "t15_bm25", "t17_bigram_logprob",
    "t18_gopher_signals", "t19_domain_blocklist",
    "s4_gumbel_topk", "s5_shard_shuffle", "s6_diverse_sample",
    "c1_corpus_curation", "c4_corpus_merge", "f10_grouping_sets",
    "w5_range_frame", "v10_hamming_topk", "v11_hamming_rerank",
    "h1_hybrid_rrf", "s7_temperature_mix", "v12_ann_recall",
    "c6_token_budget", "d14_containment",
    "d15_bloom_decontam", "v13_ivf_pq", "m5_video_frames",
    "e1_ranking_metrics", "e2_calibration",
    "st1_window_agg", "st2_attribution_join",
    "c8_jsonl_roundtrip", "d16_cluster_resolve",
    "w6_funnel", "w7_retention", "w8_funnel_window", "w9_time_to_convert",
    "w10_session_paths", "l1_record_linkage", "t21_heavy_hitters",
    "t22_collocations", "t23_readability", "e4_agreement_kappa",
    "e5_precision_recall", "v14_mips_topk", "g3_hits", "c9_release_gate",
    "t24_ccnet_buckets", "d17_url_dedup", "s8_curriculum",
    "t25_tokenizer_fertility", "c10_k_anonymity", "t26_lexicon_score",
    "j10_interval_depth", "j11_nearest_interval", "v15_matryoshka_recall",
    "e7_slice_metrics",
    "q18_big_spenders", "w11_transition_probs", "s9_group_split",
    "e6_brier_logloss", "t27_ngram_novelty", "t28_zipf_slope",
    "c11_contamination_report", "j12_interval_merge", "t29_html_extract",
    "j13_interval_subtract", "w12_rate_anomaly", "t30_sentence_split",
    "d18_boilerplate_lines", "e8_qa_f1", "q3b_shipping_priority",
    "q6_forecast_revenue", "h3_preference_pairs", "g4_label_prop",
    "j14_liftover", "m6_exif_meta", "t31_mojibake",
    "w13_audience_growth", "q10_returned_items", "q14_promo_effect", "d19_sentence_dedup", "t32_normalize",
    "q2_min_cost_supplier", "q11_important_parts", "q20_dominant_supplier",
    "v16_margin_mining", "w14_multi_touch", "t33_luhn_pans",
    "t34_script_profile", "e9_pass_at_k", "w15_rfm",
    "j15_interval_complement", "j16_reciprocal_overlap",
    "j17_coverage_summary", "v17_mmr_rerank", "v18_knn_classify",
    "c12_source_datasheet",
    "t35_code_quality", "t36_fim_split", "t37_skipgram_pairs",
    "e11_bleu", "e12_rouge", "g5_triangles", "c13_chat_validate",
    "s10_leakage_report", "w16_seasonality", "h4_context_pack",
    "e13_cohen_kappa", "w17_bot_regularity", "e14_bradley_terry",
    "g6_degree_powerlaw", "m7_audio_mp3", "c15_shard_manifest",
    "j18_interval_jaccard", "w18_ab_significance", "c16_schema_drift",
    "w19_stickiness",
    "g7_assortativity", "g8_kcore", "w20_cusum", "e15_edit_similarity",
    "e16_spearman", "s11_sqrt_mixing", "m8_png_meta", "e17_mcnemar",
    "c18_ks_drift", "e18_regression_metrics", "g9_cooccurrence",
    "m9_gif_meta", "j19_interval_cluster", "v19_sq_recall",
    "e19_krippendorff", "s12_sequence_pack",
    "e20_chrf", "e21_mann_whitney", "e22_average_precision",
    "t38_backoff_trigram", "s13_systematic_resample", "m10_bmp_meta",
    "w21_gini", "d20_cross_source_overlap", "w22_autocorrelation",
    "j20_genome_windows", "w23_seasonal_anomaly", "f11_winsorize",
    "c19_snapshot_retention",
    "d21_jaccard_containment", "t39_keyness", "t40_lexical_richness",
    "w24_interarrival", "e23_multiclass_report", "s14_neyman_allocation",
    "c20_license_scan", "g10_adamic_adar", "m11_wav_meta",
    "ml2_naive_bayes", "e24_bootstrap_ci", "g11_cooccur_lift",
    "v20_cosine_hist",
    "t41_vocab_growth", "w25_growth_accounting", "e25_bootstrap_delta",
    "m12_zip_meta",
    "t42_freq_spectrum", "t43_dispersion", "t44_sttr",
    "w26_entropy_rate", "e26_fleiss_kappa", "e27_wilcoxon",
    "g12_rich_club", "g13_reciprocity", "ml3_linreg", "m13_tar_meta",
    "w27_survival", "m14_webdataset_pairing",
    "w28_fano_factor", "g14_avg_neighbor_degree", "e28_kendall_tau",
    "t45_term_jsd", "d22_cluster_histogram")

  // Every query gets a section: the curated Headline ordering first
  // (scale-central plans up top, where a reviewer starts), then every
  // remaining query in name order — PLANS.md section count equals the
  // suite size by construction, never a curation gap again.
  private def allQueries: Seq[String] =
    Headline ++
      (graft.SparkEntry.queries.keySet -- Headline.toSet).toSeq.sorted

  // `explain("formatted")` of one query. d15's collected Bloom filter
  // rides in the plan as a binary literal (hundreds of KB of hex) —
  // elide anything literal-shaped past 64 hex chars, keeping the plan
  // structure readable
  private def plan(spark: SparkSession, sfDir: String, name: String): String = {
    val df = graft.SparkEntry.queries(name)(spark, sfDir)
    val out = new java.io.ByteArrayOutputStream()
    Console.withOut(new java.io.PrintStream(out)) { df.explain("formatted") }
    out.toString.trim.replaceAll(
      "0x[0-9A-F]{64}[0-9A-F]+", "0x<large binary literal elided>")
  }

  def main(args: Array[String]): Unit = {
    require(args.length <= 1 || args.length >= 4,
      "usage: DumpPlans [sfDir] | DumpPlans <sfDir> <round> <suffix> <query...>")
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val spark = GraftSession.harness("plans").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    if (args.length >= 4) {
      val (round, suffix) = (args(1), args(2))
      Files.createDirectories(Paths.get(s"plans/$round"))
      for (name <- args.drop(3)) {
        val file = s"plans/$round/${name}_$suffix.txt"
        Files.writeString(Paths.get(file), plan(spark, sfDir, name) + "\n")
        println(file)
      }
    } else {
      val sb = new StringBuilder
      sb.append("# PLANS — formatted physical plans of the headline queries\n\n")
      sb.append(s"Auto-generated by `graft.tools.DumpPlans` over `$sfDir`.\n")
      sb.append("Shapes to check: `PushedFilters`/`ReadSchema` on scans, ")
      sb.append("`BroadcastHashJoin` on dimension joins, `*` codegen markers, ")
      sb.append("no `CartesianProduct`.\n")
      val names = allQueries
      for (name <- names)
        sb.append(s"\n## $name\n\n```\n${plan(spark, sfDir, name)}\n```\n")
      Files.writeString(Paths.get("PLANS.md"), sb.toString)
      println(s"PLANS.md written (${names.size} plans)")
    }
    spark.stop()
  }
}
