package graft

/** Plan inspector: prints the formatted physical plan of each named query
  * (default: the scale-sensitive ones) so shuffle/broadcast/pushdown
  * regressions are visible without running anything.
  * Usage: runMain graft.Explain [sfDir] [name ...]
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val names = if (args.length > 1) args.drop(1).toSeq
      else Seq("q04_window_avg", "q05b_asof_shuffled", "q16_lineitem_pricing",
        "q17_segment_revenue", "qx2_cosine_topk", "qx3_ann_lsh",
        "qx4_minhash_lsh", "qx6_ngram_jaccard", "qx11_multimodal",
        "qx12_embed_neardup", "qx13_ann_ivf", "qx14_simhash_neardup",
        "qx15_ann_imi", "qx16_ann_kmeans",
        "qx17_substring_dup", "qx20_dup_clusters", "qx22_curation_pipeline",
        "qx24_chunking", "qx26_rare_terms",
        "qx41_incremental_dedup", "qx42_pq_adc", "qx43_ivf_pq", "qx44_ivfadc",
        "qx50_semantic_dedup", "qx54_bm25_search", "qx58_image_neardup",
        "qx59_lm_surprisal", "qx61_bpe_tokenize", "qx62_domain_cap",
        "qx63_quality_classifier", "qx70_span_dedup", "qx71_pagerank",
        "qx72_robots_filter", "qx73_hll_registers", "qx74_eval_overlap",
        "qx75_authority_cap", "qx76_audio_neardup", "qx77_wet_funnel",
        "qx78_zorder3", "qx79_hybrid_rrf", "qx81_priority_sample",
        "qx82_rendezvous_shard", "qx83_epoch_shuffle",
        "qx101_maxsim", "qx101b_maxsim_lsh", "qx102_label_prop",
        "qx103_logistic_distill", "qx104_unigram_em", "qx105_modularity",
        "qx106_dpr_triplets", "qx106b_dpr_indexed", "qx109_graph_ann",
        "qx110_graph_admit", "qx113_cell_graph", "qx116_community_cap",
        "qx118_ann_recall_audit", "qx119_shard_card_fold",
        "qx120_dedup_venn")
    // Under SPARK_GRAFT_FORCE_DIST=1 the plans show the distributed
    // spellings (the 100 TB path) instead of the LocalTableScan the size
    // gates collapse to at test SFs.
    val spark = GraftSession("graft-explain")
    names.foreach { n =>
      println(s"\n========== $n ==========")
      SparkEntry.queries(n)(spark, sfDir).explain("formatted")
    }
    spark.stop()
  }
}
