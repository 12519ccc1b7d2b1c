package graft.tools

import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}

/** Dumps formatted physical plans (`explain("formatted")`), so the
  * scan/pushdown/broadcast/exchange structure argued in SCALE.md is
  * inspectable without running anything. Two output modes:
  *  - `runMain graft.tools.DumpPlans [sfDir] [outFile]` regenerates
  *    PLANS.md, the plans of the headline queries;
  *  - `runMain graft.tools.DumpPlans --files <suffix> <q1,q2,...> [sfDir] [outDir]`
  *    writes one file per named query, `<outDir>/<name>_<suffix>.txt`
  *    (default outDir `plans/r14`): before/after plan evidence. */
object DumpPlans {
  private val Headline = Seq(
    "q1_agg", "q3_shipping", "q5_nation_revenue", "e5_asof_join",
    "d1_knn", "ann_lsh_knn", "dedup_ppjoin", "dedup_minhash_lsh",
    "dedup_simhash_near", "skew_salted_agg", "c11_cube",
    "w1_window_suite", "g2_sessionize", "q6_anomaly",
    "dedup_cluster_cc", "feat1_quantile_bins_scale", "ann_recall",
    "text_repetition", "text_contamination", "curation_pipeline_full",
    "dedup_semantic", "ann_int8_knn", "pack_sequences", "dedup_substring",
    "text_lm_quality", "export_shards",
    "dedup_semantic_p8", "ann_rule_multiprobe", "f2_f4_tsrank_snowball",
    "layout_zorder", "ann_ivfpq_knn",
    "graph_pagerank", "quality_classifier", "chunk_windows", "bpe_encode",
    "dedup_incremental", "split_leakage_safe",
    "curation_funnel", "ann_pq_exact", "bpe_encode_fixed",
    // select_dsir stands in for classifier_nb_score too: same broadcast
    // literal-array + row-local fold shape, 16× smaller model literal
    "select_dsir",
    "ann_ivf_trained_exact", "hll_distinct_exact", "ann_ivfpq_exact",
    // round-8 cluster-derived selection + centroid-outlier ops
    "dedup_keep_best", "select_soft_dedup", "select_stratified",
    "select_embed_outliers",
    // round-8 retrieval / selection-band / sequence-model additions:
    // broadcast one-row stats + TakeOrdered (bm25), broadcast vocab join
    // (coverage), per-lang window over a joined score (band), per-user
    // LEAD window into a tiny matrix (markov)
    "rank_bm25", "vocab_coverage", "select_ccnet_band", "g7_markov",
    // round-9 additions: percentile-cut band twin (no per-lang total
    // order), value-space 16-bit band join (candidates bounded by the
    // signature space), one-pass moment aggregation + broadcast-literal
    // projection (the big-n-small-d PCA pair)
    "select_ccnet_band_scale", "dedup_image_phash",
    "embed_covariance", "embed_pca", "embed_whiten", "embed_drift",
    "embed_jl_project",
    // round-10 additions: exact integer Lloyd k-means (broadcast
    // centroid-matrix row + codegen argmin), its SemDeDup-recipe dedup
    // consumer, the direct-byte phash scan, and blocked Levenshtein ER
    "embed_kmeans", "select_cluster_balanced", "dedup_semantic_kmeans",
    "multimodal_phash", "dedup_fuzzy_entity", "report_dataset_card",
    "embed_kmeans_routed", "mix_cluster_budget", "contamination_semantic",
    // round-10 tail: tile-dedup reassembly (small winner build side),
    // winnowing's bounded per-doc window + capped inverted-index join
    "dedup_paragraph", "dedup_winnowing", "bpe_fertility",
    // round-10 close: row-local CDC chunk fold, single-shuffle native
    // FFD pass, per-shard cumsum sampling window, two-agg-per-round LPA
    "dedup_cdc_chunks", "pack_bins_nosplit", "samp4_pps_systematic",
    "graph_lpa_communities", "text_readability",
    // round-10 last wave: k fixed argmax jobs, store anti-join delta,
    // banded top-k, row-local Bernoulli
    "select_kcenter", "dedup_cdc_incremental", "mine_hard_negatives",
    "samp5_pps_poisson",
    // round-11: maximal duplicated-span detection (positional gram hashes
    // -> freq self-join -> per-doc islands window) and its removal
    // consumer (spans join back on doc_id, row-local indexed token filter)
    "dedup_substring_maximal", "dedup_substring_clean",
    "contamination_spans",
    // round-12: delta-ingestion span screen (store-sized hash join on
    // 8-byte keys), the span-length histogram (tiny groupBy over the
    // spans table), and the three new exactness twins (fixture-sized by
    // construction: slice-bounded train, 256-row planted spectrum,
    // row-local decode loop)
    "dedup_substring_incremental", "dedup_substring_stats",
    "bpe_train_exact", "embed_pca_exact", "multimodal_decode_fixed",
    // round-14: the production gram-store layout — the probe join's
    // store side must show a bucketed scan with NO Exchange and NO Sort
    "dedup_substring_store",
    // round-12 second wave: URL curation front door (row-local codegen'd
    // canonicalization; one hash-partitioned window on the canon key;
    // bounded domain aggregate broadcast back) and the unigram-LM
    // tokenizer (corpus-sized explode + hash agg, Viterbi UDF strictly
    // on the post-agg distinct-word table)
    "url_canonicalize", "dedup_url", "web_domain_prior",
    "unigram_encode_fixed", "unigram_train_prune",
    // round-12 third wave: URL-feature gate (same doc_id-only scan as
    // the canonicalizer) and per-source frequency boilerplate strip
    // (tile explode + 8-byte-hash doc-frequency agg + broadcast back-join)
    "url_quality_gate", "text_boilerplate_strip",
    // round-13: the whitening exactness twin (fixture-sized planted
    // spectrum through the real train/whiten path + a 1-row broadcast
    // identity-covariance contract), and the unigram encode now running
    // the native Viterbi expression instead of the UDF (same plan shape,
    // no encoder round-trip)
    "embed_whiten_exact")

  def main(args: Array[String]): Unit = args.toList match {
    case "--files" :: suffix :: names :: rest =>
      val dir = rest.headOption.getOrElse("/root/testdata/sf0.001")
      val outDir = rest.lift(1).getOrElse("plans/r14")
      Files.createDirectories(Paths.get(outDir))
      withPlans(names.split(",").toSeq, dir) { (name, formatted) =>
        Files.writeString(Paths.get(outDir, s"${name}_$suffix.txt"), formatted)
        println(s"[planfile] $outDir/${name}_$suffix.txt")
      }
    case "--files" :: _ =>
      sys.error("usage: DumpPlans --files <suffix> <q1,q2,...> [sfDir] [outDir]")
    case _ =>
      val dir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.001"
      val out = if (args.length > 1) args(1) else "PLANS.md"
      val sb = new StringBuilder
      sb.append("# PLANS — formatted physical plans of the headline queries\n\n")
      sb.append(s"Generated by `graft.tools.DumpPlans` against `$dir`.\n")
      sb.append("Read together with SCALE.md: every pushed filter, broadcast\n")
      sb.append("side, exchange and codegen span claimed there is visible here.\n")
      withPlans(Headline, dir) { (name, formatted) =>
        sb.append(s"\n## $name\n\n```\n$formatted```\n")
      }
      Files.writeString(Paths.get(out), sb.toString)
      println(s"[plans] wrote $out (${Headline.size} queries)")
  }

  /** Hands the formatted plan of each query in `names`, built over the
    * tables in `dir`, to `emit`, in a local session of its own. */
  private def withPlans(names: Seq[String], dir: String)(emit: (String, String) => Unit): Unit = {
    val spark = SparkSession.builder().master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    names.foreach { name =>
      val df = graft.SparkEntry.queries(name)(spark, dir)
      emit(name, df.queryExecution.explainString(org.apache.spark.sql.execution.FormattedMode))
      spark.catalog.clearCache()
      graft.operators.ConnectedComponents.freeAll()
    }
    spark.stop()
  }
}
