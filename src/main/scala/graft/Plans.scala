package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FormattedMode, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}

/** Plan dumps. `runMain graft.Plans <sfDir>` prints the formatted
  * physical plans of the flagship queries (the PLANS.md generator);
  * `runMain graft.Plans <sfDir> [names…]` runs the named queries and
  * prints each one's executed plan with node metrics. */
object Plans {
  val flagship = Seq("q2_point", "q9_semijoin", "q13_topk", "q16_join3",
    "q18_tpch1", "x7_ngram_jaccard", "x8_minhash_lsh", "q23_knn",
    "x10_embed_neardup", "x11_ann_lsh", "x16_admission",
    "x20_ann_ivf", "x21_sessionize", "x22_asof",
    "x25_simhash_neardup", "x26_langid_trigram", "x27_mktshare",
    "x34_dedup_clusters", "x36_contamination", "x37_colocated_join",
    "x39_boilerplate", "x40_dedup_canonical", "x41_stratified_sample",
    "x42_familiarity", "x43_seq_pack", "x44_source_mix",
    "x49_window_frame", "x50_pagerank", "x60_sessionize", "x61_tfidf",
    "x63_scalar_quant", "x65_winnowing", "x67_bloom_join",
    "x72_repeated_spans", "x73_boilerplate_filter", "x74_corpus_gate",
    "x75_range_frame", "x76_tpch5", "x79_tpch19", "x80_group_sample",
    "x81_er_fuzzy", "x82_nullsafe_join", "x83_triangles",
    "x85_span_removal", "x86_decontaminate", "x95_span_removal_runs",
    "x96_bpe_merges", "x97_backoff_lm", "x98_image_dhash",
    "x99_bpe_encode", "x100_seq_packing", "x101_tpch4", "x102_tpch6",
    "x103_tpch12", "x104_tpch13", "x105_tpch17", "x106_tpch18",
    "x107_tpch22", "x108_tpch15", "x109_tpch21",
    "x110_audio_fingerprint", "x111_kmeans_topics", "x112_video_probe",
    "x113_video_fingerprint", "x94_bm25", "x114_cluster_sample",
    "x115_semantic_dedup_kmeans", "x116_jpeg_dhash",
    "x117_epoch_shuffle", "x118_cluster_split",
    "x120_quality_canonical", "x121_source_cap", "x122_quality_corpus",
    "x123_curriculum_order", "x124_contrastive_pairs",
    "x125_source_scorecard", "x126_retention_funnel",
    "x127_embed_contrastive", "x128_hybrid_retrieval",
    "x129_dsir_selection", "x130_span_containment", "x131_chunk_windows",
    "x132_dup_chunks", "x133_chunk_bm25", "x134_dsir_resample",
    "x135_toxicity", "x136_shard_export", "x137_ann_recall",
    "x138_srp_recall", "x139_dedup_audit", "x140_minhash_audit",
    "x141_term_stats", "x142_ivf_recall_curve", "x143_dsir_target",
    "x144_phrase_search", "x145_best_window", "x146_prefix_vocab",
    "x147_proximity", "x148_pq_codebook", "x149_pq_adc",
    "x150_srp_radius_curve", "x151_pq_rerank_curve", "x152_ivfadc",
    "x153_filtered_ivfadc", "x154_filtered_recall")

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    // 8 cores on every box: formatted plans embed the shuffle partition
    // count, and PLANS.md (like PlanSpec's session) is taken at 8
    val spark = Sessions.create(cores = 8, logLevel = "ERROR")
    if (args.length > 1) args.drop(1).foreach(explainExecuted(spark, sfDir, _))
    else {
      println("# PLANS - formatted physical plans of flagship queries")
      println()
      println(s"Generated by `runMain graft.Plans $sfDir`. The shapes asserted")
      println("by PlanSpec (pushdown, pruning, broadcasts, top-k, partial agg)")
      println("are visible here; see SCALING.md for the 100 TB argument.")
      flagship.foreach { name =>
        println(s"\n## $name\n")
        println("```")
        println(SparkEntry.queries(name)(spark, sfDir)
          .queryExecution.explainString(FormattedMode).take(60000))
        println("```")
      }
    }
    spark.stop()
  }

  /** Runs `name` and prints its EXECUTED plan, one node per line with
    * the node's non-zero time, row, file and spill metrics — the
    * iterate-until-it's-the-plan-you-want loop. */
  private def explainExecuted(spark: SparkSession, sfDir: String, name: String): Unit = {
    def walk(p: SparkPlan, depth: Int): Unit = {
      val interesting = p.metrics.filter { case (k, m) =>
        (k.toLowerCase.contains("time") || k == "numOutputRows" ||
          k == "numFiles" || k.contains("spill")) && m.value > 0
      }.map { case (k, m) => s"$k=${m.value}" }.mkString(" ")
      println(s"[metrics] ${"  " * depth}${p.nodeName} $interesting")
      p match {
        case a: AdaptiveSparkPlanExec => walk(a.executedPlan, depth + 1)
        case q: QueryStageExec => walk(q.plan, depth + 1)
        case other => other.children.foreach(walk(_, depth + 1))
      }
    }
    val df = SparkEntry.queries(name)(spark, sfDir)
    val t0 = System.nanoTime()
    df.collect()
    println(f"[explain] ==== $name (${(System.nanoTime() - t0) / 1e9}%.3f s) ====")
    walk(df.queryExecution.executedPlan, 0)
  }
}
