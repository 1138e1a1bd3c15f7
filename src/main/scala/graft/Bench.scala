package graft

/** Benchmark main: runs the headline queries on SPARK_GRAFT_SF_DIR and
  * prints ONE JSON line. A query that throws is reported in `errors`
  * and EXCLUDED from the timing totals — a broken query must never be
  * indistinguishable from a slow one.
  */
object Bench {
  /** Headline subset: one representative per heavy operator family
    * (join, agg, window-slice, union, engine pipeline, dedup,
    * similarity, text). Falls back to all queries if a name is gone.
    */
  val headline: Seq[String] = Seq(
    "j1_left_join", "j6_semi_join", "a1_summarise_minmax", "a3_groupby_slice",
    "a5_rollup", "a6_pivot",
    "p4_unique_columns", "r1_bind_rows", "r5_intersect", "c5_attach_sumeq",
    "engine_pipeline", "engine_study", "s1_nested_roundtrip",
    "s1_keyed_scan", "s8_export_flatten",
    "w1_event_windows", "w2_json_props",
    "asof_click_before_purchase", "range_attribution",
    "dedup_exact", "dedup_minhash_pairs", "dedup_near_keep", "dedup_simhash_pairs",
    "dedup_jaccard_audit_capped",
    "sim_cosine_topk", "sim_knn_join", "sim_ann_topk", "sim_ivf_topk",
    "text_quality", "text_langid", "text_fingerprint", "text_top_terms",
    "sample_stratified", "sample_unimax",
    "pipeline_preprocess", "pipeline_train_prep",
    "asof_next_purchase_after_click", "mm_binary_meta",
    "sketch_corpus_ndv", "decontam_overlap", "pack_sequences",
    "bloom_prefilter_join", "dedup_kgram_coverage", "sketch_heavy_hitters",
    "sim_quant_recall", "text_bpe_pairs", "text_chunks", "dsir_weights",
    "funnel_stages", "drift_lang", "mm_video_meta",
    "ret_bm25_topk", "sim_semdedup_keep", "event_rfm", "drift_snapshot",
    "decontam_minhash", "pipeline_incremental", "sim_semdedup_bucketed",
    "ret_hybrid_topk", "sample_cluster_balanced", "text_lm_score", "text_novelty",
    "event_outliers", "er_groups", "er_pairs_subblocked", "er_subblock_recall",
    "er_refused_subblocks", "er_pairs_banded", "er_banded_recall",
    "er_pairs_minhash_sub", "er_subblock_recall_sampled", "er_groups_banded",
    "sample_unimax_schedule", "pack_unimax_budget",
    "er_incremental_pairs", "er_incremental_assign",
    "er_incremental_banded", "er_incremental_recall", "er_incremental_assign_banded",
    "er_incremental_merges", "er_incremental_resolve",
    "er_incremental_recall_sampled", "er_incremental_refused",
    "graph_pagerank", "session_concurrency",
    "profile_events", "range_overlap_join", "sketch_union_ndv", "event_trend",
    "scd2_history", "profile_day_islands",
    "epoch_shuffle", "select_token_budget", "span_clean_stats",
    "dedup_near_keep_best", "dq_summary", "dq_row_flags", "ivm_event_stats",
    "score_calibrate", "winsorize_events", "span_cut_text",
    "colloc_lift_topk", "overlap_source_matrix",
    "dedup_cdc_coverage", "dedup_novelty_curve",
    "dedup_incremental_near", "sim_label_consistency",
    "sample_cluster_split", "sample_cluster_split_capped", "corpus_datasheet",
    "text_gopher_rules", "text_token_windows",
    "decontam_semantic", "mine_contrastive_pairs",
    "text_entropy", "vocab_overlap_matrix", "bpe_fertility_by_source",
    "text_skipgram_lift", "doc_length_outliers",
    "dedup_threshold_curve", "dedup_threshold_curve_capped",
    "curation_funnel", "s15_ivf_model_roundtrip",
    "s16_ivf_cell_layout", "text_blocklist", "pipeline_curation_config",
    "pipeline_curation_v2",
    "w6_curation_gate_twin", "mixture_temperature",
    "er_merge_log_compact", "er_band_evidence", "er_recommend_bands",
    "mm_cdc_chunks", "mm_neardup_pairs", "mm_neardup_coverage",
    "mm_neardup_keep", "mm_neardup_clusters", "mm_neardup_incremental",
    "mm_neardup_incr_indexed", "mm_gear_reassembly", "mm_neardup_incr_gear",
    "text_bpe_train", "bpe_fertility_trained", "mm_neardup_pairs_indexed",
    "text_kn_score", "text_kn_buckets", "s17_ivf_append",
    "quality_probe_train", "quality_probe_score", "quality_probe_eval",
    "text_kn_incremental", "text_kn3_score", "sim_ivf_quant_topk",
    "s18_ivf_quant_layout", "sim_ivf_quant_rerank",
    "mm_erase_index", "s18_ivf_erase", "s18_ivf_quant_erase", "text_kn_erase",
    "s18_ivf_quant_append", "text_kn3_incremental", "quality_probe_refit",
    "pipeline_train_prep_v2")

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession.local("bench", benchSplits = true)
    val all = headline.filter(SparkEntry.queries.contains) match {
      case Nil => SparkEntry.queries.keys.toSeq.sorted
      case hs => hs
    }
    // SPARK_GRAFT_BENCH_ONLY=q1,q2 re-measures a subset in isolation —
    // tools/benchdiff.py uses it to re-time flagged movers when
    // classifying a cross-round swing as noise vs real
    val names = sys.env.get("SPARK_GRAFT_BENCH_ONLY") match {
      case Some(subset) =>
        val keep = subset.split(",").map(_.trim).filter(_.nonEmpty).toSet
        all.filter(keep.contains)
      case None => all
    }
    GraftSession.warmUp(spark, sfDir)
    // median-of-N per query: single-run timings swung 0.25x-4.7x
    // between rounds on UNCHANGED code (whichever query first hits a
    // cold code path eats the JIT/codegen bill), which made real
    // regressions indistinguishable from noise. The median of 3
    // back-to-back runs is stable to ~1.2x; min/max spread is kept in
    // the JSON so a reader can see when a number is still noisy.
    val reps = GraftSession.reps(3)
    var timings = Vector.empty[(String, Seq[Double])]
    var errors = Vector.empty[(String, String)]
    names.foreach { name =>
      var err: Option[String] = None
      // phased queries (SparkEntry.benchPhases) report one entry per
      // phase ("name#write", "name#read") instead of a single fused
      // timing — the phases sum to the roundtrip, so totals compare
      // across rounds
      SparkEntry.benchPhases.get(name) match {
        case Some(mk) =>
          val phaseTimes = scala.collection.mutable.LinkedHashMap.empty[String, Vector[Double]]
          (0 until reps).foreach { _ =>
            if (err.isEmpty) {
              try mk(spark, sfDir).foreach { case (phase, thunk) =>
                val t0 = System.nanoTime()
                thunk()
                phaseTimes(phase) =
                  phaseTimes.getOrElse(phase, Vector.empty) :+ (System.nanoTime() - t0) / 1e9
              } catch {
                case e: Throwable =>
                  err = Some(Option(e.getMessage).getOrElse(e.getClass.getName).take(120))
              }
            }
          }
          err match {
            case Some(msg) => errors :+= name -> msg
            case None => phaseTimes.foreach { case (ph, ts) => timings :+= s"$name#$ph" -> ts }
          }
        case None =>
          val fn = SparkEntry.queries(name)
          val runs = (0 until reps).flatMap { _ =>
            if (err.isDefined) None  // a throwing query throws every rep — stop at the first
            else {
              val t0 = System.nanoTime()
              try {
                fn(spark, sfDir).write.mode("overwrite").format("noop").save()
                Some((System.nanoTime() - t0) / 1e9)
              } catch {
                case e: Throwable =>
                  err = Some(Option(e.getMessage).getOrElse(e.getClass.getName).take(120))
                  None
              }
            }
          }
          err match {
            case Some(msg) => errors :+= name -> msg
            case None => timings :+= name -> runs
          }
      }
    }
    import GraftSession.median
    def jstr(s: String) = "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"")
      .replaceAll("[\\x00-\\x1f]", " ") + "\""
    // µs precision (r19): raw Double.toString printed 15-17 chars per
    // timing and the round-17 JSON line was lost to a capture-tail
    // truncation mid-line; 6 decimals is far below measurement noise
    // and keeps the one-line JSON ~40% shorter. Same timings, same
    // methodology — formatting only.
    def jnum(d: Double) = f"$d%.6f"
    val qs = timings.map { case (k, v) => s"${jstr(k)}:${jnum(median(v))}" }.mkString("{", ",", "}")
    val sp = timings.map { case (k, v) =>
      s"${jstr(k)}:{\"min\":${jnum(v.min)},\"max\":${jnum(v.max)},\"runs\":${v.length}}"
    }.mkString("{", ",", "}")
    val es = errors.map { case (k, v) => s"${jstr(k)}:${jstr(v)}" }.mkString("{", ",", "}")
    val total = timings.map { case (_, v) => median(v) }.sum
    println(s"""{"metric":"total","value":${jnum(total)},"unit":"sec","reps":$reps,"queries":$qs,"spread":$sp,"errors":$es,"sf":${jstr(sfDir)}}""")
    spark.stop()
    // A round with broken queries must not land with rc=0 (round 9 did:
    // 10 event-family errors, rc 0). The JSON line above is already on
    // stdout — the driver still gets full timings — but the process
    // exit code now machine-readably says "this bench had failures".
    if (errors.nonEmpty) {
      System.err.println(s"[bench] ${errors.length} queries failed: " +
        errors.map(_._1).mkString(", "))
      sys.exit(1)
    }
  }
}
