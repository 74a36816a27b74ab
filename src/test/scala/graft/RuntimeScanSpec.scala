package graft

import org.scalatest.funsuite.AnyFunSuite

/** MEASURED scan-count regression guard — the runtime companion to
  * PlanSpec's plan-text pin check. [[Meter.measure]] materializes
  * each query inside a QueryExecutionListener window, so checkpoint-pin
  * builds, cache builds, and bounded driver bookkeeping all contribute the
  * parquet scans they actually executed. The bounds below are the values
  * measured after the round-9 fixes (full audit: `SPARK_GRAFT_PROBE=scansrt
  * tools/run.sh graft.ScaleProbe`; triage of the deliberately-unfixed
  * flags: SCALING.md "Runtime scan audit"). A regression means a pin was
  * dropped, a small-aggregate reuse was replaced by a re-derivation, or a
  * new consumer was added upstream of a pin — each extra count is one more
  * full corpus pass per materialization at 100 TB.
  */
class RuntimeScanSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  private val sf = "/root/testdata/sf0.001"

  private val bounds: Seq[(String, String, Int)] = Seq(
    // round-9 measured-audit fixes
    ("q170_greedy_cover", "documents", 2),        // was 9: ids pin + checkpointed pick
    ("q334_blocking_width_curve", "customer", 1), // was 7: sample pin
    ("q212_blocking_quality", "customer", 1),     // was 5: sample pin
    ("q117_canonical_select", "documents", 3),    // was 7: window argmax + fp pin
    ("q61_dedup_groups", "documents", 2),         // was 4: collapseByContent fp pin
    ("q339_tfidf_cosine_neardup", "documents", 2), // was 4: no-join-back collapse
    ("q174_curation_funnel", "documents", 1),     // was 3: single-pass funnel
    ("q125_keyness", "documents", 2),             // was 4: vocab-agg pins
    ("q74_cms_counts", "lineitem", 2),            // was 4: exact-agg pin
    // the one SCALE-DEPENDENT finding: Bfs/LabelProp re-derived their lazy
    // edge frame once per round, so q124's corpus scans ROSE with graph
    // diameter (3 at sf0.001 -> 5 at sf0.01); the ops now persist edges
    ("q124_khop_bfs", "documents", 1),
    ("q134_lpa_communities", "documents", 1),
    ("q168_shortest_path", "documents", 2),       // was 3: symmetrize counts, not occurrences
    ("q36_norm_dedup", "documents", 1),
    // the round-8 pinned set, runtime-confirmed (pin builds included)
    ("q220_ktruss", "customer", 2),
    ("q201_clustering_coefficient", "customer", 2),
    ("q208_link_prediction", "customer", 2),
    ("q167_ppjoin", "documents", 1),
    ("q249_markov_stationary", "events", 2),
    ("q236_lang_cosine", "documents", 1),
    ("q308_fellegi_sunter", "documents", 1),
    ("q313_skipgram_pairs", "documents", 1),
    // triaged-at-3: disjoint predicate-pushed event splits (see SCALING.md)
    ("q309_funnel_exclusion", "events", 3),
    ("q217_bigram_fluency", "documents", 3),
    // round-11: fixpoint truss (edge build + pin, rounds read checkpoints
    // only); tokenize→pack (one train scan + one encode scan)
    ("q355_ktruss_fixpoint", "customer", 2),
    ("q356_tokenize_pack", "documents", 2),
    // round-12: master curation chain (corpus pin + bench slice);
    // repeated-span dedup (harness + lattice + reassembly off one pin)
    ("q357_curation_pipeline", "documents", 2),
    ("q358_repeated_spans", "documents", 1))

  bounds.foreach { case (name, table, bound) =>
    test(s"$name executes <= $bound $table scans per materialization") {
      val counts = Meter.measure(spark)(
        Queries.byName(name).fn(spark, sf)).scans
      val got = counts.getOrElse(table, 0)
      assert(got <= bound,
        s"$name measured $table=$got > $bound (all: $counts)")
      spark.sharedState.cacheManager.clearCache()
    }
  }

  // The full deliberately-over-2 set, pinned AT its measured value — the
  // round-9 full-audit flags (50 queries, SCALING.md triage: ANN
  // signature-build + a-side/b-side vector lookups; disjoint
  // predicate-pushed fact splits that each read LESS than one pass after
  // pushdown; two-batch re-ingest simulations at 6). These counts are the
  // accepted cost model; the test exists so a plan change that silently
  // adds a corpus pass to any of them fails CI rather than surfacing as a
  // 100 TB fabric-bill surprise. Grouped into one test per table family to
  // keep suite runtime bounded.
  private val triaged: Seq[(String, String, Int)] = Seq(
    ("q68_sql_topk_cosine", "embeddings", 3), ("q48_ivf_knn", "embeddings", 4),
    ("q54_ivf_trained", "embeddings", 4), ("q66_cell_knn_join", "embeddings", 3),
    ("q44_cross_batch_dup", "embeddings", 6), ("q104_ivf_recall", "embeddings", 5),
    ("q105_semdedup", "embeddings", 3), ("q106_incremental_embed", "embeddings", 6),
    ("q112_hard_negatives", "embeddings", 4), ("q115_random_negatives", "embeddings", 3),
    ("q122_mmr_rerank", "embeddings", 3), ("q182_grid_density", "embeddings", 3),
    ("q190_cluster_purity", "embeddings", 4), ("q191_knn_label_agree", "embeddings", 4),
    ("q204_harmonic_centrality", "embeddings", 4), ("q240_ndcg", "embeddings", 4),
    ("q318_metric_disagreement", "embeddings", 3), ("q332_nn_descent", "embeddings", 3),
    ("q341_knn_graph_connectivity", "embeddings", 3),
    ("q77_bm25", "documents", 3), ("q96_hybrid_rrf", "documents", 3),
    ("q97_lm_perplexity", "documents", 3), ("q121_cooccur_lift", "documents", 3),
    ("q154_allocation", "documents", 3), ("q172_apriori_triples", "documents", 3),
    ("q216_importance_score", "documents", 3), ("q225_tv_drift", "documents", 3),
    ("q267_reciprocity", "documents", 3),
    ("q81_funnel", "events", 4), ("q94_hll_union", "events", 3),
    ("q136_windowed_hll", "events", 3), ("q142_km_survival", "events", 3),
    ("q157_conversion_latency", "events", 4), ("q165_ks_drift", "events", 3),
    ("q221_nearest_event", "events", 3), ("q276_nelson_aalen", "events", 3),
    ("q278_bitemporal_asof", "events", 3), ("q280_calendar_gaps", "events", 3),
    // q309 already pinned individually above
    ("q319_walkforward_folds", "events", 3),
    ("q132_corr_grid", "lineitem", 3), ("q286_fd_audit", "lineitem", 3),
    ("q292_encoding_estimate", "lineitem", 4), ("q242_ref_integrity", "orders", 4),
    ("q153_sql_correlated", "orders", 3), ("q161_rfm_segments", "orders", 4),
    ("q268_decile_lift", "orders", 3), ("q239_bloom_fpr", "customer", 4))

  triaged.groupBy(_._2).foreach { case (table, rows) =>
    test(s"triaged $table family holds its measured scan counts") {
      rows.foreach { case (name, _, bound) =>
        val counts = Meter.measure(spark)(
          Queries.byName(name).fn(spark, sf)).scans
        val got = counts.getOrElse(table, 0)
        assert(got <= bound,
          s"$name measured $table=$got > $bound (all: $counts)")
        spark.sharedState.cacheManager.clearCache()
      }
    }
  }
}
