package graft
import java.nio.file.{Files, Paths}

/** Plan-audit dump: `explain("formatted")` of every SparkEntry query to
  * one file per query, for reviewing scan pushdown / join strategy /
  * codegen spans without executing anything. */
object Explain {
  /** Queries whose BUILDER executes work (streaming replays, ML fits,
    * sink round-trips, plan-evidence checkpoints) — excluded from pure
    * plan dumps and from the plan-invariant sweep. */
  val eager: Set[String] = Set(
    "q33_events_hourly_streaming", "q34_events_session_streaming",
    "q38_events_hourly_append", "q39_stream_dedup", "q3a_stream_stream_join",
    "q3b_stream_static_join", "q3c_foreach_batch", "q2a_compaction",
    "q28_warehouse_roundtrip", "q29_jsonl_roundtrip", "q2b_orc_roundtrip",
    "q2c_merge_upsert", "q2e_schema_evolution", "q2f_zorder_layout",
    "q3g_stream_outer_join", "q3k_partitioned_sink",
    "q3d_transform_with_state", "q0a_bloom_join", "q0b_bucketed_join",
    "q70_kmeans_selection", "q71_kmeans_e2e", "q72_als_e2e", "q73_als_cv_grid",
    "q74_sse_parity", "q62_ann_lsh_topk", "q63_ivf_topk", "q53_minhash_lsh_ml",
    "q4l_cms_heavy_hitters", "q6e_pca_audit", "q3l_checkpoint_recovery",
    "q0f_dynamic_partition_pruning", "q6f_centroid_coherence",
    "q6i_ivfpq_topk", "q5k_kcore", "q6j_pq_trained_audit",
    "q4w_quality_classifier", "q2o_csv_roundtrip", "q0g_exchange_reuse",
    "q3t_stream_approx_distinct", "q2p_cdc_apply",
    "q3v_available_now", "q0h_aqe_skew_split", "q2r_dynamic_overwrite",
    "q6n_ivf_probe_curve", "q2s_cbo_statistics", "q0i_aqe_coalesce",
    "q3y_late_data_drop", "q8k_mmr_rerank", "q8m_kcenter_coreset",
    // q1x runs a bounded segment-count probe in its builder (the BH
    // ladder arity guard) — a data-dependent require that must not run,
    // or abort the sweep, during pure plan inspection
    "q1x_fdr_segments",
    // q9j's builder drives the observed pass (metrics only exist after
    // an action) — builder-eager by construction
    "q9j_observed_scan",
    // q9m replays the stream through foreachBatch in its builder
    "q9m_stream_contract",
    // q9z sequences its stage caches and runs the CC fixpoint in the
    // builder (the q57 machinery composed) — ~20 s of real pipeline
    // that must not run during pure plan inspection
    "q9z_curation_pipeline",
    // qa7's builder drives the full V2 write commit protocol — the
    // graded stats only exist after the write executed
    "qa7_dsv2_sink",
    // qa8 replays the custom micro-batch stream to completion
    "qa8_streaming_source",
    // qa9/qaj load (fitting on store miss) the persisted models in
    // their builders — ModelStore ensure + MLReader.load are eager
    "qa9_als_serving", "qaj_model_persistence",
    // qak's builder runs the pushed-limit count and the declined-sum
    // probe to fold their values into the contract row
    "qak_agg_pushdown",
    // qal replays the custom stream through two checkpointed query
    // lifetimes in its builder
    "qal_stream_restart",
    // qap builds (on store miss) and loads the persisted IVF index,
    // then runs the probe/overlap counts in its builder
    "qap_persisted_ann",
    // qaq writes the sharded export in its builder before reading it back
    "qaq_sorted_export",
    // qar loads the index, writes the delta segment and runs the
    // checksum/top-1 probes in its builder
    "qar_incremental_ann",
    // qat flips the v2.bucketing session conf around plan construction
    "qat_spj_join",
    // qei's builder consumes the change feed twice (the option-vs-
    // Scala equality probe) AND needs the session-construction-time
    // CdfReadOptionRule — absent in the shared plan-audit session
    "qei_cdf_read_option",
    // qek drives the full statement lifecycle (CALLs, CDF option
    // reads, rename, update) in its builder — eager by construction
    // and CdfReadOptionRule-dependent like qei
    "qek_lakehouse_lifecycle",
    // qel flips the v2.bucketing/AQE session confs around plan
    // construction and executes the join for exchange evidence (the
    // qat/qdz shape)
    "qel_spj_mor_join",
    // qen replays two checkpointed streaming runs (one with a planned
    // mid-backlog failure) in its builder — eager by construction
    "qen_stream_admission",
    // q2i/q1p run distributed global-index jobs (zipWithIndex) in
    // their builders — the round-12 window-audit fix traded the
    // single-partition window for builder-eager exact ranks
    "q2i_rfm_segments", "q1p_key_skew_profile",
    // q7c's popularity rank rides the same distributed global index
    "q7c_cf_coverage",
    // qep replays two checkpointed streaming runs across a rename
    // commit plus the CDF stream in its builder — eager by construction
    "qep_stream_across_rename",
    // qer flips the v2.bucketing/AQE session confs around plan
    // construction and executes three joins for exchange evidence
    // (the qat/qdz/qel shape)
    "qer_sql_reshard",
    // qeu needs the session-construction-time ViewSubstitutionRule
    // (absent in the shared plan-audit session) and drives view DDL
    // CALLs in its builder
    "qeu_sql_views",
    // qex needs the session-construction-time MorDmlRule (the
    // merge-on-read UPDATE router) and drives the full DML lifecycle
    // plus its copy-on-write twin in its builder
    "qex_sql_update_mor")

  def main(args: Array[String]): Unit = {
    val sfDir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.01"
    val outDir = if (args.length > 1) args(1) else "/tmp/graft_plans"
    val spark = GraftSession.build(4)
    spark.sparkContext.setLogLevel("ERROR")
    new java.io.File(outDir).mkdirs()
    SparkEntry.select(Nil).foreach { case (name, fn) =>
      if (!eager(name)) {
        try {
          val plan = fn(spark, sfDir).queryExecution.explainString(
            org.apache.spark.sql.execution.FormattedMode)
          Files.writeString(Paths.get(s"$outDir/$name.txt"), plan)
        } catch { case e: Throwable =>
          System.err.println(s"[explain] $name failed: ${e.getMessage}")
        }
      }
    }
    spark.stop()
  }
}
