package graft.tools

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.SparkSession
import graft.Registry

/** Dev utility: dump `explain("formatted")` for the headline queries
  * into PLANS.md — the written evidence that each flagship plan is the
  * one designed for (pushdown reaching the scan, dims broadcast,
  * partial aggregation, TakeOrderedAndProject, the custom TopKPerKey
  * phases). Regenerate after plan-affecting changes, from the
  * checkout whose PLANS.md it rewrites (or name the output file):
  *
  *   tools/run.sh graft.tools.DumpPlans <sfDir> [<PLANS.md path>] [<q1,q2>]
  *
  * With the third argument, a comma-separated list of headline query
  * names, only those are planned and only their `## <name>` sections
  * are replaced; every other byte of the file stays as it was.
  */
object DumpPlans {
  private[graft] val headline = Seq(
    "q1_pricing_summary", "Q_JOIN2_broadcast_dims", "Q_JOIN14_profit",
    "Q_TOPK1_global", "Q_TOPK3_custom", "Q_AGG1_groupby",
    "C8_pk_pushdown", "N_SIM1_cosine_topk", "N_DEDUP2_minhash_lsh",
    "N_SKETCH1_cms", "Q_JOIN15_binned_range", "C17_compaction",
    "N_SIM6_hyperplane_lsh", "N_DEDUP7_segment_dedup",
    "N_PIPE1_curation_funnel", "C24_reconcile_scan",
    "C29_full_read_path", "C14b_typed_connector_scan",
    "C5b_range_tombstone_scan", "C10b_counter_scan",
    "C11b_collection_scan", "C18b_index_scan",
    "C44_value_zone_scan", "C42_repair_read", "C42c_typed_repair",
    "C43_snapshot_read", "C41_token_range_scan",
    "C28b_cell_ttl_scan", "C47_quorum_read",
    "N_SCORE2_lm_perplexity", "C28c_typed_ttl_scan",
    "C49_partition_stats", "C50_hinted_handoff", "C52_paged_scan",
    "N_SIM8_product_quant", "N_SIM9_pq_rerank", "N_DEDUP9_semdedup",
    "N_EVAL3_bloom_decontam", "C18e_range_index_scan",
    "C36c_composite_key_scan", "C49b_typed_partition_stats",
    "C52b_typed_paged_scan", "C58_dropped_columns",
    "C59_frozen_udt", "C61_range_movement",
    // round 8
    "Q_TPCH3_shipping_priority", "Q_TPCH4_priority_exists",
    "Q_TPCH8_market_share", "Q_TPCH21_waiting_supplier",
    "N_SKETCH2_kmv_distinct", "N_SKETCH3_hll_registers",
    "N_MIX1_domain_weights", "C49c_row_stats", "C63_select_json",
    "C64_contains_index", "C65_cql_select", "C65b_cql_group",
    "Q_TPCH2_min_cost_supplier", "Q_XFORM1_script_transform",
    "Q_MINS1_multi_insert", "N_TOK3_bpe_merges",
    // round 9
    "C65c_cql_token_range", "C65d_cql_distinct", "C65e_cql_global_agg",
    "C65f_cql_indexed_where", "N_TOK4_bpe_encode",
    "N_MIX2_token_budget", "N_SPLIT1_leakage_split",
    "N_SIM11_mutual_knn", "S_STATE4_timer_sessions",
    "N_DEDUP6_clusters", "N_SKETCH5_kmv_set_algebra",
    "C11c_cql_collection_write",
    // rounds 10-11
    "C18g_typed_base_index", "C18h_composite_base_index",
    "C40b_typed_base_view", "C40c_composite_base_view",
    "C65g_cql_counter", "C65h_cql_prepared", "C65i_cql_ck_in",
    // round 11 second half
    "C5d_prefix_tombstone", "C8c_composite_multiget",
    "C64b_cql_contains", "C65j_typed_ck_in", "C15b_static_cql",
    "C39c_clustering_desc", "C67c_size_estimates", "C68_copy",
    "C67b_system_local",
    // round 12
    "C59b_udt_cql", "C59c_typed_udt", "C64c_contains_indexed",
    "C67d_udt_metadata",
    // rounds 13-14
    "C59d_unfrozen_udt", "C56d_conditional_batch",
    "C67e_alter_type", "C18i_prefix_like", "C65o_text_values",
    "C59e_typed_unfrozen_udt", "C65p_blob_values",
    "C65q_scalar_values",
    // round 15
    "C65r_mapped_values", "C36d_uuid_keys", "C70_vector_ann",
    "C71_cql_functions", "C18j_contains_like", "C65s_duration_values",
    "C65t_cql_cast", "C18k_ci_like", "C63b_typed_json",
    "C55c_mapped_lwt", "C65u_mapped_aggs", "N_SIM12_filtered_ann",
    "C67f_index_metadata", "C51c_table_options",
    "C67g_keyspace_dump", "C70b_restricted_ann", "C65v_ascii_values",
    // round 16
    "C70c_filtered_ann", "C70d_typed_vector_ann",
    "C65x_mapped_collections", "C56e_text_conditional_batch",
    "C65y_mapped_cast", "C65z_declared_collections",
    "C64d_entries_index", "C55d_lwt_operators", "C55e_lwt_multi",
    // round 16 second half
    "C10d_counter_batch", "C18l_suffix_like", "C11e_list_index_ops",
    "C11f_collection_replace", "C55f_static_lwt",
    "C11g_collection_select", "C55g_lwt_ttl", "C72_fcall_literals",
    "C51d_create_like",
    // round 17
    "C11h_map_replace", "C70e_similarity_select", "C72b_fcall_family",
    "C51e_alter_rename", "N_DEDUP10_clusters_fixpoint",
    "C72c_fcall_select", "C18m_custom_index",
    "C15c_entry_writetime", "N_DEDUP11_repeated_spans",
    // round 18
    "C11i_batch_collections", "C11i_batch_collections_typed",
    "C11j_map_entry_lwt", "C55h_lwt_ordered_mapped",
    "C55i_udt_lwt", "C55j_lwt_scalar_types",
    "C56f_conditional_batch_typed", "C68b_copy_counter")

  /** Hand-written sections (memos) after this marker are preserved
    * across regeneration.
    */
  private[graft] val KeepMarker = "\n---\n\n# SSTable binary-format"

  /** One query's section: heading, blank line, fenced plan. */
  private[graft] def section(name: String, formatted: String): String =
    s"\n## $name\n\n```\n$formatted```\n"

  /** The headline queries a comma-separated list names, in list order.
    * Refuses an unknown name, a registry query outside the headline
    * list, and an empty list.
    */
  private[graft] def selected(list: String): Seq[String] = {
    val names = list.split(',').map(_.trim).filter(_.nonEmpty).toSeq
    require(names.nonEmpty, "empty query list")
    names.foreach { n =>
      require(headline.contains(n),
        if (Registry.byName.contains(n))
          s"$n is not a headline query; PLANS.md holds only those"
        else s"unknown query $n")
    }
    names.distinct
  }

  /** `prior` with each named section replaced by its fresh text (see
    * [[section]]); the header, every other section and the memo tail
    * from [[KeepMarker]] on stay byte for byte. A section runs from its
    * `## <name>` heading to the next `## ` heading or to the memo tail.
    * Refuses a name that has no section yet.
    */
  private[graft] def splice(prior: String,
      fresh: Seq[(String, String)]): String = {
    val tailAt = prior.indexOf(KeepMarker) match {
      case -1 => prior.length
      case i => i
    }
    fresh.foldLeft(prior.substring(0, tailAt)) { case (head, (name, text)) =>
      val start = head.indexOf(s"\n## $name\n")
      require(start >= 0, s"no `## $name` section to replace")
      val next = head.indexOf("\n## ", start + 1)
      head.substring(0, start) + text +
        head.substring(if (next < 0) head.length else next)
    } + prior.substring(tailAt)
  }

  def main(args: Array[String]): Unit = {
    val sfDir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.01"
    // refuse a bad query list before starting a session
    val only = if (args.length > 2) Some(selected(args(2))) else None
    val spark = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val sections = only.getOrElse(headline).map { name =>
      val df = Registry.byName(name).fn(spark, sfDir)
      name -> section(name, df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode))
    }
    val out =
      if (args.length > 1) Paths.get(args(1))
      else Paths.get(sys.props("user.dir"), "PLANS.md")
    val prior = if (Files.exists(out))
      new String(Files.readAllBytes(out), "UTF-8") else ""
    val text = if (only.isDefined) splice(prior, sections) else {
      val kept = prior.indexOf(KeepMarker) match {
        case -1 => ""
        case i => prior.substring(i)
      }
      "# PLANS — formatted physical plans of the headline " +
        "queries\n\nGenerated by `graft.tools.DumpPlans` over `" + sfDir +
        "`. What to look for:\npushed filters / pruned columns on every " +
        "scan, broadcast exchanges on dims,\npartial aggregation before " +
        "shuffles, TakeOrderedAndProject for top-k, and the\ntwo " +
        "GraftTopKPerKey phases around the exchange in Q_TOPK3.\n" +
        sections.map(_._2).mkString + kept
    }
    Files.write(out, text.getBytes("UTF-8"))
    println(s"[plans] wrote $out (${sections.size} queries)")
    spark.stop()
  }
}
