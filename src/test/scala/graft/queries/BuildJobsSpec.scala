package graft.queries

import graft.{Registry, SparkSpec}
import graft.core.SparkJobs

/** No Spark job runs while a query's DataFrame is built, so a query's
  * timed work and its real work coincide. Building every registered
  * query must start zero jobs, apart from the queries listed below, each
  * under the reason its build runs jobs on purpose.
  * `Probe ALL --decompose` prints every query's `build_jobs`, from which
  * this list is re-derived. */
class BuildJobsSpec extends SparkSpec {

  private val exceptions: Map[String, Set[String]] = Map(
    "commits a table-format fixture (SnapshotLog writes, catalog DDL and DML, " +
      "file writes) that the query then reads" -> Set(
      "q66_zorder_pruning", "q67_commitlog_upsert", "q70_statslog_pruning",
      "q72_version_diff", "q73_incremental_agg", "q74_stream_cdf_tail",
      "q75_bloom_file_skip", "q76_join_ivm", "q77_metadata_count",
      "q78_predicate_delete", "q79_predicate_update", "q80_planner_scan",
      "q81_deletion_vectors", "q82_version_stream", "q83_history", "q84_sql_dml",
      "q85_conditional_merge", "q86_sql_insert_ctas", "q87_time_travel_sql",
      "q88_sharded_manifest", "q89_sql_maintenance", "q90_table_changes_sql",
      "q91_show_partitions", "q92_check_constraints", "q93_shallow_clone",
      "q94_stream_sink", "q95_copy_into", "q96_cdf_by_property", "q97_subquery_dml",
      "q98_column_mapping", "q99_auto_merge", "q100_truncate_reload",
      "q101_generated_cols", "q102_create_replace", "q103_bucketed_join",
      "q104_convert_in_place", "q105_merge_subquery", "q106_identity",
      "q108_type_widening", "q109_deep_clone", "q117_catalog_read",
      "q118_row_tracking", "q121_replace_where", "q122_dsv2_write",
      "q124_catalog_alter", "q125_catalog_dml", "q126_unpartitioned",
      "q127_catalog_verbs", "q128_dpp_join", "q129_metadata_agg",
      "q130_generated_pruning", "q131_dynamic_overwrite", "q132_multi_partition",
      "q133_nested_evolution", "q134_partition_evolution", "q135_compound_generated",
      "q136_nested_mapping", "q137_refresh_pin", "d26_curation_pipeline"),
    "starts a streaming query and drives its micro-batches" -> Set(
      "q116_stream_sessions", "q119_stream_interval_join", "q123_format_stream"),
    "trains an IVF, PQ or SQ index: Lloyd iterations and codebooks " +
      "collected to the driver" -> Set(
      "s7_ivf_cells", "s8_ivf_query", "s11_pq_adc", "s12_ivfpq_query",
      "s13_ivfpq_batch", "s14_sq_int8", "s17_radius_search", "s18_ann_recall",
      "s19_filtered_ann", "s20_nprobe_sweep", "s21_filtered_recall",
      "s22_cluster_sample", "s23_persisted_ivf"),
    "driver loop: connected-component rounds or greedy steps, each " +
      "checkpointed" -> Set(
      "d12_dedup_clusters", "d23_canonical_docs", "d28_split_assign", "s16_mmr_topk"),
    "collects per-shard counts on the driver for the prefix offsets " +
      "the plan is built from" -> Set("d15_vocab_build", "d39_sequence_packing"),
    "SET VARIABLE and EXECUTE IMMEDIATE run as eager SQL commands" ->
      Set("q112_exec_immediate"))

  test("building a registered query runs no Spark job, except the listed ones") {
    val excepted = exceptions.values.flatten.toSet
    assert(excepted.size == exceptions.values.map(_.size).sum, "a query is listed under two reasons")
    assert(excepted.subsetOf(Registry.byName.keySet), excepted -- Registry.byName.keySet)
    val jobs = Registry.all.map { q =>
      spark.catalog.clearCache()
      try q.name -> SparkJobs.during(spark)(q.build(spark, sfDir))._2
      finally spark.catalog.clearCache()
    }.toMap
    val unexpected = jobs.filter { case (n, k) => k > 0 && !excepted(n) }
    assert(unexpected.isEmpty,
      unexpected.toSeq.sorted.map { case (n, k) => s"$n: $k jobs" }.mkString("\n"))
    // an exception whose build no longer runs a job is stale
    val stale = excepted.filter(jobs(_) == 0)
    assert(stale.isEmpty, s"listed but ran no job at build: ${stale.toSeq.sorted.mkString(", ")}")
  }
}
