"""The benchmark's workloads: which graft queries run.

Each pass runs every query of the workload once, in an order the run's
seed permutes; see README.md for why each workload was chosen.
"""

WORKLOADS = {
    # The engine's own ETL surface: scans (CSV write+read round trip,
    # aggregate pushdown), aggregates, a semi join, a TPC-H shape and a
    # dynamic-overwrite Parquet sink. Short queries: fixed per-query cost
    # (planning, codegen, scheduling, driver round trips) dominates.
    "etl": [
        "q_scan_3_csv_roundtrip", "q_scan_21_agg_pushdown", "q_agg_1_global",
        "q_agg_10_minmax_by", "q_join_6_semi", "q_tpch_6_forecast",
        "q_sink_6_dynamic_overwrite"],
    # LLM training-data curation: MinHash/LSH, SimHash and shingle near-dup
    # detection, cosine pairs, k-means (localCheckpoint per round),
    # perceptual hashing and term frequencies. Time goes to the
    # expressions/functions kernels over small scans.
    "curation": [
        "q_dedup_4_simhash", "q_dedup_3_minhash_lsh", "q_dedup_5_ngram_jaccard",
        "q_sim_1_cosine_pair", "q_sim_7_kmeans", "q_mm_5_phash", "q_text_2_tf"],
}
