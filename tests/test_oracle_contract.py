"""Oracle-contract guard (r12 oracle review, literal-drift class).

Half of every correctness proof is the DuckDB oracle in
__spark_entry__.py, and many oracles mirror an operator's DEFAULT
kwargs as embedded SQL literals (quantile probs, session gaps,
n-gram sizes, bucket counts, salts, DP epsilons). A default change
that forgets the oracle would silently diverge the two sides until
the key next rotates through the driver gate. This test freezes the
default signature of every operator a gate oracle mirrors: changing
a default now fails HERE, in the same commit, with instructions.

If this test fails: you changed an operator default. Update the
matching oracle_sql() literals (and any queries() call sites that
should pin the old value), re-run
`python tools/check_oracle.py /root/testdata/sf0.01 <key>` for every
affected key, prepend those keys to the gate `priority` list, and
only then refresh the snapshot below to the new defaults.
"""

import importlib
import inspect

FROZEN = {
    "streaming.events.sessionize": {'gap_minutes': 30},
    "streaming.events.windowed_counts": {'unit': 'hour'},
    "streaming.events.sliding_window_counts": {'window_minutes': 60, 'slide_minutes': 15},
    "streaming.events.click_purchase_pairs": {'gap_minutes': 30},
    "streaming.events.windowed_distinct": {'unit': 'hour', 'col': 'user_id'},
    "streaming.events.windowed_quantiles": {'unit': 'hour', 'col': 'value', 'probs': (0.5, 0.9, 0.99), 'ndigits': 4, 'approx': False, 'accuracy': 10000},
    "streaming.events.windowed_anomaly": {'unit': 'hour', 'history': 6, 'min_history': 3},
    "streaming.events.windowed_topk": {'unit': 'hour', 'col': 'event_type', 'k': 3, 'ties': 'truncate'},
    "streaming.events.cohort_retention": {'id_col': 'user_id'},
    "streaming.events.retention_rate": {'id_col': 'user_id'},
    "streaming.events.funnel_counts": {'steps': ('click', 'view', 'purchase'), 'id_col': 'user_id'},
    "streaming.events.conversion_time": {'from_step': 'click', 'to_step': 'purchase', 'id_col': 'user_id', 'probs': (0.5, 0.9), 'ndigits': 4},
    "streaming.events.session_stats": {'gap_minutes': 30, 'probs': (0.5, 0.9), 'ndigits': 4},
    "streaming.events.inter_event_gaps": {'id_col': 'user_id', 'probs': (0.5, 0.9), 'ndigits': 4},
    "streaming.events.path_counts": {'depth': 3, 'id_col': 'user_id'},
    "streaming.events.transition_counts": {'id_col': 'user_id'},
    "streaming.events.dp_transition_counts": {'epsilon': 1.0, 'seed': 0},
    "streaming.events.rolling_active_users": {'window_days': 7, 'id_col': 'user_id'},
    "streaming.events.dp_windowed_sum": {'unit': 'hour', 'col': 'value', 'lo': 0.0, 'hi': 250.0, 'epsilon': 1.0, 'seed': 0},
    "streaming.events.dp_windowed_mean": {'unit': 'hour', 'col': 'value', 'lo': 0.0, 'hi': 250.0, 'epsilon': 1.0, 'seed': 0},
    "streaming.events.dp_windowed_distinct": {'unit': 'hour', 'col': 'user_id', 'epsilon': 1.0, 'seed': 0},
    "streaming.events.dp_windowed_trending": {'unit': 'day', 'col': 'event_type', 'epsilon': 1.0, 'delta': 1e-06, 'seed': 0},
    "streaming.events.bound_contributions": {'k': 1, 'by': 'user_id', 'per': 'hour', 'max_windows': None, 'key_col': 'event_id', 'salt': 'bound1'},
    "streaming.events.dp_windowed_counts_user_level": {'unit': 'hour', 'epsilon': 1.0, 'seed': 0, 'k': 1, 'by': 'user_id', 'max_windows': None, 'key_col': 'event_id', 'salt': 'bound1'},
    "streaming.events.dp_windowed_trending_user_level": {'unit': 'day', 'col': 'event_type', 'epsilon': 1.0, 'delta': 1e-06, 'seed': 0, 'k': 1, 'by': 'user_id', 'max_windows': None, 'key_col': 'event_id', 'salt': 'bound1'},
    "streaming.events.dp_windowed_counts": {'unit': 'hour', 'epsilon': 1.0, 'seed': 0},
    "streaming.events.dp_windowed_histogram": {'unit': 'hour', 'col': 'value', 'lo': 0.0, 'hi': 100.0, 'buckets': 10, 'epsilon': 1.0, 'seed': 0},
    "functions.curation.ngram_novelty": {'n': 3, 'min_df': 2, 'text_col': 'text', 'id_col': 'doc_id'},
    "operators.privacy.dp_histogram_unknown_domain": {'seed': 0},
    "functions.dedup.repeated_spans": {'n': 10, 'min_sites': 2, 'id_col': 'doc_id', 'text_col': 'text'},
    "functions.dedup.remove_repeated_spans": {'n': 10, 'min_sites': 2, 'id_col': 'doc_id', 'text_col': 'text', 'keep': 'all'},
    "functions.dedup.contamination_spans": {'n': 10, 'id_col': 'doc_id', 'text_col': 'text', 'eval_id_col': None, 'eval_text_col': None, 'broadcast_eval': True},
    "functions.dedup.remove_contaminated_spans": {'n': 10, 'id_col': 'doc_id', 'text_col': 'text', 'eval_id_col': None, 'eval_text_col': None, 'broadcast_eval': True},
    "functions.curation.shuffle_corpus": {'id_col': 'doc_id', 'salt': 'shuffle1'},
    "functions.curation.select_within_budget": {'quality_col': 'n_chars', 'cost_col': 'n_chars', 'id_col': 'doc_id'},
    "functions.curation.quality_cap_per_group": {'group_col': 'source', 'max_per_group': 100, 'quality_col': 'n_chars', 'key_col': 'doc_id'},
    "functions.curation.mixture_temperature_weights": {'alpha': 0.5, 'source_col': 'source', 'ndigits': 6},
    "functions.curation.sample_to_mixture": {'source_col': 'source', 'key_col': 'doc_id', 'salt': 'mix1'},
    "functions.curation.clean_lines": {'text_col': 'text', 'id_col': 'doc_id', 'min_words': 3, 'require_terminal_punct': True, 'drop_patterns': (), 'min_lines': 1, 'sep': '\n'},
    "functions.curation.cap_per_group": {'group_col': 'source', 'max_per_group': 100, 'key_col': 'doc_id', 'salt': 'cap1'},
    "functions.curation.decontaminate": {'n': 3, 'text_col': 'text', 'id_col': 'doc_id', 'broadcast_eval': True},
    "functions.curation.decontaminate_bloom": {'n': 3, 'text_col': 'text', 'id_col': 'doc_id', 'num_bits': 4194304, 'num_hashes': 5},
    "functions.curation.chunk_documents": {'chunk_tokens': 50, 'overlap': 10, 'text_col': 'text', 'id_col': 'doc_id'},
    "functions.curation.pack_sequences": {'budget_tokens': 2048, 'n_groups': 64, 'count_col': 'n_chunk_tokens', 'id_cols': ('doc_id', 'chunk_id')},
    "functions.curation.corpus_diff": {'id_col': 'doc_id', 'text_col': 'text'},
    "functions.curation.pii_scrub": {'text_col': 'text', 'id_col': 'doc_id'},
    "functions.curation.repetition_stats": {'text_col': 'text', 'id_col': 'doc_id'},
    "functions.text.collocations": {'text_col': 'text', 'min_count': 5},
    "functions.text.vocab": {'text_col': 'text', 'id_col': 'doc_id', 'min_count': 1, 'lowercase': True},
    "functions.text.quality_filter": {'min_tokens': 10, 'max_tokens': 100000, 'min_quality': 0.3, 'text_col': 'text', 'id_col': 'doc_id'},
    "functions.text.bigram_lm_nll": {'train_df': None, 'text_col': 'text', 'id_col': 'doc_id', 'alpha': 0.1},
    "functions.dedup.ngram_jaccard_pairs": {'threshold': 0.3, 'n': 3, 'id_col': 'doc_id', 'text_col': 'text', 'max_df': None},
    "functions.dedup.ngram_containment_pairs": {'threshold': 0.5, 'n': 3, 'id_col': 'doc_id', 'text_col': 'text', 'max_df': None},
    "functions.dedup.minhash_lsh_pairs": {'num_hashes': 16, 'bands': 4, 'n': 3, 'id_col': 'doc_id', 'text_col': 'text'},
    "functions.dedup.verify_jaccard": {'threshold': 0.3, 'n': 3, 'id_col': 'doc_id', 'text_col': 'text'},
    "functions.dedup.connected_components": {'left_col': 'doc_id_1', 'right_col': 'doc_id_2', 'max_iter': 20, 'driver_threshold': 2000000},
    "functions.dedup.select_representatives": {'id_col': 'doc_id', 'quality_col': 'n_chars'},
    "functions.dedup.dedup_corpus": {'threshold': 0.3, 'num_hashes': 16, 'bands': 4, 'n': 3, 'id_col': 'doc_id', 'text_col': 'text'},
    "functions.dedup.lsh_write_index": {'num_hashes': 16, 'bands': 4, 'n': 3, 'id_col': 'doc_id', 'text_col': 'text', 'mode': 'overwrite'},
    "functions.dedup.simhash_pairs": {'max_hamming': 3, 'id_col': 'doc_id', 'text_col': 'text'},
    "functions.similarity.cosine_topk": {'k': 10, 'id_col': 'vec_id', 'vec_col': 'embedding', 'exact': True},
    "functions.similarity.ann_lsh": {'k': 10, 'planes': 6, 'id_col': 'vec_id', 'vec_col': 'embedding', 'dims': 64},
    "functions.similarity.cosine_dup_pairs": {'threshold': 0.4, 'id_col': 'vec_id', 'vec_col': 'embedding', 'planes': None, 'dims': 64, 'exact': True, 'max_bucket': None},
    "functions.similarity.knn_join": {'k': 3, 'id_col': 'vec_id', 'vec_col': 'embedding', 'planes': None, 'dims': 64, 'exact': True, 'max_bucket': None},
    "functions.similarity.ivf_topk_exact": {'k': 10, 'n_cells': 8, 'n_probe': 3, 'stride': 50, 'id_col': 'vec_id', 'vec_col': 'embedding'},
    "functions.similarity.pq_encode_exact": {'m': 4, 'k': 8, 'stride': 50, 'dims': 64, 'id_col': 'vec_id', 'vec_col': 'embedding'},
    "functions.similarity.pq_topk_exact": {'n_results': 10, 'm': 4, 'k': 8, 'stride': 50, 'dims': 64, 'id_col': 'vec_id', 'vec_col': 'embedding'},
    "functions.similarity.group_centroids": {'group_col': 'label', 'vec_col': 'embedding'},
    "functions.similarity.semantic_dedup": {'threshold': 0.5, 'n_cells': 8, 'stride': 50, 'id_col': 'vec_id', 'vec_col': 'embedding'},
    "functions.search.bm25_search": {'text_col': 'text', 'id_col': 'doc_id', 'k1': 1.2, 'b': 0.75, 'top_n': None},
    "functions.search.top_terms_per_doc": {'k': 5, 'text_col': 'text', 'id_col': 'doc_id', 'min_df': 1, 'max_df_frac': None},
    "operators.temporal.asof_join": {'suffix': '_r', 'chunk_seconds': None},
    "operators.temporal.range_join": {'by_cols': None, 'bucket_seconds': 3600},
    "operators.temporal.moving_aggregate": {'key_col': 'user_id', 'ts_col': 'ts', 'value_col': 'value', 'tiebreak_col': 'event_id', 'n_preceding': 3, 'chunk_seconds': None, 'strict': True},
    "operators.stats.quantiles": {'ndigits': 4},
    "operators.stats.basic_col_stats": {'ndigits': 4, 'exact': True},
    "operators.stats.distinct_values": {'limit': 1000},
    "operators.histogram.histogram1d": {'buckets': 40},
    "operators.histogram.cdf": {'buckets': 100},
    "operators.histogram.histogram2d": {'xbuckets': 25, 'ybuckets': 25},
    "operators.histogram.histogram_string": {'max_buckets': 100},
    "operators.histogram.histogram_date": {'unit': 'month'},
    "operators.histogram.histogram_with_cdf": {'buckets': 100},
    "operators.histogram.histogram_quantiles": {'ndigits': 4},
    "operators.histogram.histogram_and_singleton": {'buckets': 40},
    "operators.histogram.progressive_histogram_final": {'buckets': 40},
    "operators.sampling.systematic_sample": {'residue': 0},
    "operators.sampling.stratified_split": {'salt': 'v1'},
    "operators.sampling.split_train_eval": {'salt': 'v1'},
    "operators.heavy_hitters.heavy_hitters": {'epsilon': 0.01},
    "operators.heavy_hitters.heavy_hitters_sampled": {'epsilon': 0.01, 'seed': 42, 'fraction': 0.01, 'sample_key': None},
    "operators.heavy_hitters.exact_freq": {},
    "operators.correlation.corr_matrix": {'ndigits': 4, 'sample_fraction': None, 'seed': 42, 'sample_key': None},
    "operators.correlation.jl_project": {'k': 4, 'prefix': 'jl'},
    "operators.correlation.lamp_project": {'n_controls': 100, 'key_col': None, 'seed': 42, 'control_layout': 'pca'},
    "operators.correlation.metric_mds": {'n_points': 100, 'low_dims': 2, 'key_col': None, 'seed': 42, 'max_iterations': 1000, 'learning_rate': 1.0, 'decay': 0.999, 'tolerance': 1e-05},
    "operators.correlation.category_centroids": {'ndigits': 4},
    "operators.correlation.pca_project": {'k': 2},
    "operators.privacy.dp_histogram": {'buckets': 10, 'seed': 0, 'column_index': 0, 'cdf': False, 'k': 20},
    "operators.privacy.dp_histogram_string": {'buckets': None, 'seed': 0, 'column_index': 0, 'k': 20, 'global_max': None},
    "operators.privacy.dp_count": {'seed': 0, 'column_index': 0},
    "operators.privacy.dp_sum": {'seed': 0, 'column_index': 0},
    "operators.privacy.dp_mean": {'seed': 0, 'column_index': 0},
    "operators.privacy.dp_distinct_count": {'seed': 0, 'column_index': 0},
    "operators.privacy.dp_quantiles": {'buckets': 40, 'seed': 0, 'column_index': 0, 'k': 20},
    "operators.privacy.dp_heatmap": {'xbuckets': 10, 'ybuckets': 10, 'seed': 0, 'column_index': 0, 'column_index_y': 0, 'k': 20},
    "operators.privacy.dp_next_k": {'k': 20, 'ascending': None, 'start': None, 'seed': 0, 'column_index': 0},
    "operators.spreadsheet.next_k": {'k': 20, 'ascending': None, 'start': None, 'inclusive': True},
    "operators.spreadsheet.next_k_list": {'k': 20, 'ascending': None, 'start': None, 'inclusive': True},
    "operators.spreadsheet.next_k_aggregate": {'k': 20, 'ascending': None, 'start': None, 'inclusive': True},
    "operators.spreadsheet.find_rows": {'mode': 'substring', 'case_sensitive': False},
    "operators.spreadsheet.find_first": {'mode': 'substring', 'case_sensitive': False, 'ascending': None, 'start': None, 'exclude_start': False, 'forward': True},
    "operators.filters.range_filter": {'lo': None, 'hi': None, 'include_lo': True, 'include_hi': True, 'complement': False, 'dtype': None},
    "operators.filters.range_filter_array": {'complement': False, 'df': None},
    "operators.filters.string_filter": {'mode': 'substring', 'case_sensitive': False, 'negate': False},
    "operators.filters.string_columns_filter": {'mode': 'substring', 'case_sensitive': False, 'negate': False},
    "operators.filters.row_comparison_filter": {'op': '>', 'ascending': None},
}


def test_oracle_mirrored_defaults_frozen():
    for qual, want in FROZEN.items():
        mod_name, fn_name = qual.rsplit(".", 1)
        mod = importlib.import_module(f"hillview_spark.{mod_name}")
        fn = getattr(mod, fn_name)
        got = {
            k: p.default
            for k, p in inspect.signature(fn).parameters.items()
            if p.default is not inspect.Parameter.empty
        }
        assert got == want, (
            f"{qual} defaults changed: {got} != frozen {want}. "
            "Update the oracle_sql() literals that mirror this "
            "operator, check_oracle the affected keys, prepend them "
            "to the gate priority list, THEN refresh this snapshot."
        )
