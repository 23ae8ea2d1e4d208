"""Run every registered query against its DuckDB oracle at sf0.01 —
the same scale and comparison the driver's correctness gate uses."""

from __future__ import annotations

import pytest

from dbitool_spark.plans import events_ops as _ev
from dbitool_spark.plans import format_io as _fmt
from dbitool_spark.plans import llm_ops as _llm
from dbitool_spark.plans import pipeline_ops as _pipe
from dbitool_spark.plans import registry
from dbitool_spark.plans import scalar_ops as _scalar
from dbitool_spark.plans import state_ops as _state
from tests.conftest import SF_ORACLE
from tests.oracle import compare, duck_connection


@pytest.fixture(scope="module")
def duck():
    con = duck_connection(SF_ORACLE)
    yield con
    con.close()


_CASES = [
    (name, fn, registry.oracle_sql()[name])
    for name, fn in registry.queries().items()
]

# Functions that are not registry entries but keep oracle parity:
# retired_ rows are constituents of a registered composite or
# superseder (their standalone semantics stay pinned), staged_ rows are
# unregistered candidates. bench.py's staged pass measures the staged_
# rows.
_RETIRED_CASES = [
    # constituents of quarantine_corrupt_formats
    ("retired_quarantine_corrupt_csv", _fmt.quarantine_corrupt_csv,
     _fmt.QUARANTINE_CORRUPT_CSV_SQL),
    ("retired_quarantine_corrupt_ndjson", _fmt.quarantine_corrupt_ndjson,
     _fmt.QUARANTINE_CORRUPT_NDJSON_SQL),
    # constituents of events_asof_orders
    ("retired_events_asof_latest_order", _ev.events_asof_latest_order,
     _ev.EVENTS_ASOF_SQL),
    ("retired_events_asof_recent_order", _ev.events_asof_recent_order,
     _ev.EVENTS_ASOF_TOLERANCE_SQL),
    # single-format round-trips, constituents of the format chains
    ("retired_csv_roundtrip_customer", _fmt.csv_roundtrip_customer,
     _fmt.CSV_ROUNDTRIP_CUSTOMER_SQL),
    ("retired_csv_roundtrip_documents", _fmt.csv_roundtrip_documents,
     _fmt.CSV_ROUNDTRIP_DOCUMENTS_SQL),
    ("retired_ndjson_roundtrip_orders", _fmt.ndjson_roundtrip_orders,
     _fmt.NDJSON_ROUNDTRIP_ORDERS_SQL),
    ("retired_json_roundtrip_region", _fmt.json_roundtrip_region,
     _fmt.JSON_ROUNDTRIP_REGION_SQL),
    ("retired_fixedwidth_roundtrip_nation", _fmt.fixedwidth_roundtrip_nation,
     _fmt.FIXEDWIDTH_ROUNDTRIP_NATION_SQL),
    ("retired_xlsx_roundtrip_nation", _fmt.xlsx_roundtrip_nation,
     _fmt.XLSX_ROUNDTRIP_NATION_SQL),
    ("retired_sqlite_roundtrip_part", _fmt.sqlite_roundtrip_part,
     _fmt.SQLITE_ROUNDTRIP_PART_SQL),
    ("retired_xml_roundtrip_supplier", _fmt.xml_roundtrip_supplier,
     _fmt.XML_ROUNDTRIP_SUPPLIER_SQL),
    ("retired_bson_roundtrip_region", _fmt.bson_roundtrip_region,
     _fmt.BSON_ROUNDTRIP_REGION_SQL),
    # per-index recall, constituents of ann_recall_planted
    ("retired_ann_lsh_recall", _llm.ann_lsh_recall, _llm.CONST_RECALL_SQL),
    ("retired_ann_ivf_recall", _llm.ann_ivf_recall, _llm.CONST_RECALL_SQL),
    # constituents of token_repetition_metrics_documents
    ("retired_token_count_bpe_documents", _llm.token_count_bpe_documents,
     _llm.TOKEN_COUNT_BPE_SQL),
    ("retired_ngram_repetition_documents", _llm.ngram_repetition_documents,
     _llm.NGRAM_REPETITION_SQL),
    # constituents of sketch_accuracy_gates
    ("retired_hll_accuracy_events", _scalar.hll_accuracy_events,
     _scalar.HLL_ACCURACY_SQL),
    ("retired_quantile_sketch_lineitem", _scalar.quantile_sketch_lineitem,
     _scalar.QUANTILE_SKETCH_SQL),
    # constituents of ngram_jaccard_variants_documents
    ("retired_ngram_jaccard_documents", _llm.ngram_jaccard_documents,
     _llm.NGRAM_JACCARD_SQL),
    ("retired_ngram_jaccard_skewguard_documents",
     _llm.ngram_jaccard_skewguard_documents,
     _llm.NGRAM_JACCARD_SKEWGUARD_SQL),
    # constituents of email_chart_roundtrip
    ("retired_email_roundtrip_documents", _fmt.email_roundtrip_documents,
     _fmt.EMAIL_ROUNDTRIP_DOCUMENTS_SQL),
    ("retired_chart_roundtrip_events", _fmt.chart_roundtrip_events,
     _fmt.CHART_ROUNDTRIP_EVENTS_SQL),
    # constituents of text_profile_documents
    ("retired_text_stats_documents", _llm.text_stats_documents,
     _llm.TEXT_STATS_DOCUMENTS_SQL),
    ("retired_langid_documents", _llm.langid_documents,
     _llm.LANGID_DOCUMENTS_SQL),
    ("retired_quality_scores_documents", _llm.quality_scores_documents,
     _llm.QUALITY_SCORES_DOCUMENTS_SQL),
    # constituents of format_chain_nation_xmlbson
    ("retired_format_chain_nation", _fmt.format_chain_nation,
     _fmt.FORMAT_CHAIN_NATION_SQL),
    ("retired_xmlbson_roundtrip_supplier", _fmt.xmlbson_roundtrip_supplier,
     _fmt.XMLBSON_ROUNDTRIP_SUPPLIER_SQL),
    # constituents of streaming_hourly_composite
    ("retired_streaming_hourly_append_events",
     _state.streaming_hourly_append_events,
     _state.STREAMING_HOURLY_APPEND_SQL),
    ("retired_streaming_hourly_stats_events",
     _state.streaming_hourly_stats_events,
     _state.STREAMING_HOURLY_STATS_SQL),
    ("retired_events_hourly_stats", _ev.events_hourly_stats,
     _ev.EVENTS_HOURLY_STATS_SQL),
    # superseded by dedup_representatives_documents
    ("retired_near_dup_clusters_documents",
     _llm.near_dup_clusters_documents,
     _llm.NEAR_DUP_CLUSTERS_SQL),
    # constituents of ann_recall_composite
    ("retired_ann_recall_planted", _llm.ann_recall_planted,
     _llm.ANN_RECALL_PLANTED_SQL),
    ("retired_ann_topk_bruteforce", _llm.ann_topk_bruteforce,
     _llm.ANN_TOPK_BRUTEFORCE_SQL),
    # superseded by ndb_range_pruned_replay
    ("retired_ndb_upsert_replay", _state.ndb_upsert_replay,
     _state.NDB_UPSERT_REPLAY_SQL),
    # constituents of events_audit_composite
    ("retired_events_json_props", _ev.events_json_props,
     _ev.EVENTS_JSON_PROPS_SQL),
    ("retired_events_daily_type_pivot", _ev.events_daily_type_pivot,
     _ev.EVENTS_DAILY_TYPE_PIVOT_SQL),
    # the three session realizations, merged into sessions_composite_events
    ("retired_user_sessions", _ev.user_sessions, _ev.USER_SESSIONS_SQL),
    ("retired_user_sessions_window", _ev.user_sessions_window,
     _ev.USER_SESSIONS_SQL),
    ("retired_streaming_user_sessions_events",
     _state.streaming_user_sessions_events,
     _ev.USER_SESSIONS_SQL),
    # constituents of format_chain_docs_orders
    ("retired_format_chain_documents", _fmt.format_chain_documents,
     _fmt.FORMAT_CHAIN_DOCUMENTS_SQL),
    ("retired_format_chain_orders", _fmt.format_chain_orders,
     _fmt.FORMAT_CHAIN_ORDERS_SQL),
    # constituents of skew_composite_events
    ("retired_skewed_user_rollup_events", _ev.skewed_user_rollup_events,
     _ev.SKEWED_USER_ROLLUP_SQL),
    ("retired_skewed_segment_join_events", _ev.skewed_segment_join_events,
     _ev.SKEWED_SEGMENT_JOIN_SQL),
    # constituents of repetition_profile_documents
    ("retired_token_repetition_metrics_documents",
     _llm.token_repetition_metrics_documents,
     _llm.TOKEN_REPETITION_METRICS_SQL),
    ("retired_repetition_stats_documents", _llm.repetition_stats_documents,
     _llm.REPETITION_STATS_SQL),
    # constituents of source_profile_documents
    ("retired_domain_stats_documents", _llm.domain_stats_documents,
     _llm.DOMAIN_STATS_SQL),
    ("retired_top_terms_per_source", _llm.top_terms_per_source,
     _llm.TOP_TERMS_PER_SOURCE_SQL),
    # superseded by dedup_representatives_documents
    ("retired_minhash_near_dup_documents", _llm.minhash_near_dup_documents,
     _llm.MINHASH_NEAR_DUP_SQL),
    # constituents of embedding_audit_composite
    ("retired_kmeans_embeddings", _llm.kmeans_embeddings,
     _llm.KMEANS_EMBEDDINGS_SQL),
    ("retired_semantic_outliers_documents", _llm.semantic_outliers_documents,
     _llm.SEMANTIC_OUTLIERS_SQL),
    # constituents of semantic_dedup_composite
    ("retired_embedding_near_dup", _llm.embedding_near_dup,
     _llm.EMBEDDING_NEAR_DUP_SQL),
    ("retired_semdedup_embeddings", _llm.semdedup_embeddings,
     _llm.SEMDEDUP_EMBEDDINGS_SQL),
    # constituents of split_sample_composite
    ("retired_deterministic_split_documents",
     _pipe.deterministic_split_documents,
     _pipe.DETERMINISTIC_SPLIT_SQL),
    ("retired_sample_stratified_documents",
     _pipe.sample_stratified_documents,
     _pipe.SAMPLE_STRATIFIED_SQL),
    # superseded by bpe_pipeline_documents
    ("retired_bpe_pair_counts_documents", _llm.bpe_pair_counts_documents,
     _llm.BPE_PAIR_COUNTS_SQL),
    # quorum keep/drop verdict over the four quality-signal families
    ("staged_quality_ensemble_documents",
     _llm.quality_ensemble_documents,
     _llm.QUALITY_ENSEMBLE_SQL),
    # the K-round BPE merge-learning loop, standalone
    ("staged_bpe_learn_merges_documents",
     _llm.bpe_learn_merges_documents,
     _llm.BPE_LEARN_MERGES_SQL),
    # the BPE encode audit, standalone
    ("staged_bpe_encode_documents",
     _llm.bpe_encode_documents,
     _llm.BPE_ENCODE_DOCUMENTS_SQL),
    # interpolated bigram-LM cross-entropy scoring
    ("staged_bigram_lm_score_documents",
     _llm.bigram_lm_score_documents,
     _llm.BIGRAM_LM_SCORE_SQL),
    # unigram perplexity + bigram LM scores off one corpus pass
    ("staged_lm_scores_composite",
     _llm.lm_scores_composite,
     _llm.LM_SCORES_COMPOSITE_SQL),
    # decode -> nearest-neighbor 8x8 resize -> channel means
    ("staged_media_resize_documents",
     _llm.media_resize_documents,
     _llm.MEDIA_RESIZE_DOCUMENTS_SQL),
    # container decode + pixel resize joined on media_id
    ("staged_media_pipeline_documents",
     _llm.media_pipeline_documents,
     _llm.MEDIA_PIPELINE_DOCUMENTS_SQL),
    # range-pruned ndb writes plus the pruned NdbTable.lookup() read
    ("staged_ndb_replay_lookup_composite",
     _state.ndb_replay_lookup_composite,
     _state.NDB_REPLAY_LOOKUP_SQL),
    # winnowing fingerprints: density profile + shared-rare pairs
    ("staged_winnow_near_dup_documents",
     _llm.winnow_near_dup_documents,
     _llm.WINNOW_NEAR_DUP_SQL),
    # q-gram prefix-filtered edit-distance self-join, brute-force oracle
    ("staged_edit_distance_join_documents",
     _llm.edit_distance_join_documents,
     _llm.EDIT_DISTANCE_JOIN_DOCUMENTS_SQL),
    # global sequence packing via the two-phase distributed prefix sum
    ("staged_global_pack_documents",
     _llm.global_pack_documents,
     _llm.GLOBAL_PACK_DOCUMENTS_SQL),
    # split_sample_composite's legs plus the near-dup-aware 'safe' split
    ("staged_leakage_safe_split_composite",
     _pipe.leakage_safe_split_composite,
     _pipe.LEAKAGE_SAFE_SPLIT_SQL),
]
_CASES = _CASES + _RETIRED_CASES


@pytest.mark.parametrize("name,fn,sql", _CASES, ids=[c[0] for c in _CASES])
def test_query_matches_oracle(spark, duck, name, fn, sql):
    df = fn(spark, SF_ORACLE)
    problems = compare(df, duck, sql)
    assert not problems, f"{name}: " + "; ".join(problems)
    # an all-empty "pass" is vacuous: it proves the plan compiles, not
    # that it is correct
    assert df.count() > 0, f"{name}: vacuous — query returned 0 rows at sf0.01"
