"""Run every registered query against its DuckDB oracle at sf0.01 —
the same scale and comparison the driver's correctness gate uses.

The cases are the registered entries plus the constituents listed in
_CONSTITUENT_CASES. A constituent keeps a row of its own only while a
registered composite calls it and its oracle SQL is still used by the
registered entries, so the row pins its standalone semantics without
keeping any plan code alive for the test alone: tests/test_structure.py
fails on any plan definition that no registered entry reaches."""

from __future__ import annotations

import pytest

from dbitool_spark.plans import events_ops as _ev
from dbitool_spark.plans import llm_ops as _llm
from dbitool_spark.plans import pipeline_ops as _pipe
from dbitool_spark.plans import registry
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

# Constituents of registered composites, checked against their own
# oracle (the retired_ ids are the names these rows have always run
# under).
_CONSTITUENT_CASES = [
    # per-index recall, constituents of ann_recall_planted
    ("retired_ann_lsh_recall", _llm.ann_lsh_recall, _llm.CONST_RECALL_SQL),
    ("retired_ann_ivf_recall", _llm.ann_ivf_recall, _llm.CONST_RECALL_SQL),
    # constituents of token_repetition_metrics_documents
    ("retired_token_count_bpe_documents", _llm.token_count_bpe_documents,
     _llm.TOKEN_COUNT_BPE_SQL),
    ("retired_ngram_repetition_documents", _llm.ngram_repetition_documents,
     _llm.NGRAM_REPETITION_SQL),
    # constituents of text_profile_documents
    ("retired_text_stats_documents", _llm.text_stats_documents,
     _llm.TEXT_STATS_DOCUMENTS_SQL),
    ("retired_quality_scores_documents", _llm.quality_scores_documents,
     _llm.QUALITY_SCORES_DOCUMENTS_SQL),
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
    # constituents of embedding_audit_composite
    ("retired_kmeans_embeddings", _llm.kmeans_embeddings,
     _llm.KMEANS_EMBEDDINGS_SQL),
    ("retired_semantic_outliers_documents", _llm.semantic_outliers_documents,
     _llm.SEMANTIC_OUTLIERS_SQL),
    # constituents of split_sample_composite
    ("retired_deterministic_split_documents",
     _pipe.deterministic_split_documents,
     _pipe.DETERMINISTIC_SPLIT_SQL),
    ("retired_sample_stratified_documents",
     _pipe.sample_stratified_documents,
     _pipe.SAMPLE_STRATIFIED_SQL),
    # constituent of bpe_pipeline_documents
    ("retired_bpe_pair_counts_documents", _llm.bpe_pair_counts_documents,
     _llm.BPE_PAIR_COUNTS_SQL),
]


@pytest.mark.parametrize(
    "name,fn,sql",
    _CASES + _CONSTITUENT_CASES,
    ids=[c[0] for c in _CASES + _CONSTITUENT_CASES],
)
def test_query_matches_oracle(spark, duck, name, fn, sql):
    problems = compare(fn(spark, SF_ORACLE), duck, sql)
    assert not problems, f"{name}: " + "; ".join(problems)
