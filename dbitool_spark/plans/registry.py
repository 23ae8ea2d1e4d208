"""Central registry: query name -> (spark, sf_dir) -> DataFrame, plus
the DuckDB oracle SQL per query, declared once in ``_ENTRIES``.

Conventions (driver contract, __spark_entry__.py): column names match
between the Spark result and the oracle SQL; aggregate doubles go
through the decimal-exact path (functions.numeric) so value hashes
match bit-for-bit; timestamps are emitted as strings or epoch ints.
Every entry carries an oracle.

The driver checks only the first 50 entries of ``queries()`` and
stores its verdicts in CORRECTNESS_r<NN>.json at the repo root. The
order is computed, not declared: ``rotation()`` puts entries with no
green row (new, or red in every record) first, then the oldest last
green round; ties keep declaration order. While at most 50 entries
lack a green row in the newest record, every entry outside the head
got one last round, so no entry waits more than 2 rounds for a driver
row. A code change needs no pull-forward: pytest runs oracle parity on
every entry every round (tests/test_oracle_parity.py), and this clock
bounds how stale any entry's driver row can get.
"""

from __future__ import annotations

import json
import re
from collections.abc import Callable, Mapping, Sequence
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession

from dbitool_spark.plans import (
    events_ops,
    format_io,
    llm_ops,
    pipeline_ops,
    relational,
    scalar_ops,
    state_ops,
)

QueryFn = Callable[[SparkSession, str], DataFrame]

_REPO = Path(__file__).resolve().parents[2]
_RECORD_NAME = re.compile(r"CORRECTNESS_r(\d+)\.json")

_ENTRIES: tuple[tuple[str, QueryFn, str], ...] = (
    # relational
    ("brand_bracket_revenue", relational.brand_bracket_revenue,
     relational.BRAND_BRACKET_SQL),
    ("bucketed_orders_customer_join", relational.bucketed_orders_customer_join,
     relational.BUCKETED_ORDERS_CUSTOMER_SQL),
    ("customer_order_distribution", relational.customer_order_distribution,
     relational.CUSTOMER_ORDER_DISTRIBUTION_SQL),
    ("customer_segment_stats", relational.customer_segment_stats,
     relational.CUSTOMER_SEGMENT_SQL),
    ("customers_without_recent_orders", relational.customers_without_recent_orders,
     relational.CUSTOMERS_WITHOUT_RECENT_ORDERS_SQL),
    ("dormant_rich_customers", relational.dormant_rich_customers,
     relational.DORMANT_RICH_SQL),
    ("large_volume_customers", relational.large_volume_customers,
     relational.LARGE_VOLUME_SQL),
    ("nation_market_share", relational.nation_market_share,
     relational.NATION_MARKET_SHARE_SQL),
    ("nation_trade_flows", relational.nation_trade_flows, relational.NATION_TRADE_SQL),
    ("order_priority_counts", relational.order_priority_counts,
     relational.ORDER_PRIORITY_SQL),
    ("priority_by_shipyear", relational.priority_by_shipyear,
     relational.PRIORITY_BY_SHIPYEAR_SQL),
    ("promo_revenue_share", relational.promo_revenue_share,
     relational.PROMO_REVENUE_SQL),
    ("q11_important_stock", relational.q11_important_stock, relational.Q11_SQL),
    ("q16_supplier_part_counts", relational.q16_supplier_part_counts,
     relational.Q16_SQL),
    ("q1_pricing_summary", relational.q1_pricing_summary, relational.Q1_SQL),
    ("q20_potential_part_promotion", relational.q20_potential_part_promotion,
     relational.Q20_SQL),
    ("q21_waiting_suppliers", relational.q21_waiting_suppliers, relational.Q21_SQL),
    ("q2_min_cost_supplier", relational.q2_min_cost_supplier, relational.Q2_SQL),
    ("q3_shipping_priority", relational.q3_shipping_priority, relational.Q3_SQL),
    ("q5_region_revenue", relational.q5_region_revenue, relational.Q5_SQL),
    ("q6_forecast_revenue", relational.q6_forecast_revenue, relational.Q6_SQL),
    ("returned_item_revenue", relational.returned_item_revenue,
     relational.RETURNED_ITEM_SQL),
    ("revenue_rollup", relational.revenue_rollup, relational.REVENUE_ROLLUP_SQL),
    ("small_quantity_revenue", relational.small_quantity_revenue,
     relational.SMALL_QUANTITY_REVENUE_SQL),
    ("supplier_nation_profit", relational.supplier_nation_profit,
     relational.SUPPLIER_NATION_PROFIT_SQL),
    ("top_parts_per_brand", relational.top_parts_per_brand, relational.TOP_PARTS_SQL),
    ("top_revenue_suppliers", relational.top_revenue_suppliers,
     relational.TOP_REVENUE_SUPPLIERS_SQL),
    # scalar_ops
    ("array_functions_embeddings", scalar_ops.array_functions_embeddings,
     scalar_ops.ARRAY_FUNCTIONS_EMBEDDINGS_SQL),
    ("brand_type_cube", scalar_ops.brand_type_cube, scalar_ops.BRAND_TYPE_CUBE_SQL),
    ("date_functions_orders", scalar_ops.date_functions_orders,
     scalar_ops.DATE_FUNCTIONS_ORDERS_SQL),
    ("segment_set_ops", scalar_ops.segment_set_ops, scalar_ops.SEGMENT_SET_OPS_SQL),
    ("sketch_accuracy_gates", scalar_ops.sketch_accuracy_gates,
     scalar_ops.SKETCH_ACCURACY_GATES_SQL),
    ("stats_functions_lineitem", scalar_ops.stats_functions_lineitem,
     scalar_ops.STATS_FUNCTIONS_LINEITEM_SQL),
    ("string_functions_part", scalar_ops.string_functions_part,
     scalar_ops.STRING_FUNCTIONS_PART_SQL),
    # events_ops
    ("events_after_busy_hours", events_ops.events_after_busy_hours,
     events_ops.EVENTS_AFTER_BUSY_SQL),
    ("events_asof_orders", events_ops.events_asof_orders,
     events_ops.EVENTS_ASOF_ORDERS_SQL),
    ("events_audit_composite", events_ops.events_audit_composite,
     events_ops.EVENTS_AUDIT_COMPOSITE_SQL),
    ("funnel_steps_events", events_ops.funnel_steps_events,
     events_ops.FUNNEL_STEPS_EVENTS_SQL),
    ("skew_composite_events", events_ops.skew_composite_events,
     events_ops.SKEW_COMPOSITE_SQL),
    # format_io
    ("email_chart_roundtrip", format_io.email_chart_roundtrip,
     format_io.EMAIL_CHART_ROUNDTRIP_SQL),
    ("format_chain_docs_orders", format_io.format_chain_docs_orders,
     format_io.FORMAT_CHAIN_DOCS_ORDERS_SQL),
    ("format_chain_nation_xmlbson", format_io.format_chain_nation_xmlbson,
     format_io.FORMAT_CHAIN_NATION_XMLBSON_SQL),
    ("jdbc_roundtrip_part", format_io.jdbc_roundtrip_part,
     format_io.JDBC_ROUNDTRIP_PART_SQL),
    ("quarantine_corrupt_formats", format_io.quarantine_corrupt_formats,
     format_io.QUARANTINE_CORRUPT_FORMATS_SQL),
    ("sqlite_query_from_stream_part", format_io.sqlite_query_from_stream_part,
     format_io.SQLITE_QUERY_FROM_STREAM_PART_SQL),
    ("xls_roundtrip_nation", format_io.xls_roundtrip_nation,
     format_io.XLS_ROUNDTRIP_NATION_SQL),
    # pipeline_ops
    ("bloom_decontaminate_documents", pipeline_ops.bloom_decontaminate_documents,
     pipeline_ops.BLOOM_DECONTAMINATE_SQL),
    ("chunk_documents", pipeline_ops.chunk_documents, pipeline_ops.CHUNK_DOCUMENTS_SQL),
    ("concat_positional_supplier_customer",
     pipeline_ops.concat_positional_supplier_customer,
     pipeline_ops.CONCAT_POSITIONAL_SQL),
    ("corpus_mix_weighted", pipeline_ops.corpus_mix_weighted,
     pipeline_ops.CORPUS_MIX_WEIGHTED_SQL),
    ("curation_pipeline_documents", pipeline_ops.curation_pipeline_documents,
     pipeline_ops.CURATION_PIPELINE_SQL),
    ("decontaminate_documents", pipeline_ops.decontaminate_documents,
     pipeline_ops.DECONTAMINATE_DOCUMENTS_SQL),
    ("pack_sequences_documents", pipeline_ops.pack_sequences_documents,
     pipeline_ops.PACK_SEQUENCES_SQL),
    ("split_sample_composite", pipeline_ops.split_sample_composite,
     pipeline_ops.SPLIT_SAMPLE_COMPOSITE_SQL),
    ("vocab_topk_documents", pipeline_ops.vocab_topk_documents,
     pipeline_ops.VOCAB_TOPK_SQL),
    # state_ops
    ("ndb_range_pruned_replay", state_ops.ndb_range_pruned_replay,
     state_ops.NDB_RANGE_PRUNED_REPLAY_SQL),
    ("ndb_time_travel_replay", state_ops.ndb_time_travel_replay,
     state_ops.NDB_TIME_TRAVEL_SQL),
    ("sessions_composite_events", state_ops.sessions_composite_events,
     state_ops.SESSIONS_COMPOSITE_SQL),
    ("streaming_click_purchase_join", state_ops.streaming_click_purchase_join,
     state_ops.STREAMING_CLICK_PURCHASE_JOIN_SQL),
    ("streaming_curation_chain_documents", state_ops.streaming_curation_chain_documents,
     llm_ops.CURATION_TEXT_CHAIN_SQL),
    ("streaming_decontaminate_documents", state_ops.streaming_decontaminate_documents,
     state_ops.STREAMING_DECONTAMINATE_SQL),
    ("streaming_dedup_events", state_ops.streaming_dedup_events,
     state_ops.STREAMING_DEDUP_EVENTS_SQL),
    ("streaming_hourly_composite", state_ops.streaming_hourly_composite,
     state_ops.STREAMING_HOURLY_COMPOSITE_SQL),
    ("streaming_lsh_near_dup_documents", state_ops.streaming_lsh_near_dup_documents,
     state_ops.STREAMING_LSH_NEAR_DUP_SQL),
    ("streaming_rollup_ndb_events", state_ops.streaming_rollup_ndb_events,
     state_ops.STREAMING_ROLLUP_NDB_SQL),
    # llm_ops
    ("ann_recall_composite", llm_ops.ann_recall_composite,
     llm_ops.ANN_RECALL_COMPOSITE_SQL),
    ("ann_topk_planted_hits", llm_ops.ann_topk_planted_hits,
     llm_ops.ANN_TOPK_PLANTED_HITS_SQL),
    ("bm25_topk_documents", llm_ops.bm25_topk_documents,
     llm_ops.BM25_TOPK_DOCUMENTS_SQL),
    ("bpe_pipeline_documents", llm_ops.bpe_pipeline_documents,
     llm_ops.BPE_PIPELINE_DOCUMENTS_SQL),
    ("classifier_score_documents", llm_ops.classifier_score_documents,
     llm_ops.CLASSIFIER_SCORE_SQL),
    ("curation_text_chain_documents", llm_ops.curation_text_chain_documents,
     llm_ops.CURATION_TEXT_CHAIN_SQL),
    ("dedup_representatives_documents", llm_ops.dedup_representatives_documents,
     llm_ops.DEDUP_REPRESENTATIVES_SQL),
    ("dsir_weights_documents", llm_ops.dsir_weights_documents,
     llm_ops.DSIR_WEIGHTS_SQL),
    ("duplicate_spans_documents", llm_ops.duplicate_spans_documents,
     llm_ops.DUPLICATE_SPANS_SQL),
    ("embedding_audit_composite", llm_ops.embedding_audit_composite,
     llm_ops.EMBEDDING_AUDIT_COMPOSITE_SQL),
    ("exact_dedup_documents", llm_ops.exact_dedup_documents,
     llm_ops.EXACT_DEDUP_DOCUMENTS_SQL),
    ("fingerprint_dedup_counts", llm_ops.fingerprint_dedup_counts,
     llm_ops.FINGERPRINT_DEDUP_COUNTS_SQL),
    ("frame_sample_documents", llm_ops.frame_sample_documents,
     llm_ops.FRAME_SAMPLE_DOCUMENTS_SQL),
    ("last_event_per_user", llm_ops.last_event_per_user,
     llm_ops.LAST_EVENT_PER_USER_SQL),
    ("media_decode_roundtrip", llm_ops.media_decode_roundtrip,
     llm_ops.MEDIA_DECODE_ROUNDTRIP_SQL),
    ("media_features_documents", llm_ops.media_features_documents,
     llm_ops.MEDIA_FEATURES_DOCUMENTS_SQL),
    ("ngram_containment_documents", llm_ops.ngram_containment_documents,
     llm_ops.NGRAM_CONTAINMENT_SQL),
    ("ngram_jaccard_variants_documents", llm_ops.ngram_jaccard_variants_documents,
     llm_ops.NGRAM_JACCARD_VARIANTS_SQL),
    ("pagerank_links_documents", llm_ops.pagerank_links_documents,
     llm_ops.PAGERANK_LINKS_SQL),
    ("perplexity_score_documents", llm_ops.perplexity_score_documents,
     llm_ops.PERPLEXITY_SCORE_SQL),
    ("pii_scan_documents", llm_ops.pii_scan_documents, llm_ops.PII_SCAN_SQL),
    ("quality_prune_documents", llm_ops.quality_prune_documents,
     llm_ops.QUALITY_PRUNE_DOCUMENTS_SQL),
    ("quantized_ann_topk_embeddings", llm_ops.quantized_ann_topk_embeddings,
     llm_ops.QUANTIZED_ANN_TOPK_SQL),
    ("redact_pii_documents", llm_ops.redact_pii_documents, llm_ops.REDACT_PII_SQL),
    ("repetition_profile_documents", llm_ops.repetition_profile_documents,
     llm_ops.REPETITION_PROFILE_SQL),
    ("semantic_dedup_composite", llm_ops.semantic_dedup_composite,
     llm_ops.SEMANTIC_DEDUP_COMPOSITE_SQL),
    ("simhash_recall_planted", llm_ops.simhash_recall_planted,
     llm_ops.CONST_RECALL_SQL),
    ("source_overlap_matrix", llm_ops.source_overlap_matrix,
     llm_ops.SOURCE_OVERLAP_MATRIX_SQL),
    ("source_profile_documents", llm_ops.source_profile_documents,
     llm_ops.SOURCE_PROFILE_SQL),
    ("strip_markup_documents", llm_ops.strip_markup_documents,
     llm_ops.STRIP_MARKUP_DOCUMENTS_SQL),
    ("strip_repetition_documents", llm_ops.strip_repetition_documents,
     llm_ops.STRIP_REPETITION_SQL),
    ("text_profile_documents", llm_ops.text_profile_documents,
     llm_ops.TEXT_PROFILE_DOCUMENTS_SQL),
    ("trim_duplicate_spans_documents", llm_ops.trim_duplicate_spans_documents,
     llm_ops.TRIM_DUPLICATE_SPANS_SQL),
)


def _green(row: Mapping) -> bool:
    return (
        row.get("rows_match") is True
        and row.get("schema_match") is True
        and row.get("hash_match") is True
        and row.get("err") is None
    )


def rotation(
    names: Sequence[str], records: Mapping[int, Mapping[str, Mapping]]
) -> list[str]:
    """``names`` ordered by the last round (key of ``records``) in
    which the entry's row was green, -1 when it never was; the sort is
    stable, so ties keep the order of ``names``."""
    last_green: dict[str, int] = {}
    for rnd, record in records.items():
        for name, row in record.items():
            if _green(row) and rnd > last_green.get(name, -1):
                last_green[name] = rnd
    return sorted(names, key=lambda name: last_green.get(name, -1))


def correctness_records() -> dict[int, dict]:
    """Round number -> the driver's CORRECTNESS_r<NN>.json at the repo
    root; empty when no record is present."""
    records = {}
    for path in _REPO.glob("CORRECTNESS_r*.json"):
        m = _RECORD_NAME.fullmatch(path.name)
        if m:
            records[int(m.group(1))] = json.loads(path.read_text())
    return records


def queries() -> dict[str, QueryFn]:
    fns = {name: fn for name, fn, _ in _ENTRIES}
    return {name: fns[name] for name in rotation(list(fns), correctness_records())}


def oracle_sql() -> dict[str, str]:
    return {name: sql for name, _, sql in _ENTRIES}
