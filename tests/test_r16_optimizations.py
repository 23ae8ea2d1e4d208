"""Equivalence pins for the r16 OPTIMIZATION-round rewrites.

Every optimization this round must leave each declared query's rows
bit-identical (the driver re-hashes against the DuckDB oracle); these
tests pin the stronger per-operator claim directly — the optimized
plan equals the pre-optimization construction ROW FOR ROW on live
Spark — so a future regression names the operator instead of a hash.
"""

from __future__ import annotations

from pyspark.sql import functions as F
from pyspark.sql.window import Window

from dbitool_spark import catalog
from dbitool_spark.ops import dedup, similarity
from tests.conftest import SF_SMOKE


def _rows(df, cols):
    return sorted(tuple(r[c] for c in cols) for r in df.collect())


def test_ngram_variants_shared_core_equals_standalone_calls(spark):
    """ngram_jaccard_pairs_variants (one shared shingle/freq pass)
    must emit exactly the union of the two standalone operator calls
    it replaced inside ngram_jaccard_variants_documents."""
    from dbitool_spark.plans.llm_ops import _SKEWGUARD_MAX_DF, _perturbed_corpus

    docs = _perturbed_corpus(catalog.load(spark, SF_SMOKE, "documents"))
    fused = dedup.ngram_jaccard_pairs_variants(
        docs, "doc_id", "text", shingle_k=3, threshold=0.5,
        max_doc_freq=_SKEWGUARD_MAX_DF,
    )
    exact = dedup.ngram_jaccard_pairs(
        docs, "doc_id", "text", shingle_k=3, threshold=0.5
    ).select(F.lit("exact").alias("variant"), "id_a", "id_b", "jaccard")
    guarded = dedup.ngram_jaccard_pairs(
        docs, "doc_id", "text", shingle_k=3, threshold=0.5,
        max_doc_freq=_SKEWGUARD_MAX_DF,
    ).select(F.lit("skewguard").alias("variant"), "id_a", "id_b", "jaccard")
    cols = ["variant", "id_a", "id_b", "jaccard"]
    want = _rows(exact.unionByName(guarded), cols)
    got = _rows(fused, cols)
    assert got == want and len(got) > 0


def test_kmeans_min_struct_assignment_equals_window_argmin(spark):
    """The min(struct(d, cid, v)) assignment must pick the same
    (cid, d) per vector as the row_number window it replaced
    (orderBy d, cid — cid unique per group, so the trailing v is
    never compared)."""
    emb = catalog.load(spark, SF_SMOKE, "embeddings")
    vec = emb.select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )
    seeds = vec.orderBy("vec_id").limit(4).collect()
    cents = [(i, list(r.v)) for i, r in enumerate(seeds)]
    cdf = spark.createDataFrame(cents, "cid int, c array<double>")
    sq_dist = F.aggregate(
        F.zip_with("v", "c", lambda a, b: (a - b) * (a - b)),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    scored = vec.crossJoin(cdf).withColumn("d", sq_dist)
    w = Window.partitionBy("vec_id").orderBy("d", "cid")
    want = _rows(
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("vec_id", "cid", "d"),
        ["vec_id", "cid", "d"],
    )
    got = _rows(
        scored.groupBy("vec_id")
        .agg(F.min(F.struct("d", "cid", "v")).alias("m"))
        .select("vec_id", F.col("m.cid").alias("cid"), F.col("m.d").alias("d")),
        ["vec_id", "cid", "d"],
    )
    assert got == want and len(got) > 0
    # and the operator end-to-end still agrees with itself across the
    # driver/cluster update paths (the pre-existing parity contract)
    a = _rows(
        similarity.kmeans_distributed(
            emb, "vec_id", "embedding", k=4, iters=2, centroid_updates="driver"
        ),
        ["cluster_id", "n_vecs", "inertia_r"],
    )
    b = _rows(
        similarity.kmeans_distributed(
            emb, "vec_id", "embedding", k=4, iters=2, centroid_updates="cluster"
        ),
        ["cluster_id", "n_vecs", "inertia_r"],
    )
    assert a == b


def test_bloom_decontaminate_single_pass_equals_two_pass(spark):
    """The single-pass bloom rewrite was measured SLOWER and rejected
    (see the operator's r16 note) — this pins that the rejection was
    performance-only: the fused construction (built inline here, the
    rejected shape) reports the same (recall, n_exact) as the
    registered two-pass entry, so the decision can be revisited at a
    different scale without a correctness question."""
    from dbitool_spark.ops import scale
    from dbitool_spark.plans.pipeline_ops import (
        _BLOOM_K,
        _BLOOM_M_BITS,
        DECONTAM_NGRAM,
        bench_gram_set,
        bloom_decontaminate_documents,
    )

    docs = catalog.load(spark, SF_SMOKE, "documents")
    bench = bench_gram_set(docs)
    bloom = scale.bloom_build(bench, "gram", m_bits=_BLOOM_M_BITS, k=_BLOOM_K)
    bloom_df = spark.createDataFrame([(bloom,)], "bloom array<bigint>")
    grams = docs.select(
        "doc_id",
        F.explode(dedup.shingles(F.col("text"), DECONTAM_NGRAM)).alias("gram"),
    )
    per_doc = (
        grams.join(bench.withColumn("__b", F.lit(1)), "gram", "left")
        .crossJoin(F.broadcast(bloom_df))
        .groupBy("doc_id")
        .agg(
            F.max(
                scale.bloom_contains_expr(
                    "gram", "bloom", _BLOOM_M_BITS, _BLOOM_K
                ).cast("int")
            ).alias("__hit"),
            F.max(F.col("__b").isNotNull().cast("int")).alias("__exact"),
        )
    )
    want = (
        per_doc.filter(F.col("__exact") == 1)
        .agg(
            F.when(F.count(F.lit(1)) == 0, F.lit(1.0))
            .otherwise((F.sum("__hit") / F.count(F.lit(1))).cast("double"))
            .alias("recall"),
            F.count(F.lit(1)).alias("n_exact"),
        )
        .collect()[0]
    )
    got = bloom_decontaminate_documents(spark, SF_SMOKE).collect()[0]
    assert (got.recall, got.n_exact) == (want.recall, want.n_exact)
    assert got.n_exact > 0  # non-vacuous at this SF


def test_quantized_topk_matmul_equals_interpreted_dot(spark):
    """The Arrow-batched int64-matmul scoring (batch-local top-k +
    final window) must emit exactly the rows of the pre-optimization
    construction: broadcast-NLJ with the per-element int_dot lambda,
    globally ranked. Integer dots are order-free, so equality is
    bit-level, not approximate."""
    from dbitool_spark.ops.similarity import int_dot, quantize_int8

    emb = catalog.load(spark, SF_SMOKE, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10)
    qc = quantize_int8(emb, "embedding")
    q = quantize_int8(queries, "embedding").select(
        F.col("vec_id").alias("query_id"), F.col("qvec").alias("qq")
    )
    c = qc.select(F.col("vec_id").alias("neighbor_id"), F.col("qvec").alias("cq"))
    scored = c.join(
        F.broadcast(q), F.col("neighbor_id") != F.col("query_id")
    ).withColumn("dot", int_dot(F.col("qq"), F.col("cq")))
    w = Window.partitionBy("query_id").orderBy(F.desc("dot"), F.asc("neighbor_id"))
    cols = ["query_id", "neighbor_id", "rank", "dot"]
    want = _rows(
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 5)
        .select(*cols),
        cols,
    )
    got = _rows(similarity.quantized_topk(emb, queries, k=5), cols)
    assert got == want and len(got) > 0


def test_format_chain_parallel_legs_round_trip(spark):
    """The thread-parallel docs/orders chains must recover exactly the
    source rows (the union the sequential composite produced) — the
    hop order within each chain is unchanged, only the two chains'
    staged writes overlap."""
    from dbitool_spark.plans.format_io import format_chain_docs_orders

    got = format_chain_docs_orders(spark, SF_SMOKE)
    docs = catalog.load(spark, SF_SMOKE, "documents")
    orders = catalog.load(spark, SF_SMOKE, "orders")
    n_docs, n_orders = docs.count(), orders.count()
    by_kind = {
        r[0]: r[1]
        for r in got.groupBy("kind").count().collect()
    }
    assert by_kind == {"documents": n_docs, "orders": n_orders}
    # full value parity is the oracle parity row's job; the counts pin
    # that neither leg lost or duplicated rows under the thread overlap


def test_run_parallel_returns_all_legs_and_propagates_errors(spark):
    """run_parallel must hand back every leg's frame keyed by tag,
    re-raise a single leg failure as itself after joining (no silent
    partial composite), and raise several failures together as a
    BaseExceptionGroup carrying each leg's exception."""
    import pytest

    from dbitool_spark.ops.concurrency import run_parallel

    out = run_parallel(
        spark,
        [
            ("a", lambda: spark.range(3)),
            ("b", lambda: spark.range(5)),
        ],
    )
    assert out.keys() == {"a", "b"}
    assert out["a"].count() == 3 and out["b"].count() == 5

    def failing(msg):
        def leg():
            raise RuntimeError(msg)

        return leg

    with pytest.raises(RuntimeError, match="leg failed") as one:
        run_parallel(spark, [("ok", lambda: spark.range(1)), ("bad", failing("leg failed"))])
    assert type(one.value) is RuntimeError

    with pytest.raises(BaseExceptionGroup) as many:
        run_parallel(
            spark,
            [
                ("x", failing("x failed")),
                ("ok", lambda: spark.range(1)),
                ("y", failing("y failed")),
            ],
        )
    assert sorted(str(e) for e in many.value.exceptions) == ["x failed", "y failed"]
    assert all(type(e) is RuntimeError for e in many.value.exceptions)


def test_dedup_representatives_agg_equals_window_argmax(spark):
    """The entry's max-of-struct per-cluster selection (plus lazy
    pairs with explicit release) must emit exactly the rows of the
    pre-optimization construction: checkpointed pairs, rk=1
    row_number window ordered (q_r DESC, doc_id ASC), count window."""
    from dbitool_spark.ops import text
    from dbitool_spark.plans.llm_ops import (
        _perturbed_corpus,
        dedup_representatives_documents,
    )

    docs = catalog.load(spark, SF_SMOKE, "documents")
    corpus = _perturbed_corpus(docs)
    pairs = dedup.minhash_near_dup_pairs(
        corpus, "doc_id", "text", shingle_k=3, threshold=0.7
    )
    comp = dedup.connected_components(pairs).select(
        F.col("id").alias("doc_id"), "cluster_id"
    )
    clusters = corpus.join(comp, "doc_id", "left").select(
        "doc_id",
        F.coalesce("cluster_id", F.col("doc_id")).alias("cluster_id"),
        "text",
    )
    q = text.quality_score(clusters).select(
        "doc_id", "cluster_id", F.col("quality_score").alias("q_r")
    )
    w = Window.partitionBy("cluster_id").orderBy(F.desc("q_r"), F.asc("doc_id"))
    want = _rows(
        q.withColumn("rk", F.row_number().over(w))
        .withColumn(
            "n_members", F.count(F.lit(1)).over(Window.partitionBy("cluster_id"))
        )
        .filter(F.col("rk") == 1)
        .select(
            "cluster_id",
            F.col("doc_id").alias("rep_doc_id"),
            "n_members",
            F.col("q_r").alias("rep_quality"),
        ),
        ["cluster_id", "rep_doc_id", "n_members", "rep_quality"],
    )
    got = _rows(
        dedup_representatives_documents(spark, SF_SMOKE),
        ["cluster_id", "rep_doc_id", "n_members", "rep_quality"],
    )
    assert got == want and len(got) > 0


def test_streaming_dedup_native_equals_custom_operator(spark):
    """The registry entry's native streaming dropDuplicates must emit
    the same key set as the custom applyInPandasWithState operator it
    replaced (both are first-wins per key across all micro-batches;
    the entry projects the keys, so the sets must be identical)."""
    from dbitool_spark import streaming
    from dbitool_spark.plans.state_ops import (
        _drain_streaming_entry,
        streaming_dedup_events,
    )

    got = sorted(
        map(tuple, streaming_dedup_events(spark, SF_SMOKE).collect())
    )
    ev = catalog.load(spark, SF_SMOKE, "events").select("user_id", "event_type")
    sink = _drain_streaming_entry(
        spark,
        SF_SMOKE,
        prefix="stream_dedup_custom_",
        source_df=ev,
        schema="user_id bigint, event_type string",
        plan=lambda stream: streaming.stream_dedup_first_wins(
            stream, ["user_id", "event_type"]
        ),
        output_mode="append",
    )
    want = sorted(
        map(tuple, sink.select("user_id", "event_type").collect())
    )
    assert got == want and len(got) > 0


def test_streaming_hourly_composite_matches_batch_rule(spark):
    """The parallel-drain composite's streaming variants must still
    equal the batch hourly aggregation row for row (the emitted-set
    invariance the entry claims — parallelism must not change each
    query's own micro-batch boundaries)."""
    from dbitool_spark.plans.state_ops import streaming_hourly_composite

    out = streaming_hourly_composite(spark, SF_SMOKE)
    rows = out.collect()
    by_variant: dict[str, set] = {}
    for r in rows:
        by_variant.setdefault(r.variant, set()).add((r.hour, r.event_type, r.n))
    assert by_variant["complete"] == by_variant["batch"]
    # append emits only closed windows: must be a subset of batch
    assert by_variant["append"] <= by_variant["batch"]
    assert len(by_variant["append"]) > 0
