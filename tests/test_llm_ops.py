"""Unit tests for the LLM-pipeline operators: exactness where exact,
recall bounds + scale-shape properties where approximate. Runs at
sf0.001 (500-row tables are sf0.01; here documents=50, embeddings=50)
to keep the suite fast — the sf0.01 oracle gate covers the rest."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from dbitool_spark import catalog
from dbitool_spark.ops import dedup, multimodal, similarity, text
from tests.conftest import SF_ORACLE, SF_SMOKE


@pytest.fixture(scope="module")
def docs(spark):
    return catalog.load(spark, SF_SMOKE, "documents")


@pytest.fixture(scope="module")
def emb(spark):
    return catalog.load(spark, SF_SMOKE, "embeddings")


def test_dedup_exact_self_union(spark, docs):
    n = docs.count()
    assert dedup.dedup_exact(docs.unionAll(docs)).count() == n


def test_dedup_keyed_last_wins(spark):
    df = spark.createDataFrame(
        [(1, 10, "a"), (1, 20, "b"), (2, 5, "c"), (2, 5, "d")],
        "k int, v int, payload string",
    )
    out = {r.k: r.payload for r in dedup.dedup_keyed_last_wins(df, "k", "v").collect()}
    assert out[1] == "b"
    assert out[2] in ("c", "d")  # tie: single-order call picks one row
    out2 = {
        r.k: r.payload
        for r in dedup.dedup_keyed_last_wins(df, "k", ["v", "payload"]).collect()
    }
    assert out2[2] == "d"  # deterministic tie-break on second order col


def test_minhash_matches_bruteforce_exactly(spark, docs):
    """LSH candidates + exact verify must equal brute-force exact
    Jaccard at the same threshold on this corpus (recall gap is huge:
    near-dup pairs are ~0.9, the next pairs are ~0.1)."""
    corpus = docs.select("doc_id", "text")
    lsh = {
        (r.id_a, r.id_b): r.jaccard
        for r in dedup.minhash_near_dup_pairs(
            corpus, "doc_id", "text", threshold=0.7
        ).collect()
    }
    ids = corpus.select(F.col("doc_id").alias("id_a"))
    all_pairs = ids.crossJoin(
        corpus.select(F.col("doc_id").alias("id_b"))
    ).filter(F.col("id_a") < F.col("id_b"))
    brute = {
        (r.id_a, r.id_b): r.jaccard
        for r in dedup.jaccard_pairs(corpus, "doc_id", "text", all_pairs).collect()
        if r.jaccard >= 0.7
    }
    assert lsh == brute


def test_simhash_candidates_cover_planted_dups(spark, docs):
    """Every planted near-dup (drop-last-word perturbation) must be a
    SimHash candidate at small hamming distance."""
    words = F.split(F.lower(F.trim(F.col("text"))), r"\s+")
    perturbed = docs.select(
        (F.col("doc_id") + 1000).alias("doc_id"),
        F.concat_ws(" ", F.slice(words, 1, F.size(words) - 1)).alias("text"),
    )
    corpus = docs.select("doc_id", "text").unionAll(perturbed)
    cands = dedup.simhash_candidates(corpus, "doc_id", "text")
    planted = cands.filter(F.col("id_b") - F.col("id_a") == 1000).filter(
        F.col("id_a") < 1000
    )
    n_docs = docs.count()
    # chunk banding guarantees hamming <= 3 pairs; dropping a word
    # from a short doc can flip more bits than that, so coverage is
    # high but legitimately not total
    assert planted.count() >= 0.85 * n_docs
    # and the pigeonhole guarantee must hold exactly: no hamming<=3
    # pair may be missed (every such pair shares an untouched chunk)
    assert planted.filter(F.col("hamming") <= 3).count() > 0


def test_connected_components_known_graph(spark):
    """Hand-built graph: {1,2,3} chained, {5,6} paired, 9-10-11 a
    path — every node labels with its component minimum."""
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (5, 6), (9, 10), (10, 11)], "id_a bigint, id_b bigint"
    )
    got = {r.id: r.cluster_id for r in dedup.connected_components(pairs).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 5: 5, 6: 5, 9: 9, 10: 9, 11: 9}


def test_connected_components_iteration_cap(spark):
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(10)], "id_a bigint, id_b bigint"
    )
    with pytest.raises(RuntimeError, match="converge"):
        # force the distributed path: the cap is its safety valve
        dedup.connected_components(pairs, max_iter=2, local_edge_threshold=None)


def test_connected_components_paths_agree(spark):
    """The bounded union-find fast path and the distributed min-label
    loop must produce identical labels on the same graph."""
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (5, 6), (9, 10), (10, 11), (11, 12), (3, 20)],
        "id_a bigint, id_b bigint",
    )
    local = {
        r.id: r.cluster_id for r in dedup.connected_components(pairs).collect()
    }
    dist = {
        r.id: r.cluster_id
        for r in dedup.connected_components(
            pairs, local_edge_threshold=None
        ).collect()
    }
    assert local == dist
    assert local[20] == 1 and local[12] == 9


def test_connected_components_selfloop_threshold_count(spark):
    """ADVICE r15: a self-loop pair survives the symmetrize+distinct
    as ONE row, so the halved edge count undercounted and the local
    fast path engaged slightly above its documented threshold.
    Self-loops are now excluded from the sizing count (they carry no
    component information), and BOTH paths still emit a
    self-loop-only node as its own root."""
    pairs = spark.createDataFrame(
        [(1, 2), (7, 7), (8, 8)], "id_a bigint, id_b bigint"
    )
    # 1 real undirected edge + 2 self-loops = 4 directed-distinct rows
    # pre-fix (counted as 2), 2 post-fix (counted as 1): threshold 1
    # now engages the fast path at exactly its documented size. The
    # LABELS are identical on both paths at every threshold, self-loop
    # nodes included — the fix changes sizing only.
    for thr in (1, 2, None):
        got = {
            r.id: r.cluster_id
            for r in dedup.connected_components(
                pairs, local_edge_threshold=thr
            ).collect()
        }
        assert got == {1: 1, 2: 1, 7: 7, 8: 8}, (thr, got)


def test_dedup_keep_representative(spark, docs):
    """Perturbed corpus deduped on minhash clusters: every cluster
    keeps exactly its min id; unpaired docs all survive."""
    from dbitool_spark.plans.llm_ops import _perturbed_corpus

    corpus = _perturbed_corpus(docs.limit(20))
    pairs = dedup.minhash_near_dup_pairs(
        corpus, "doc_id", "text", threshold=0.7
    )
    kept = dedup.dedup_keep_representative(corpus, pairs, "doc_id")
    comp = dedup.connected_components(pairs)
    n_nodes = comp.count()
    n_clusters = comp.select("cluster_id").distinct().count()
    assert kept.count() == corpus.count() - (n_nodes - n_clusters)
    # every representative is a cluster min and still present
    mins = {r.cluster_id for r in comp.collect()}
    kept_ids = {r.doc_id for r in kept.collect()}
    assert mins <= kept_ids


def test_simhash_banding_parameterized(spark, docs):
    """Non-default 8x8 banding: the pigeonhole guarantee widens to
    hamming <= n_blocks-1 = 7 — every planted pair within that radius
    MUST be a candidate (recall 1.0 within the guaranteed radius)."""
    words = F.split(F.lower(F.trim(F.col("text"))), r"\s+")
    perturbed = docs.select(
        (F.col("doc_id") + 1000).alias("doc_id"),
        F.concat_ws(" ", F.slice(words, 1, F.size(words) - 1)).alias("text"),
    )
    corpus = docs.select("doc_id", "text").unionAll(perturbed)
    sig = dedup.simhash_signatures(corpus, "doc_id", "text")
    a = sig.filter(F.col("id") < 1000).select(
        F.col("id").alias("id_a"), F.col("sig").alias("sa")
    )
    b = sig.filter(F.col("id") >= 1000).select(
        (F.col("id") - 1000).alias("id_a"), F.col("sig").alias("sb")
    )
    truth = a.join(b, "id_a").withColumn(
        "hamming", F.bit_count(F.col("sa").bitwiseXOR(F.col("sb")))
    )
    want = {r.id_a for r in truth.filter(F.col("hamming") <= 7).collect()}
    assert want, "corpus must contain planted pairs within the radius"
    cands = dedup.simhash_candidates(
        corpus, "doc_id", "text", n_blocks=8, bits_per_block=8
    )
    got = {
        r.id_a
        for r in cands.filter(
            (F.col("id_b") - F.col("id_a") == 1000) & (F.col("id_a") < 1000)
        ).collect()
    }
    assert want <= got
    # invalid banding must raise BEFORE the signature persist — a
    # post-persist raise would orphan a CacheManager entry that later
    # plan-identical signature subplans silently materialize through
    with pytest.raises(ValueError, match="banding"):
        dedup.simhash_candidates(
            corpus, "doc_id", "text", n_blocks=5, bits_per_block=16
        )
    probe = dedup.simhash_signatures(corpus, "doc_id", "text")
    cached_plan = probe._jdf.queryExecution().withCachedData().toString()
    assert "InMemoryRelation" not in cached_plan, (
        "failed validation left the signature plan in the CacheManager"
    )


def test_near_dup_ops_release_cached_intermediates(spark, docs, emb):
    """The persisted signature/bucket tables must be unpersisted
    before each op returns — only the op's own (small) checkpointed
    result may linger, so repeated calls in a long-lived session keep
    bounded executor storage."""
    sc = spark.sparkContext

    def n_cached() -> int:
        return sc._jsc.getPersistentRDDs().size()

    corpus = docs.select("doc_id", "text")
    for op in (
        lambda: dedup.minhash_near_dup_pairs(corpus, "doc_id", "text", threshold=0.7),
        lambda: dedup.simhash_candidates(corpus, "doc_id", "text"),
        lambda: similarity.embedding_near_dup_pairs(emb, threshold=0.999),
    ):
        base = n_cached()
        result = op()
        assert result.count() >= 0  # result stays usable after release
        assert n_cached() <= base + 1, "persisted intermediates leaked"


def test_lsh_ann_recall_and_candidate_bound(spark, emb):
    """LSH top-k must recover most of the true top-k while generating
    far fewer comparisons than all-pairs."""
    queries = emb.filter(F.col("vec_id") < 10)
    true = {
        (r.query_id, r.neighbor_id)
        for r in similarity.brute_force_topk(emb, queries, k=5).collect()
    }
    approx = {
        (r.query_id, r.neighbor_id)
        for r in similarity.lsh_topk(emb, queries, k=5).collect()
    }
    recall = len(true & approx) / len(true)
    assert recall >= 0.6, f"LSH recall too low: {recall}"


def test_topk_cross_table_queries_keep_coincidental_ids(spark, emb):
    """When queries come from a DIFFERENT table (query_id_col set),
    id equality is coincidence between unrelated entities: corpus
    vector 0 must stay eligible as a neighbor of query 0. Same-table
    queries (default) still exclude the self-match."""
    queries = emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qv")
    )
    cross = similarity.brute_force_topk(
        emb, queries, k=emb.count(), query_id_col="qid", query_vec_col="qv"
    )
    # every query sees the FULL corpus — including its own id, which
    # here ranks first at cos 1.0 because qv is that same vector
    top1 = {r.query_id: r.neighbor_id for r in cross.filter("rank = 1").collect()}
    assert top1 == {0: 0, 1: 1, 2: 2}
    same = similarity.brute_force_topk(emb, emb.filter(F.col("vec_id") < 3), k=5)
    assert same.filter("query_id = neighbor_id").count() == 0


def test_lsh_buckets_preserve_string_id_type(spark, emb):
    """The mapInPandas schemas derive the id field from the input
    column type — string ids must survive LSH and IVF end to end
    rather than dying in Arrow conversion against a hardcoded long."""
    s = emb.select(
        F.concat(F.lit("doc-"), F.col("vec_id")).alias("vec_id"), "embedding"
    )
    queries = s.filter(F.col("vec_id").isin("doc-0", "doc-1"))
    got = similarity.lsh_topk(s, queries, k=3).collect()
    assert got and all(isinstance(r.neighbor_id, str) for r in got)
    got_ivf = similarity.ivf_topk(s, queries, k=3, n_centroids=4).collect()
    assert got_ivf and all(isinstance(r.neighbor_id, str) for r in got_ivf)
    with pytest.raises(ValueError, match="1 <= bits <= 62"):
        similarity.lsh_topk(s, queries, k=3, bits=63)


def test_ngram_threshold_validation(spark, docs):
    """threshold <= 0 breaks the exact shingle-join construction
    (disjoint pairs would qualify but can never be generated) — the
    ops must reject it instead of silently under-reporting."""
    for bad in (0.0, -0.5, 1.5):
        with pytest.raises(ValueError, match="threshold"):
            dedup.ngram_jaccard_pairs(docs, "doc_id", "text", threshold=bad)
        with pytest.raises(ValueError, match="threshold"):
            dedup.ngram_containment_pairs(docs, "doc_id", "text", threshold=bad)


def test_embedding_near_dup_pairs_finds_self_dups(spark, emb):
    """A corpus containing an exact copy of each vector must report
    every (i, i+offset) pair at cos ~= 1."""
    copy = emb.select(
        (F.col("vec_id") + 10_000).alias("vec_id"), "embedding", "label"
    )
    corpus = emb.unionAll(copy)
    pairs = similarity.embedding_near_dup_pairs(corpus, threshold=0.999)
    planted = pairs.filter(
        (F.col("id_b") - F.col("id_a") == 10_000) & (F.col("id_a") < 10_000)
    )
    assert planted.count() == emb.count()


def test_cosine_expression_matches_python(spark):
    import math

    a = [1.0, 2.0, 3.0]
    b = [-1.0, 0.5, 2.0]
    df = spark.createDataFrame([(a, b)], "a array<double>, b array<double>")
    got = df.select(similarity.cosine(F.col("a"), F.col("b")).alias("c")).first().c
    dot = sum(x * y for x, y in zip(a, b))
    want = dot / (math.sqrt(sum(x * x for x in a)) * math.sqrt(sum(y * y for y in b)))
    assert abs(got - want) < 1e-12


def test_quality_score_deterministic_and_bounded(spark, docs):
    scored = text.quality_score(docs).select("doc_id", "quality_score")
    rows = {r.doc_id: r.quality_score for r in scored.collect()}
    again = {r.doc_id: r.quality_score for r in scored.collect()}
    assert rows == again
    assert all(0.0 <= v <= 1.0 for v in rows.values())


def test_lang_id_marker_behavior(spark):
    df = spark.createDataFrame(
        [
            (1, "the cat and the dog sat on the mat with it"),
            (2, "der hund und die katze ist nicht auf das sofa"),
            (3, "el perro y la casa es en la calle con los gatos"),
            (4, "xyzzy plugh qwerty"),
        ],
        "doc_id int, text string",
    )
    out = {r.doc_id: r.lang_pred for r in text.lang_id(df).collect()}
    assert out[1] == "en" and out[2] == "de" and out[3] == "es"
    assert out[4] == "unknown"


def test_fingerprint_normalization(spark):
    df = spark.createDataFrame(
        [(1, "Hello,  World!"), (2, "hello world"), (3, "different text")],
        "id int, text string",
    )
    fps = {r.id: r.fp for r in df.select("id", text.fingerprint(F.col("text")).alias("fp")).collect()}
    assert fps[1] == fps[2]
    assert fps[1] != fps[3]


def test_media_features_deterministic_fake_decode(spark, docs):
    media = multimodal.documents_as_media(docs)
    feats = multimodal.extract_media_features(media)
    rows = feats.collect()
    assert len(rows) == docs.count()
    by_id = {r.media_id: r for r in rows}
    # deterministic: same bytes -> same digest-derived features
    again = {r.media_id: r for r in multimodal.extract_media_features(media).collect()}
    for mid, r in by_id.items():
        assert again[mid].content_sha == r.content_sha
        assert again[mid].feature == r.feature
        assert 16 <= r.width < 256 and 16 <= r.height < 256
        assert len(r.feature) == 8


def test_ivf_ann_recall(spark, emb):
    """IVF probing must recover most of the true top-k while scanning
    only n_probe of n_centroids cells."""
    queries = emb.filter(F.col("vec_id") < 10)
    true = {
        (r.query_id, r.neighbor_id)
        for r in similarity.brute_force_topk(emb, queries, k=5).collect()
    }
    approx = {
        (r.query_id, r.neighbor_id)
        for r in similarity.ivf_topk(
            emb, queries, k=5, n_centroids=8, n_probe=4
        ).collect()
    }
    recall = len(true & approx) / len(true)
    assert recall >= 0.6, f"IVF recall too low: {recall}"


def test_ivf_gemm_kernel_matches_naive_assignments(spark, emb):
    """The matmul-identity distance kernel (similarity._euclidean_sq)
    must produce the SAME cell assignments as the naive broadcast-cube
    kernel it replaced, on the real bench corpus — the identity only
    changes peak memory (O(N*C + N*dim) vs N*C*dim), never the
    ordering."""
    import numpy as np

    mat = np.vstack(
        [np.asarray(r.embedding) for r in emb.orderBy("vec_id").collect()]
    ).astype(np.float64)
    centroids = similarity._lloyd_kmeans(mat[:256], 16, max_iter=10, seed=42)
    naive = ((mat[:, None, :] - centroids[None, :, :]) ** 2).sum(axis=2)
    gemm = similarity._euclidean_sq(mat, centroids)
    assert np.allclose(naive, gemm, atol=1e-8)
    assert (gemm >= 0).all()  # cancellation clamped
    assert (naive.argsort(axis=1)[:, :4] == gemm.argsort(axis=1)[:, :4]).all()


def test_ngram_jaccard_exact_vs_bruteforce(spark, docs):
    """The inverted-index path must find EVERY pair brute force finds
    at the threshold, with identical jaccard values."""
    corpus = docs.select("doc_id", "text")
    ids = corpus.select(F.col("doc_id").alias("id_a"))
    all_pairs = ids.crossJoin(
        corpus.select(F.col("doc_id").alias("id_b"))
    ).filter(F.col("id_a") < F.col("id_b"))
    brute = {
        (r.id_a, r.id_b): round(r.jaccard, 9)
        for r in dedup.jaccard_pairs(corpus, "doc_id", "text", all_pairs).collect()
        if r.jaccard >= 0.3
    }
    ix = {
        (r.id_a, r.id_b): round(r.jaccard, 9)
        for r in dedup.ngram_jaccard_pairs(
            corpus, "doc_id", "text", threshold=0.3
        ).collect()
    }
    assert ix == brute


def test_ngram_jaccard_max_doc_freq_guard(spark):
    """Stop-shingle cap: docs that only share an ubiquitous shingle
    stop pairing once its doc-frequency exceeds the cap."""
    common = "the quick brown"
    df = spark.createDataFrame(
        [(i, f"{common} unique{i} word{i} tail{i}") for i in range(5)],
        "doc_id int, text string",
    )
    unguarded = dedup.ngram_jaccard_pairs(df, "doc_id", "text", threshold=0.01)
    assert unguarded.count() > 0
    guarded = dedup.ngram_jaccard_pairs(
        df, "doc_id", "text", threshold=0.01, max_doc_freq=3
    )
    assert guarded.count() == 0


def test_asof_join_semantics(spark):
    """Hand-built as-of: inclusive boundary, tie-break to greatest
    value, null before any right row, tolerance cutoff."""
    from dbitool_spark.ops.temporal import asof_join

    left = spark.createDataFrame(
        [(1, 5, "a"), (1, 10, "b"), (1, 20, "c"), (2, 7, "d")],
        "k bigint, t bigint, tag string",
    )
    right = spark.createDataFrame(
        [(1, 5, 50), (1, 5, 51), (1, 12, 60), (2, 9, 70)],
        "k bigint, rt bigint, v bigint",
    )
    got = {
        r.tag: r.asof_v
        for r in asof_join(left, right, "k", "t", "rt", ["v"]).collect()
    }
    # t=5: inclusive + tie -> greatest v (51); t=10: still 51;
    # t=20: the rt=12 row; k=2 t=7: no right row at or before
    assert got == {"a": 51, "b": 51, "c": 60, "d": None}

    with_tol = {
        r.tag: r.asof_v
        for r in asof_join(left, right, "k", "t", "rt", ["v"], tolerance=3).collect()
    }
    # t=10 is 5 units after rt=5 -> outside tolerance 3
    assert with_tol == {"a": 51, "b": None, "c": None, "d": None}


def test_range_join_matches_naive(spark):
    """Bucketized range join == the naive cross-product filter, and
    the plan is an equi-join (no BroadcastNestedLoopJoin)."""
    import contextlib
    import io

    from dbitool_spark.ops.temporal import range_join

    pts = spark.createDataFrame(
        [(i, i * 7 % 100) for i in range(60)], "pid bigint, p bigint"
    )
    iv = spark.createDataFrame(
        [(j, j * 11 % 80, j * 11 % 80 + 15) for j in range(25)],
        "iid bigint, lo bigint, hi bigint",
    )
    got = {
        (r.pid, r.iid)
        for r in range_join(pts, iv, "p", "lo", "hi", bucket=16).collect()
    }
    naive = {
        (r.pid, r.iid)
        for r in pts.crossJoin(iv)
        .filter((F.col("lo") <= F.col("p")) & (F.col("p") <= F.col("hi")))
        .collect()
    }
    assert got == naive and len(got) > 0

    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        range_join(pts, iv, "p", "lo", "hi", bucket=16).explain("formatted")
    assert "BroadcastNestedLoopJoin" not in buf.getvalue()


def test_real_container_decoders_roundtrip():
    """Stdlib decoders recover container truth: wave-module WAV
    duration, BMP/PNG/JPEG dimensions; unknown bytes fall through to
    the deterministic fake."""
    import struct
    import zlib

    from dbitool_spark.ops import multimodal as m

    for mid in range(12):
        wav = m._synth_wav(mid)
        _, _, dur, feat = m._decode_one("audio", wav)
        assert dur == 500 + (mid % 5) * 100
        assert feat[0] == 1.0 and feat[1] == 2.0  # mono, 16-bit
        bmp = m._synth_bmp(mid)
        w, h, _, bfeat = m._decode_one("image", bmp)
        assert (w, h) == (8 + mid % 16, 8 + mid % 9)
        assert bfeat[0] == 24.0
        # full pixel decode: synth row is BGR (px, 255-px, 7px) per x,
        # identical every row -> channel means are closed-form
        row = [((mid + x) % 256, 255 - (mid + x) % 256, ((mid + x) % 256 * 7) % 256)
               for x in range(w)]
        exp = [round(sum(p[c] for p in row) / w, 6) for c in range(3)]
        assert bfeat[1:] == exp
    # PNG IHDR
    ihdr = struct.pack(">II", 321, 123) + bytes([8, 6, 0, 0, 0])
    png = (
        b"\x89PNG\r\n\x1a\n"
        + struct.pack(">I", 13) + b"IHDR" + ihdr
        + struct.pack(">I", zlib.crc32(b"IHDR" + ihdr))
    )
    assert m._decode_one("image", png)[:2] == (321, 123)
    # JPEG SOF0 behind an APP0 segment
    sof = b"\xff\xc0" + struct.pack(">H", 17) + bytes([8]) + struct.pack(">HH", 240, 320) + b"\x03" + b"\x00" * 9
    jpg = b"\xff\xd8" + b"\xff\xe0" + struct.pack(">H", 16) + b"JFIF\x00" + b"\x00" * 9 + sof
    assert m._decode_one("image", jpg)[:2] == (320, 240)
    # truncated WAV header must not raise — falls back to the fake
    broken = b"RIFF\x00\x00\x00\x00WAVE"
    w, h, d, feat = m._decode_one("audio", broken)
    assert len(feat) == 8  # fake's 8-dim digest feature


def test_duplicate_spans_skew_guard(spark):
    """max_gram_freq drops ultra-hot grams from span marking: with the
    cap far above any frequency the output equals the exact path; with
    cap=1 nothing is a duplicate."""
    from dbitool_spark.plans.llm_ops import duplicate_spans_documents

    exact = duplicate_spans_documents(spark, SF_SMOKE)
    capped_loose = duplicate_spans_documents(spark, SF_SMOKE, max_gram_freq=10**6)
    assert sorted(map(tuple, exact.collect())) == sorted(
        map(tuple, capped_loose.collect())
    )
    assert duplicate_spans_documents(spark, SF_SMOKE, max_gram_freq=1).count() == 0


@pytest.mark.parametrize("rate,nframes,channels,sampwidth", [
    (8000, 1, 1, 1),
    (16000, 12345, 2, 2),
    (44100, 44100, 1, 2),
    (48000, 7, 2, 3),
])
def test_wav_decode_property(rate, nframes, channels, sampwidth):
    """Property: the WAV decoder reports the container's exact frame
    math for arbitrary rates/frame counts/channel layouts."""
    import io as _io
    import wave as _wave

    from dbitool_spark.ops import multimodal as m

    buf = _io.BytesIO()
    with _wave.open(buf, "wb") as w:
        w.setnchannels(channels)
        w.setsampwidth(sampwidth)
        w.setframerate(rate)
        w.writeframes(b"\x00" * (nframes * channels * sampwidth))
    _, _, dur, feat = m._decode_one("audio", buf.getvalue())
    assert dur == nframes * 1000 // rate
    assert feat[0] == float(channels) and feat[1] == float(sampwidth)


def test_bmp_core_header_and_jpeg_marker_edge_cases():
    """BITMAPCOREHEADER (12-byte DIB) parses its 16-bit dims; an
    unknown DIB size falls through to the fake instead of mis-parsing;
    the JPEG scan skips 0xFF fill bytes and length-less RST/TEM
    markers (ITU T.81 B.1.1.2)."""
    import struct

    from dbitool_spark.ops import multimodal as m

    # BITMAPCOREHEADER: file header (14) + size=12, w=640, h=480, planes=1, bpp=8
    core = b"BM" + b"\x00" * 12 + struct.pack("<IHHHH", 12, 640, 480, 1, 8)
    assert m._decode_one("image", core)[:2] == (640, 480)
    # unknown DIB size (e.g. 16) -> deterministic fake, not garbage dims
    odd = b"BM" + b"\x00" * 12 + struct.pack("<IHHHH", 16, 9999, 9999, 1, 8)
    w, h, _, feat = m._decode_one("image", odd)
    assert len(feat) == 8  # the fake's 8-dim digest feature
    # JPEG: fill byte + RST0 + TEM before the SOF0 frame header
    sof = (
        b"\xff\xc0" + struct.pack(">H", 17) + bytes([8])
        + struct.pack(">HH", 111, 222) + b"\x03" + b"\x00" * 9
    )
    jpg = (
        b"\xff\xd8"
        + b"\xff\xff"          # fill byte prefix before next marker
        + b"\xd0"               # RST0 (standalone, no length)
        + b"\xff\x01"          # TEM (standalone)
        + b"\xff\xe0" + struct.pack(">H", 16) + b"JFIF\x00" + b"\x00" * 9
        + sof
    )
    assert m._decode_one("image", jpg)[:2] == (222, 111)


def test_duplicate_spans_hash_gram_parity(spark):
    """hash_grams=True (the 100 TB shuffle-width path: xxhash64 gram
    keys) must produce the exact same spans as the string-keyed path
    at test scale — collisions are the only possible divergence."""
    from dbitool_spark.plans.llm_ops import duplicate_spans_documents

    exact = duplicate_spans_documents(spark, SF_ORACLE)
    hashed = duplicate_spans_documents(spark, SF_ORACLE, hash_grams=True)
    assert sorted(map(tuple, exact.collect())) == sorted(map(tuple, hashed.collect()))

    # same contract on the trim ACTION: the hashed owner-selection
    # window must cut the exact same words
    from dbitool_spark.plans.llm_ops import trim_duplicate_spans_documents

    t_exact = trim_duplicate_spans_documents(spark, SF_ORACLE)
    t_hashed = trim_duplicate_spans_documents(spark, SF_ORACLE, hash_grams=True)
    assert sorted(map(tuple, t_exact.collect())) == sorted(
        map(tuple, t_hashed.collect())
    )


def test_connected_components_star_handles_high_diameter(spark):
    """algorithm='star' (Kiveris large-star/small-star, O(log^2 n)
    rounds) labels a diameter-99 chain the flooding cap rejects, and
    matches the union-find + flooding labels on a random graph."""
    import random

    import pytest as _pytest

    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(99)], "id_a bigint, id_b bigint"
    )
    with _pytest.raises(RuntimeError, match="did not converge"):
        dedup.connected_components(chain, local_edge_threshold=None, max_iter=10)
    star = dedup.connected_components(
        chain, local_edge_threshold=None, algorithm="star"
    ).collect()
    assert len(star) == 100 and all(r.cluster_id == 0 for r in star)

    random.seed(7)
    edges = [(a, b) for a, b in {(random.randrange(200), random.randrange(200))
                                 for _ in range(150)} if a != b]
    df = spark.createDataFrame(edges, "id_a bigint, id_b bigint")
    got_star = sorted(map(tuple, dedup.connected_components(
        df, local_edge_threshold=None, algorithm="star").collect()))
    got_uf = sorted(map(tuple, dedup.connected_components(df).collect()))
    got_flood = sorted(map(tuple, dedup.connected_components(
        df, local_edge_threshold=None).collect()))
    assert got_star == got_uf == got_flood


def test_kmeans_distributed_empty_cluster_rule(spark):
    """Duplicate seeds force an empty cluster in iteration 1 (all
    ties break to the lower cid, so c1 gets no members): the
    empty-cluster rule keeps c1's previous centroid [0,0], which then
    RECAPTURES the zero vectors in the final assignment after c0's
    mean moved to [1/3, 1/3] — exactly the keep-previous semantics the
    oracle's COALESCE encodes."""
    df = spark.createDataFrame(
        [(0, [0.0, 0.0]), (1, [0.0, 0.0]), (2, [1.0, 1.0])],
        "vec_id bigint, embedding array<double>",
    )
    out = similarity.kmeans_distributed(df, "vec_id", "embedding", k=2, iters=1).collect()
    assert [(r.cluster_id, r.n_vecs) for r in out] == [(0, 1), (1, 2)]


def test_kmeans_cluster_updates_parity_and_depth(spark):
    """The iters>2 production path (cluster-side centroid updates,
    localCheckpoint per round) must be bit-identical to the driver-
    collect path at the same iteration count, and must actually run a
    10-iteration fit with non-increasing inertia vs the 2-iteration
    fit — the thing the per-iteration driver round-trip made painful."""
    emb = catalog.load(spark, SF_SMOKE, "embeddings")

    def run(**kw):
        return sorted(
            (r.cluster_id, r.n_vecs, r.inertia_r)
            for r in similarity.kmeans_distributed(
                emb, "vec_id", "embedding", k=4, **kw
            ).collect()
        )

    a = run(iters=2, centroid_updates="driver")
    b = run(iters=2, centroid_updates="cluster")
    assert a == b
    ten = run(iters=10)  # auto -> cluster path
    assert sum(x[2] for x in ten) <= sum(x[2] for x in a) + 1e-6
    with pytest.raises(ValueError, match="auto|driver|cluster"):
        run(iters=2, centroid_updates="bogus")


def test_ngram_containment_skew_guard(spark):
    """max_doc_freq with a cap above every frequency equals the exact
    path; cap=0 drops every shingle from the index so no candidates
    survive (the guard bounds candidate generation only)."""
    docs = catalog.load(spark, SF_SMOKE, "documents")
    exact = sorted(
        map(tuple, dedup.ngram_containment_pairs(docs, "doc_id", "text",
                                                 threshold=0.5).collect())
    )
    loose = sorted(
        map(tuple, dedup.ngram_containment_pairs(docs, "doc_id", "text",
                                                 threshold=0.5,
                                                 max_doc_freq=10**9).collect())
    )
    assert exact == loose and exact  # non-vacuous at threshold 0.5
    assert dedup.ngram_containment_pairs(
        docs, "doc_id", "text", threshold=0.5, max_doc_freq=0
    ).count() == 0


def test_png_synth_decode_property(spark):
    """Property over many ids: the synthesized PNG is a VALID container
    (zlib inflate of IDAT reproduces the filter-0 scanlines at the
    declared dims) and the IHDR decoder recovers the closed-form
    width/height."""
    import struct
    import zlib

    from dbitool_spark.ops import multimodal as m

    for mid in range(40):
        png = m._synth_png(mid)
        w_exp, h_exp = 4 + mid % 13, 4 + mid % 11
        assert m._decode_one("image", png)[:2] == (w_exp, h_exp)
        # container validity: walk chunks, inflate IDAT, check geometry
        assert png[:8] == b"\x89PNG\r\n\x1a\n"
        i, idat = 8, b""
        while i < len(png):
            (ln,) = struct.unpack_from(">I", png, i)
            tag = png[i + 4:i + 8]
            body = png[i + 8:i + 8 + ln]
            (crc,) = struct.unpack_from(">I", png, i + 8 + ln)
            assert crc == zlib.crc32(tag + body)
            if tag == b"IDAT":
                idat += body
            i += 12 + ln
        raw = zlib.decompress(idat)
        assert len(raw) == h_exp * (1 + 3 * w_exp)
        assert all(raw[r * (1 + 3 * w_exp)] == 0 for r in range(h_exp))


def test_star_cc_random_graphs_match_union_find(spark):
    """Randomized cross-check beyond the fixed-seed case: star labels
    equal union-find labels on graphs of varying density, including
    ones with multiple components and self-contained stars."""
    import random

    for seed, n_nodes, n_edges in [(11, 60, 30), (13, 80, 200), (17, 40, 39)]:
        rng = random.Random(seed)
        edges = [(rng.randrange(n_nodes), rng.randrange(n_nodes)) for _ in range(n_edges)]
        edges = [(a, b) for a, b in edges if a != b]
        if not edges:
            continue
        df = spark.createDataFrame(edges, "id_a bigint, id_b bigint")
        star = sorted(map(tuple, dedup.connected_components(
            df, local_edge_threshold=None, algorithm="star").collect()))
        uf = sorted(map(tuple, dedup.connected_components(df).collect()))
        assert star == uf, f"seed {seed}"


def _encode_png(pixels: bytes, width: int, height: int, channels: int,
                filters: list[int]) -> bytes:
    """Test-side PNG encoder applying the GIVEN filter type per
    scanline (spec §9 forward direction), so the decoder's unfilter
    path is exercised on all five types."""
    import struct
    import zlib

    color_type = {1: 0, 2: 4, 3: 2, 4: 6}[channels]
    stride = width * channels
    raw = bytearray()
    for y in range(height):
        f = filters[y % len(filters)]
        line = bytearray(pixels[y * stride:(y + 1) * stride])
        prev = pixels[(y - 1) * stride: y * stride] if y else bytes(stride)
        enc = bytearray(line)
        for i in range(stride):
            a = line[i - channels] if i >= channels else 0
            b = prev[i]
            c = prev[i - channels] if i >= channels else 0
            if f == 1:
                enc[i] = (line[i] - a) & 0xFF
            elif f == 2:
                enc[i] = (line[i] - b) & 0xFF
            elif f == 3:
                enc[i] = (line[i] - (a + b) // 2) & 0xFF
            elif f == 4:
                p = a + b - c
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                pred = a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)
                enc[i] = (line[i] - pred) & 0xFF
        raw += bytes([f]) + bytes(enc)

    def chunk(tag, body):
        return (struct.pack(">I", len(body)) + tag + body
                + struct.pack(">I", zlib.crc32(tag + body)))

    ihdr = struct.pack(">IIBBBBB", width, height, 8, color_type, 0, 0, 0)
    return (b"\x89PNG\r\n\x1a\n" + chunk(b"IHDR", ihdr)
            + chunk(b"IDAT", zlib.compress(raw)) + chunk(b"IEND", b""))


def test_png_full_pixel_decode_all_filters():
    """The stdlib PNG decoder recovers exact per-channel pixel means
    through every filter type (None/Sub/Up/Average/Paeth) and both RGB
    and grayscale; a corrupted chunk CRC degrades to header-only."""
    import random
    import struct

    from dbitool_spark.ops import multimodal as m

    rng = random.Random(42)
    for channels in (1, 3):
        w, h = 13, 9
        pixels = bytes(rng.randrange(256) for _ in range(w * h * channels))
        for filters in ([0], [1], [2], [3], [4], [0, 1, 2, 3, 4]):
            png = _encode_png(pixels, w, h, channels, filters)
            gw, gh, _, feat = m._decode_one("image", png)
            assert (gw, gh) == (w, h)
            n = w * h
            exp = [round(sum(pixels[c::channels]) / n, 6) for c in range(channels)]
            assert feat[2:] == exp, f"filters={filters} ch={channels}"
    # CRC corruption -> header-only feature, dims still real
    png = bytearray(_encode_png(pixels, 13, 9, 3, [4]))
    idat_at = png.find(b"IDAT")
    png[idat_at + 8] ^= 0xFF  # corrupt IDAT body -> CRC mismatch
    gw, gh, _, feat = m._decode_one("image", bytes(png))
    assert (gw, gh) == (13, 9) and len(feat) == 2


def test_png_pixel_means_through_spark_pipeline(spark):
    """End to end through mapInPandas: synthesized PNGs' per-channel
    means match the closed-form scanline construction ((mid + x) % 256
    repeated per row)."""
    from dbitool_spark.ops import multimodal as m

    df = spark.createDataFrame([(i,) for i in range(2, 30, 3)], "doc_id bigint")
    media = m.synthesize_media(df, "doc_id")
    feats = {r.media_id: r for r in m.extract_media_features(media).collect()
             if r.media_id % 3 == 2}
    assert feats
    for mid, r in feats.items():
        w = 4 + mid % 13
        scan = [(mid + x) % 256 for x in range(w * 3)]
        exp = [round(sum(scan[c::3]) / w, 6) for c in range(3)]
        got = [round(v, 5) for v in r.feature[2:]]
        assert got == [round(e, 5) for e in exp], mid


def test_wav_sample_stats_and_gif_dims():
    """Full WAV sample decode: the synthesized square wave's mean-abs
    and RMS equal amplitude/32768 exactly; GIF logical-screen dims
    parse from both 87a and 89a headers."""
    import struct

    from dbitool_spark.ops import multimodal as m

    for mid in (0, 6, 12):
        wav = m._synth_wav(mid)
        _, _, _, feat = m._decode_one("audio", wav)
        amp = 1000 + (mid % 7) * 100
        assert len(feat) == 6
        assert feat[4] == feat[5] == round(amp / 32768.0, 6)
    for magic in (b"GIF87a", b"GIF89a"):
        gif = magic + struct.pack("<HH", 320, 200) + bytes([0xF7, 0, 0])
        w, h, _, feat = m._decode_one("image", gif)
        assert (w, h) == (320, 200) and feat == [8.0]


def test_decoder_truncation_falls_through_not_crashes():
    """Truncated containers never escape the decode routing (review
    finding: ValueError from np.frombuffer / short-slice unpacks
    crashed the mapInPandas job): truncated WAV -> fake; PNG truncated
    mid-chunk -> header-only dims (not the fake)."""
    import struct
    import zlib

    from dbitool_spark.ops import multimodal as m

    # valid header, sample data cut to an odd byte count
    wav = bytearray(m._synth_wav(3))
    broken_wav = bytes(wav[: 44 + 7])
    w, h, d, feat = m._decode_one("audio", broken_wav)
    assert len(feat) in (4, 6, 8)  # decodes partially or falls to fake, never raises

    ihdr = struct.pack(">IIBBBBB", 50, 40, 8, 2, 0, 0, 0)
    png = (
        b"\x89PNG\r\n\x1a\n"
        + struct.pack(">I", 13) + b"IHDR" + ihdr
        + struct.pack(">I", zlib.crc32(b"IHDR" + ihdr))
        + struct.pack(">I", 9999) + b"IDAT" + b"\x00" * 3  # truncated chunk
    )
    assert m._decode_one("image", png)[:2] == (50, 40)


def test_star_cc_self_loop_singletons(spark):
    """Self-loop-only nodes stay in the star output as singletons,
    matching flood and union-find (review finding)."""
    df = spark.createDataFrame(
        [(5, 5), (1, 2)], "id_a bigint, id_b bigint"
    )
    star = sorted(map(tuple, dedup.connected_components(
        df, local_edge_threshold=None, algorithm="star").collect()))
    uf = sorted(map(tuple, dedup.connected_components(df).collect()))
    flood = sorted(map(tuple, dedup.connected_components(
        df, local_edge_threshold=None).collect()))
    assert star == uf == flood == [(1, 1), (2, 1), (5, 5)]


def test_gif_codec_closed_form():
    """_synth_gif emits spec-valid GIF89a (clear-before-every-literal
    LZW) and _decode_gif's FULL pixel decode recovers the closed-form
    dims and channel means for every id family."""
    from dbitool_spark.ops import multimodal as m

    for mid in range(25):
        w, h, _, feat = m._decode_one("image", m._synth_gif(mid))
        assert (w, h) == (6 + mid % 10, 6 + mid % 7)
        assert feat[0] == 2.0  # 4-entry palette -> 2 bits
        pal = [
            (
                (mid * 31 + c * 67) % 256,
                (mid * 53 + c * 29) % 256,
                (mid * 17 + c * 101) % 256,
            )
            for c in range(4)
        ]
        px = [pal[(x + y + mid) % 4] for y in range(h) for x in range(w)]
        for ch in range(3):
            exp = round(sum(p[ch] for p in px) / len(px), 6)
            assert abs(feat[1 + ch] - exp) < 1e-5, (mid, ch)


def _lzw_encode(indices, min_code_size):
    """Reference GIF-LZW encoder with a GROWING dictionary (the real
    compression path my clear-heavy synth sidesteps): emits CLEAR,
    then standard LZW with width bumps mirrored to the decoder rule
    (bump when next_code hits 2^width), freezing the dictionary at
    4096 (deferred-clear convention)."""
    clear = 1 << min_code_size
    end = clear + 1
    codes = [clear]
    table = {bytes((i,)): i for i in range(clear)}
    next_code = end + 1
    width = min_code_size + 1
    w = b""
    for k in indices:
        wk = w + bytes((k,))
        if wk in table:
            w = wk
            continue
        codes.append((table[w], width))
        if next_code < 4096:
            table[wk] = next_code
            next_code += 1
            # decoder adds entries ONE CODE BEHIND the encoder (it
            # learns entry i only while processing code i+1), so the
            # width bump fires at 2^width + 1, not 2^width — the
            # classic GIF "early change" off-by-one
            if next_code == (1 << width) + 1 and width < 12:
                width += 1
        w = bytes((k,))
    if w:
        codes.append((table[w], width))
    codes.append((end, width))
    # pack: first element (CLEAR) at initial width
    acc = nbits = 0
    out = bytearray()
    packed = [(clear, min_code_size + 1)] + codes[1:]
    for code, cw in packed:
        acc |= code << nbits
        nbits += cw
        while nbits >= 8:
            out.append(acc & 0xFF)
            acc >>= 8
            nbits -= 8
    if nbits:
        out.append(acc & 0xFF)
    return bytes(out)


def test_gif_lzw_growing_dictionary_roundtrip():
    """_gif_lzw against the reference encoder: random index streams
    with real dictionary growth (width 3 -> 12), the KwKwK case, and
    streams long enough to freeze the table at 4096 entries."""
    import random

    from dbitool_spark.ops import multimodal as m

    rng = random.Random(7)
    for trial, (alphabet, n, mcs) in enumerate(
        [(4, 50, 2), (4, 2000, 2), (2, 30, 2), (16, 5000, 4), (4, 60000, 2)]
    ):
        seq = [rng.randrange(alphabet) for _ in range(n)]
        # prepend a KwKwK trigger: aa ab aab aaba...
        seq[:6] = [0, 0, 0, 1, 0, 0]
        data = _lzw_encode(seq, mcs)
        got = m._gif_lzw(data, mcs, n)
        assert got is not None and list(got) == seq, f"trial {trial}"


def test_synthesize_media_families4(spark):
    """families=4 routes id%4==3 to GIF; the pipeline-level decode
    returns the closed-form dims and a 4-element feature (palette
    bits + 3 channel means)."""
    from dbitool_spark.ops import multimodal as m

    ids = spark.range(3, 40, 4)  # all id % 4 == 3
    feats = m.extract_media_features(m.synthesize_media(ids, "id", families=4))
    rows = feats.collect()
    assert len(rows) == 10
    for r in rows:
        mid = r.media_id
        assert (r.width, r.height) == (6 + mid % 10, 6 + mid % 7)
        assert len(r.feature) == 4 and r.feature[0] == 2.0


def test_mp4_container_metadata_decode():
    """_synth_mp4 emits a minimal valid ISO-BMFF container and the
    box-walk decode recovers the closed-form duration/width/height
    (container tier — frame pixel decode stays env-gated)."""
    from dbitool_spark.ops import multimodal as m

    for mid in range(30):
        w, h, dur, feat = m._decode_one("video", m._synth_mp4(mid))
        assert (w, h) == (160 + (mid % 8) * 16, 96 + (mid % 5) * 24)
        assert dur == 1000 + (mid % 20) * 250
        assert feat == [1.0]


def test_mp4_v1_and_largesize_boxes():
    """64-bit largesize boxes and version-1 mvhd (64-bit times) parse;
    truncated/garbage box streams degrade to zeros instead of raising."""
    import struct

    from dbitool_spark.ops import multimodal as m

    def box(t, body):
        return struct.pack(">I", 8 + len(body)) + t + body

    def largebox(t, body):
        return struct.pack(">I", 1) + t + struct.pack(">Q", 16 + len(body)) + body

    mvhd1 = box(
        b"mvhd",
        b"\x01\x00\x00\x00" + struct.pack(">QQIQ", 0, 0, 90000, 90000 * 7)
        + b"\x00" * 80,
    )
    content = box(b"ftyp", b"isom" + b"\x00" * 8) + largebox(b"moov", mvhd1)
    w, h, dur, feat = m._decode_mp4(content)
    assert dur == 7000 and feat == [0.0]
    # garbage after ftyp: no crash, zero metadata
    bad = box(b"ftyp", b"isom" + b"\x00" * 8) + b"\x00\x00\x00\x05zzz"
    assert m._decode_mp4(bad)[2] == 0


def test_mp4_largesize_under_16_rejected():
    """A largesize box whose 64-bit size is 8..15 would invert the
    body range; the walker must stop instead of reading the next
    box's bytes as mvhd fields."""
    import struct

    from dbitool_spark.ops import multimodal as m

    def box(t, body):
        return struct.pack(">I", 8 + len(body)) + t + body

    evil = (
        box(b"ftyp", b"isom" + b"\x00" * 8)
        + struct.pack(">I", 1) + b"moov" + struct.pack(">Q", 12)
        + box(b"mvhd", b"\x00\x00\x00\x00" + struct.pack(">IIII", 0, 0, 1000, 77000) + b"\x00" * 80)
    )
    w, h, dur, feat = m._decode_mp4(evil)
    assert (w, h, dur) == (0, 0, 0)


def test_avi_mjpeg_real_frame_extraction(spark):
    """extract_video_frames: REAL MJPEG-AVI frame decode end to end —
    RIFF walk + per-frame baseline-JPEG decode recover closed-form
    frame counts, 40 ms timestamps, dims, and channel means within
    the quantization bound; non-AVI rows are skipped."""
    import numpy as np

    from dbitool_spark.ops import multimodal as m

    ids = list(range(6))
    rows = [(i, "video", m._synth_avi(i), {"source": "synth"}) for i in ids]
    rows.append((99, "image", b"not media at all", {"source": "junk"}))
    df = spark.createDataFrame(rows, m.MEDIA_SCHEMA)
    out = m.extract_video_frames(df).collect()
    by_id = {}
    for r in out:
        by_id.setdefault(r.media_id, []).append(r)
    assert 99 not in by_id  # undecodable rows dropped
    for mid in ids:
        frames = sorted(by_id[mid], key=lambda r: r.frame_idx)
        assert len(frames) == 2 + mid % 4
        for i, r in enumerate(frames):
            assert (r.width, r.height) == (16, 8)
            assert r.frame_ts_ms == i * 40
            # closed-form channel means from the synth gradient
            xx, yy = np.meshgrid(np.arange(16), np.arange(8))
            rgb = np.stack([
                (xx * 7 + mid + i * 11) % 200,
                (yy * 9 + 2 * mid) % 200,
                ((xx + yy) * 3 + i) % 200,
            ], axis=-1)
            for ch, got in ((0, r.mean_r), (1, r.mean_g), (2, r.mean_b)):
                assert abs(got - float(rgb[..., ch].mean())) < 3.0


def test_avi_router_metadata():
    """_decode_one on an AVI returns first-frame dims, total duration
    (frames x interval), and [n_frames] as the feature."""
    from dbitool_spark.ops import multimodal as m

    avi = m._synth_avi(3)
    w, h, dur, feat = m._decode_one("video", avi)
    assert (w, h) == (16, 8) and dur == 40 * 5 and feat == [5.0]
    # malformed container degrades to the deterministic fake, not a crash
    broken = avi[:20]
    w2, h2, d2, f2 = m._decode_one("video", broken)
    assert len(f2) == 8  # fake-decode feature shape


def test_avi_max_frames_cap(spark):
    from dbitool_spark.ops import multimodal as m

    df = spark.createDataFrame(
        [(7, "video", m._synth_avi(7), {})], m.MEDIA_SCHEMA
    )
    out = m.extract_video_frames(df, max_frames=2).collect()
    assert len(out) == 2 and {r.frame_idx for r in out} == {0, 1}


def test_bm25_plan_shape_and_semantics(spark, tmp_path):
    """BM25 retrieval: the top-k must come from TakeOrderedAndProject
    (per-partition top-k + driver merge, never a global sort), the
    persisted doc-length table must cap corpus tokenization at two
    scans, the eager call must release its persists, and scores must
    be finite, positive, and monotone with query-term tf for
    same-length docs."""
    import re as _re

    from dbitool_spark.plans import llm_ops
    from tests.conftest import executed_plans

    def _persistent_ids():
        it = spark.sparkContext._jsc.sc().getPersistentRDDs().keySet().iterator()
        ids = set()
        while it.hasNext():
            ids.add(it.next())
        return ids

    before = _persistent_ids()
    cache_mgr = spark._jsparkSession.sharedState().cacheManager()
    was_empty = cache_mgr.isEmpty()
    with executed_plans(spark) as plans:
        out = llm_ops.bm25_topk_documents(spark, SF_ORACLE)
    # the only persistent RDD the call leaves is its own checkpointed
    # result (delta-based: a shared mid-suite session legitimately
    # carries other tests' caches, so an absolute assert would be flaky)
    checkpoint = out._jdf.queryExecution().logical().rdd().id()
    leaked = _persistent_ids() - before - {checkpoint}
    assert not leaked, f"the eager call left new cached RDDs: {leaked}"
    if was_empty:
        # logical-plan-level check (registrations exist even before
        # anything computes); only meaningful when this test had the
        # cache to itself — mid-suite, other tests' caches remain
        assert cache_mgr.isEmpty(), "the eager call left cache entries"
    topk = [p for p in plans if "TakeOrderedAndProject" in p]
    assert len(topk) == 1, plans
    plan = topk[0]
    assert "Sort " not in plan.split("TakeOrderedAndProject")[0]
    # the persisted dl/tf tables cap corpus tokenization at exactly
    # their two cache-build scans: every other reference must hit the
    # InMemoryRelation, so unique parquet-scan NODES stay <= 2
    scan_ids = set(_re.findall(r"\((\d+)\) Scan parquet", plan))
    assert len(scan_ids) <= 2, plan
    assert "InMemoryTableScan" in plan

    got = llm_ops.bm25_topk_documents(spark, SF_ORACLE).collect()
    assert len(got) == llm_ops.BM25_TOPK
    scores = [r.bm25 for r in got]
    assert scores == sorted(scores, reverse=True)
    assert all(s > 0 for s in scores)

    # closed-form sanity on a tiny planted corpus: same doc length,
    # more query-term occurrences -> strictly higher score
    docs = spark.createDataFrame(
        [
            (1, "spark join merge window"),       # all 4 terms
            (2, "spark spark filler filler"),     # one term, tf=2
            (3, "filler filler filler filler"),   # no terms
        ],
        "doc_id long, text string",
    )
    d = str(tmp_path)  # pytest-owned scratch (ADVICE r15: mkdtemp leaked)
    for name in ("documents",):
        docs.write.mode("overwrite").parquet(f"{d}/{name}.parquet")
    tiny = {r.doc_id: r.bm25 for r in llm_ops.bm25_topk_documents(spark, d).collect()}
    assert 3 not in tiny  # zero-score docs never pivot in
    assert tiny[1] > tiny[2] > 0


def test_strip_markup_semantics_and_plan(spark):
    """The HTML stripper's contract (ops/text.strip_markup): script/
    style/comment content removed entirely, tags become word
    boundaries, entities decode ONCE ('&amp;' last), whitespace
    collapses — and the registered entry is one JVM projection: no
    shuffle, no Python stage."""
    import contextlib
    import io as _io

    from dbitool_spark.ops import text as t

    df = spark.createDataFrame(
        [
            # script/style content is boilerplate, removed WITH content
            ("<style>p{x:1}</style>a<script>var q=2;</script>b", "a b"),
            # tags become spaces so words don't fuse across them
            ("one</p><p>two", "one two"),
            # comments drop with content
            ("x<!-- hidden -->y", "x y"),
            # entity decode: once, '&amp;' last — '&amp;lt;' must NOT
            # double-decode to '<'
            ("a &amp; b &amp;lt; c &lt;d&gt;", 'a & b &lt; c <d>'),
            # nbsp + collapse + trim
            ("  a&nbsp;&nbsp;b\t c  ", "a b c"),
            # no markup: byte-identical modulo whitespace collapse
            ("plain text", "plain text"),
        ],
        "raw string, want string",
    )
    got = df.select("want", t.strip_markup(F.col("raw")).alias("got")).collect()
    for r in got:
        assert r.got == r.want, (r.got, r.want)

    # plan shape: the registered entry is scan -> project (-> sort for
    # the driver compare); no Exchange from computation, no Python
    from dbitool_spark.plans import llm_ops

    plan_df = llm_ops.strip_markup_documents(spark, SF_SMOKE)
    buf = _io.StringIO()
    with contextlib.redirect_stdout(buf):
        plan_df.explain("formatted")
    plan = buf.getvalue()
    for marker in ("BatchEvalPython", "ArrowEvalPython", "MapInPandas",
                   "SerializeFromObject"):
        assert marker not in plan, f"strip_markup plan has {marker}:\n{plan}"
    # the only exchange allowed is the final ORDER BY's range partition
    import re as _re

    exchanges = _re.findall(r"Exchange (\w+)", plan)
    assert all(e == "rangepartitioning" for e in exchanges), plan


def test_pagerank_links_properties(spark):
    """Integer PageRank invariants: top-K is sorted and genuinely
    NON-uniform (the quadratic edge map varies in-degrees — an affine
    map would be in-regular and the whole test vacuous), every rank
    is at least the teleport base, and the top node beats the uniform
    stationary value."""
    from dbitool_spark.plans import llm_ops

    rows = llm_ops.pagerank_links_documents(spark, SF_ORACLE).collect()
    assert len(rows) == llm_ops._PR_TOPK
    ranks = [r.rank for r in rows]
    assert ranks == sorted(ranks, reverse=True)
    assert len(set(ranks)) > 1, "degenerate: uniform ranks"
    base = llm_ops._PR_UNIT * 15 // 100
    assert all(r >= base for r in ranks)
    assert ranks[0] > llm_ops._PR_UNIT  # top node beats uniform mass


def test_bpe_pair_counts_shape_and_plan(spark):
    """BPE pair statistics: counts are exact (closed-form check on a
    constructed word multiset via the real corpus invariant — every
    word of length L contributes L-1 pairs), and the plan is one
    hash aggregate with map-side partial combine feeding a
    TakeOrderedAndProject (no global sort, no Python)."""
    from dbitool_spark.plans import llm_ops

    df = llm_ops.bpe_pair_counts_documents(spark, SF_ORACLE)
    rows = df.collect()
    assert len(rows) == llm_ops._BPE_PAIR_TOPK
    ns = [r.n for r in rows]
    assert ns == sorted(ns, reverse=True)
    assert all(len(r.pair) == 2 for r in rows)

    plan = _plan_text(df)
    for marker in ("BatchEvalPython", "ArrowEvalPython", "MapInPandas"):
        assert marker not in plan, f"bpe plan has {marker}"
    assert "TakeOrderedAndProject" in plan
    assert plan.count("HashAggregate") >= 2  # partial + final combine


def _plan_text(df):
    import contextlib
    import io as _io

    buf = _io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def test_redact_pii_masks_everything_and_plan(spark):
    """The PII ACTION's load-bearing invariant: redaction uses the
    SAME pattern constants pii_scan detects with (one knob, both
    engines), so zero matches survive in the redacted text; counts
    are positive on every emitted row; and the plan is one JVM
    regexp_replace cascade — no shuffle beyond the driver compare's
    ORDER BY, no Python stage."""
    import re as _re

    from dbitool_spark.plans import llm_ops

    df = llm_ops.redact_pii_documents(spark, SF_ORACLE)
    survivors = df.agg(
        F.sum(
            F.size(
                F.regexp_extract_all(
                    "redacted_text", F.lit(llm_ops._EMAIL_REDACT_RE), F.lit(0)
                )
            )
        ).alias("e"),
        F.sum(
            F.size(
                F.regexp_extract_all(
                    "redacted_text", F.lit(llm_ops._PHONE_REDACT_RE), F.lit(0)
                )
            )
        ).alias("p"),
        F.count(F.lit(1)).alias("n"),
        F.min(
            F.col("n_emails_redacted") + F.col("n_phones_redacted")
        ).alias("min_redactions"),
    ).collect()[0]
    assert survivors.n > 0, "vacuous: no docs redacted at sf0.01"
    assert (survivors.e, survivors.p) == (0, 0), "PII survived redaction"
    assert survivors.min_redactions >= 1  # only touched docs emit
    # masks themselves must not re-match the patterns (idempotence)
    assert not _re.search(llm_ops._EMAIL_REDACT_RE, llm_ops._EMAIL_MASK)
    assert not _re.search(llm_ops._PHONE_REDACT_RE, llm_ops._PHONE_MASK)

    plan = _plan_text(df)
    for marker in ("BatchEvalPython", "ArrowEvalPython", "MapInPandas",
                   "SerializeFromObject"):
        assert marker not in plan, f"redact_pii plan has {marker}"
    exchanges = _re.findall(r"Exchange (\w+)", plan)
    assert all(e == "rangepartitioning" for e in exchanges), plan


def test_strip_repetition_first_occurrence_order(spark, tmp_path):
    """The repetition REMOVAL keeps the FIRST occurrence of each line
    in document order (the MassiveText semantics), and the plan is a
    single projection — no shuffle beyond the final ORDER BY, no
    Python. Constructed corpus: a doc whose first 6-word line repeats
    immediately must trim to [line1, line3] in that order."""
    import re as _re

    from dbitool_spark.plans import llm_ops

    docs = spark.createDataFrame(
        [
            # doc 1 (no plant: 1 % 3 != 0): line repeated in the text
            (1, "a b c d e f a b c d e f g h i j k l", "x", "s", 0),
            # doc 2: no repetition at all
            (2, "p q r s t u v w x y z1 z2", "x", "s", 0),
        ],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    d = str(tmp_path)
    docs.write.mode("overwrite").parquet(f"{d}/documents.parquet")
    got = {
        r.doc_id: r
        for r in llm_ops.strip_repetition_documents(spark, d).collect()
    }
    assert got[1].n_lines_before == 3
    assert got[1].n_lines_after == 2
    assert got[1].had_repetition == 1
    assert got[1].clean_text == "a b c d e f\ng h i j k l"  # first kept
    assert got[2].n_lines_before == 2
    assert got[2].had_repetition == 0
    assert got[2].clean_text == "p q r s t u\nv w x y z1 z2"

    plan = _plan_text(llm_ops.strip_repetition_documents(spark, SF_SMOKE))
    for marker in ("BatchEvalPython", "ArrowEvalPython", "MapInPandas",
                   "SerializeFromObject"):
        assert marker not in plan, f"strip_repetition plan has {marker}"
    exchanges = _re.findall(r"Exchange (\w+)", plan)
    assert all(e == "rangepartitioning" for e in exchanges), plan


def test_trim_duplicate_spans_action(spark, tmp_path):
    """The substring-dedup ACTION (Lee et al. 2022 shape): the first
    (doc_id, pos) occurrence of a duplicated 8-gram is the owner and
    keeps its words; every later occurrence's covered range is cut.
    Constructed corpus: two docs sharing one 8-gram — the earlier doc
    is untouched, the later loses exactly those 8 words. Plus corpus
    invariants at sf0.01 and the no-Python plan pin."""
    from dbitool_spark.plans import llm_ops

    shared = "g1 g2 g3 g4 g5 g6 g7 g8"
    docs = spark.createDataFrame(
        [
            (1, f"{shared} only1 only2", "x", "s", 0),
            (2, f"pre1 pre2 {shared} tail1", "x", "s", 0),
        ],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    d = str(tmp_path)
    docs.write.mode("overwrite").parquet(f"{d}/documents.parquet")
    got = {
        r.doc_id: r
        for r in llm_ops.trim_duplicate_spans_documents(spark, d).collect()
    }
    assert got[1].n_words_cut == 0  # owner: first (doc_id, pos)
    assert got[1].trimmed_text == f"{shared} only1 only2"
    assert got[2].n_words_cut == 8  # exactly the shared gram's words
    assert got[2].trimmed_text == "pre1 pre2 tail1"

    # corpus invariants: arithmetic closes, the action is non-vacuous
    rows = llm_ops.trim_duplicate_spans_documents(spark, SF_ORACLE).collect()
    assert all(r.n_words_after + r.n_words_cut == r.n_words_before for r in rows)
    assert any(r.n_words_cut > 0 for r in rows), "vacuous at sf0.01"

    plan = _plan_text(llm_ops.trim_duplicate_spans_documents(spark, SF_SMOKE))
    for marker in ("BatchEvalPython", "ArrowEvalPython", "MapInPandas",
                   "SerializeFromObject"):
        assert marker not in plan, f"trim plan has {marker}"


def test_curation_text_chain_stages_and_plan(spark):
    """The end-to-end text-cleaning chain: every stage provably fires
    (%3 markup, %5 repeated line, %7 contact plants are disjoint-ish
    moduli so each counter is non-zero), no PII survives the final
    text, and the whole chain is ONE projection — no shuffle beyond
    the driver compare's ORDER BY, no Python stage."""
    import re as _re

    from dbitool_spark.plans import llm_ops

    df = llm_ops.curation_text_chain_documents(spark, SF_ORACLE)
    agg = df.agg(
        F.sum((F.col("n_tags") > 0).cast("int")).alias("markup_docs"),
        F.sum((F.col("n_lines_removed") > 0).cast("int")).alias("rep_docs"),
        F.sum((F.col("n_redactions") > 0).cast("int")).alias("pii_docs"),
        F.sum(
            F.size(
                F.regexp_extract_all(
                    "final_text", F.lit(llm_ops._EMAIL_REDACT_RE), F.lit(0)
                )
            )
            + F.size(
                F.regexp_extract_all(
                    "final_text", F.lit(llm_ops._PHONE_REDACT_RE), F.lit(0)
                )
            )
        ).alias("survivors"),
    ).collect()[0]
    assert agg.markup_docs > 0 and agg.rep_docs > 0 and agg.pii_docs > 0, agg
    assert agg.survivors == 0, "PII survived the chain"
    # a doc hitting all three moduli (lcm(3,5,7)=105) runs the full
    # cascade in one row
    full = df.filter(F.col("doc_id") % 105 == 0).collect()
    assert full and all(
        r.n_tags > 0 and r.n_lines_removed > 0 and r.n_redactions > 0
        for r in full
    )

    plan = _plan_text(df)
    for marker in ("BatchEvalPython", "ArrowEvalPython", "MapInPandas",
                   "SerializeFromObject"):
        assert marker not in plan, f"chain plan has {marker}"
    exchanges = _re.findall(r"Exchange (\w+)", plan)
    assert all(e == "rangepartitioning" for e in exchanges), plan


def test_text_actions_match_python_reference(spark, tmp_path):
    """Differential check: the three r12 text ACTIONS against pure
    pytest-side Python references on a seeded random corpus (200 docs,
    adversarial word distribution with heavy repeats so line-dedup and
    span-trim both fire naturally). Catches any divergence between
    the Spark/DuckDB expression semantics and the intended algorithm
    that a hash-parity test (engine vs engine) cannot see."""
    import random as _random
    import re as _re

    from dbitool_spark.plans import llm_ops

    rng = _random.Random(0xC0FFEE)
    vocab = [f"w{i}" for i in range(12)]  # tiny vocab => heavy repeats
    rows = []
    for doc_id in range(200):
        n = rng.randint(8, 60)
        words = [rng.choice(vocab) for _ in range(n)]
        if doc_id % 4 == 0:  # planted cross-doc span
            words[0:8] = ["s1", "s2", "s3", "s4", "s5", "s6", "s7", "s8"]
        text = " ".join(words)
        if doc_id % 7 == 0:
            text += f" reach me at user{doc_id}@test.org or +1-555-0100"
        rows.append((doc_id, text, "x", "s", len(text)))
    docs = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    d = str(tmp_path)
    docs.write.mode("overwrite").parquet(f"{d}/documents.parquet")

    # --- strip_repetition vs reference -------------------------------
    K, MOD = llm_ops._REP_LINE_WORDS, llm_ops._REP_MOD

    def ref_strip_rep(doc_id, text):
        w = _re.split(r"\s+", text.strip().lower())
        lines = [" ".join(w[i * K:(i + 1) * K]) for i in range((len(w) + K - 1) // K)]
        if doc_id % MOD == 0:
            lines = lines + lines[:2]
        seen, ded = set(), []
        for ln in lines:
            if ln not in seen:
                seen.add(ln)
                ded.append(ln)
        return len(lines), len(ded), "\n".join(ded)

    got = {r.doc_id: r for r in llm_ops.strip_repetition_documents(spark, d).collect()}
    assert len(got) == 200
    for doc_id, text, *_ in rows:
        nb, na, clean = ref_strip_rep(doc_id, text)
        g = got[doc_id]
        assert (g.n_lines_before, g.n_lines_after, g.clean_text) == (nb, na, clean), doc_id

    # --- trim_duplicate_spans vs reference ----------------------------
    G = 8  # _SPAN_GRAM

    def ref_trim():
        grams: dict[str, list[tuple[int, int]]] = {}
        words_by_doc = {}
        for doc_id, text, *_ in rows:
            w = _re.split(r"\s+", text.strip().lower())
            words_by_doc[doc_id] = w
            for pos in range(1, len(w) - G + 2):
                gram = " ".join(w[pos - 1:pos - 1 + G])
                grams.setdefault(gram, []).append((doc_id, pos))
        cov: dict[int, set] = {}
        for occs in grams.values():
            for doc_id, pos in sorted(occs)[1:]:
                cov.setdefault(doc_id, set()).update(range(pos, pos + G))
        out = {}
        for doc_id, w in words_by_doc.items():
            keep = [x for i, x in enumerate(w, 1) if i not in cov.get(doc_id, ())]
            out[doc_id] = (len(w), len(keep), " ".join(keep))
        return out

    ref = ref_trim()
    got_t = {
        r.doc_id: r
        for r in llm_ops.trim_duplicate_spans_documents(spark, d).collect()
    }
    assert len(got_t) == 200
    assert any(got_t[i].n_words_cut > 0 for i in got_t), "trim never fired"
    for doc_id, (nb, na, trimmed) in ref.items():
        g = got_t[doc_id]
        assert (g.n_words_before, g.n_words_after, g.trimmed_text) == (
            nb, na, trimmed,
        ), doc_id

    # --- redact vs reference ------------------------------------------
    email = _re.compile(llm_ops._EMAIL_REDACT_RE)
    phone = _re.compile(llm_ops._PHONE_REDACT_RE)
    got_r = {r.doc_id: r for r in llm_ops.redact_pii_documents(spark, d).collect()}
    for doc_id, text, *_ in rows:
        planted = text
        if doc_id % llm_ops._PII_MOD == 0:
            planted += f" contact: user{doc_id}@example.com or +1-555-0100"
        ne, np_ = len(email.findall(planted)), len(phone.findall(planted))
        if ne == 0 and np_ == 0:
            assert doc_id not in got_r
            continue
        want = phone.sub(
            llm_ops._PHONE_MASK, email.sub(llm_ops._EMAIL_MASK, planted)
        )
        g = got_r[doc_id]
        assert (g.n_emails_redacted, g.n_phones_redacted, g.redacted_text) == (
            ne, np_, want,
        ), doc_id


def test_pagerank_matches_python_reference(spark):
    """Third-implementation check: the integer PageRank's full rank
    table (not just top-K) against a pure-Python reference at
    sf0.001 — the oracle already cross-checks DuckDB, but all three
    agreeing pins the integer-arithmetic semantics (floor placement,
    damping order) rather than any one engine's reading of it."""
    from dbitool_spark import catalog
    from dbitool_spark.plans import llm_ops

    docs = catalog.load(spark, SF_SMOKE, "documents")
    n = docs.count()
    ids = [r.doc_id for r in docs.select("doc_id").collect()]
    L, U, I = llm_ops._PR_LINKS, llm_ops._PR_UNIT, llm_ops._PR_ITERS
    base = U * 15 // 100

    in_edges: dict[int, list[int]] = {v: [] for v in ids}
    for src in ids:
        for k in range(1, L + 1):
            in_edges[(src * src + k) % n].append(src)
    rank = {v: U for v in ids}
    for _ in range(I):
        rank = {
            v: base + (85 * sum(rank[u] // L for u in in_edges[v])) // 100
            for v in ids
        }
    want = sorted(ids, key=lambda v: (-rank[v], v))[: llm_ops._PR_TOPK]

    got = llm_ops.pagerank_links_documents(spark, SF_SMOKE).collect()
    assert [(r.doc_id, r.rank) for r in got] == [(v, rank[v]) for v in want]


def test_classifier_score_matches_python_reference(spark):
    """Third-implementation check for the linear-classifier inference:
    vocab ranking (count desc, word asc), the rank->weight mixing
    formula, OOV-as-zero, and the exact rational logit all recomputed
    in pure Python at sf0.001 — the oracle already cross-checks
    DuckDB; all three agreeing pins the model semantics rather than
    any one engine's reading of them."""
    from collections import Counter
    from decimal import ROUND_HALF_UP, Decimal

    from dbitool_spark import catalog
    from dbitool_spark.plans import llm_ops

    sf = "/root/testdata/sf0.001"
    docs = catalog.load(spark, sf, "documents").select("doc_id", "text").collect()
    tokens = {r.doc_id: r.text.strip().lower().split() for r in docs}
    cnt = Counter(w for ws in tokens.values() for w in ws)
    ranked = sorted(cnt.items(), key=lambda kv: (-kv[1], kv[0]))[: llm_ops._CLF_VOCAB]
    wt = {
        w: ((rank + 1) * llm_ops._CLF_MIX) % 2001 - 1000
        for rank, (w, _) in enumerate(ranked)
    }
    got = {r.doc_id: r for r in llm_ops.classifier_score_documents(spark, sf).collect()}
    assert set(got) == set(tokens)
    for doc_id, ws in tokens.items():
        n = len(ws)
        s = sum(wt.get(w, 0) for w in ws)
        # exact rational -> HALF_UP at 6 places (Spark/DuckDB round
        # away from zero on ties; Python's round() is banker's)
        logit = float(
            (Decimal(s) / (Decimal(1000) * n)).quantize(
                Decimal("0.000001"), rounding=ROUND_HALF_UP
            )
        )
        r = got[doc_id]
        assert r.n_tokens == n, doc_id
        assert r.matched == sum(1 for w in ws if w in wt), doc_id
        assert abs(r.logit - logit) < 1e-12, (doc_id, r.logit, logit)
        assert r.label == (logit > 0), doc_id


def test_classifier_score_plan_is_jvm_side_topk(spark):
    """Plan pin: no Python stage anywhere, and the vocab selection is
    a distributed TakeOrderedAndProject (top-k), never a global sort
    or a corpus-wide unpartitioned window."""
    from dbitool_spark.plans import llm_ops

    df = llm_ops.classifier_score_documents(spark, SF_ORACLE)
    plan = _plan_text(df)
    for marker in ("BatchEvalPython", "ArrowEvalPython", "MapInPandas"):
        assert marker not in plan, f"classifier plan has {marker}"
    assert "TakeOrderedAndProject" in plan
    # labels must be non-degenerate at the test SF (both classes occur)
    labels = {r.label for r in df.collect()}
    assert labels == {True, False}, labels


def test_quantize_int8_norm_is_bit_identical_to_python(spark):
    """The determinism claim behind the integer-exact quantized ANN
    hash: the L2 norm is a left-to-right element-order accumulation,
    so Spark's aggregate() and a plain CPython loop produce the SAME
    double bit pattern for every corpus vector (DuckDB's list_sum is
    pinned transitively by the oracle hash parity)."""
    import struct

    from dbitool_spark import catalog
    from dbitool_spark.ops import similarity

    sf = "/root/testdata/sf0.001"
    emb = catalog.load(spark, sf, "embeddings")
    got = emb.select(
        "vec_id",
        F.sqrt(similarity.dot(F.col("embedding"), F.col("embedding"))).alias("n"),
    ).collect()
    raw = {r.vec_id: r.embedding for r in emb.select("vec_id", "embedding").collect()}
    for r in got:
        acc = 0.0
        for x in raw[r.vec_id]:
            acc += float(x) * float(x)
        assert struct.pack("<d", r.n) == struct.pack("<d", acc ** 0.5), r.vec_id


def test_quantized_topk_recall_and_range(spark):
    """Quality gate for l2-scaled int8 quantization: recall@5 vs the
    exact float cosine top-k stays >= 0.9 on the corpus (measured
    ~0.98), every quantized component is within [-127, 127], and no
    nonzero vector quantizes to all zeros."""
    from dbitool_spark import catalog
    from dbitool_spark.ops import similarity

    sf = SF_ORACLE
    emb = catalog.load(spark, sf, "embeddings")
    q = emb.filter(F.col("vec_id") < 10)
    exact = {
        (r.query_id, r.neighbor_id)
        for r in similarity.brute_force_topk(emb, q, k=5).collect()
    }
    quant = {
        (r.query_id, r.neighbor_id)
        for r in similarity.quantized_topk(emb, q, k=5).collect()
    }
    assert len(exact & quant) / len(exact) >= 0.9

    qc = similarity.quantize_int8(emb, "embedding")
    stats = qc.select(
        F.max(F.array_max(F.transform("qvec", lambda x: F.abs(x)))).alias("mx"),
        F.min(F.array_max(F.transform("qvec", lambda x: F.abs(x)))).alias("mn"),
    ).first()
    assert stats.mx <= similarity.QUANT_LEVELS
    assert stats.mn > 0  # no nonzero vector collapses to zeros


def test_resize_media_matches_numpy_reference(spark):
    """Exact resize semantics: for synthesized BMP/PNG/GIF rows the
    full pixel decode + nearest-neighbor 8x8 resize is recomputed
    with an independent numpy reference built from the synth
    formulas (not the decoders), and the per-channel means must match
    to the 1e-6 rounding exactly. Pins pixel decode (row order,
    BGR->RGB, palette mapping), the (j*src)//dst index map, and the
    mean arithmetic."""
    import numpy as np

    from dbitool_spark.ops import multimodal as m

    ids = [1, 2, 3, 5, 6, 7, 13, 14, 15]  # three of each image family
    df = spark.createDataFrame([(i,) for i in ids], "doc_id bigint")
    media = m.synthesize_media(df, "doc_id", families=4).filter("kind = 'image'")
    got = {r.media_id: r for r in m.resize_media(media, out_w=8, out_h=8).collect()}
    assert set(got) == set(ids)

    def expected_pixels(mid):
        fam = mid % 4
        if fam == 1:
            w, h = 8 + mid % 16, 8 + mid % 9
            px = np.zeros((h, w, 3), dtype=np.int64)
            for x in range(w):
                b = (mid + x) % 256
                px[:, x] = (b * 7 % 256, 255 - b, b)  # RGB
            return px
        if fam == 2:
            w, h = 4 + mid % 13, 4 + mid % 11
            px = np.zeros((h, w, 3), dtype=np.int64)
            for x in range(w):
                px[:, x] = ((mid + 3 * x) % 256, (mid + 3 * x + 1) % 256,
                            (mid + 3 * x + 2) % 256)
            return px
        w, h = 6 + mid % 10, 6 + mid % 7
        pal = [((mid * 31 + c * 67) % 256, (mid * 53 + c * 29) % 256,
                (mid * 17 + c * 101) % 256) for c in range(4)]
        px = np.zeros((h, w, 3), dtype=np.int64)
        for y in range(h):
            for x in range(w):
                px[y, x] = pal[(x + y + mid) % 4]
        return px

    for mid in ids:
        px = expected_pixels(mid)
        h, w = px.shape[:2]
        ys = (np.arange(8) * h) // 8
        xs = (np.arange(8) * w) // 8
        rs = px[np.ix_(ys, xs)]
        r = got[mid]
        assert r.decoded, mid
        assert (r.src_w, r.src_h) == (w, h), mid
        for ch, name in enumerate(("mean_r", "mean_g", "mean_b")):
            assert abs(getattr(r, name) - round(float(rs[:, :, ch].mean()), 6)) < 1e-9, (
                mid, name,
            )


def test_resize_media_fallback_is_deterministic(spark):
    """Kinds without a pixel decoder (WAV) resize the digest-keyed
    fake grid with decoded=False — same bytes, same means, and real
    image rows are never routed through the fallback."""
    from dbitool_spark.ops import multimodal as m

    df = spark.createDataFrame([(0,), (4,), (8,)], "doc_id bigint")
    media = m.synthesize_media(df, "doc_id", families=4)  # all WAV
    a = {r.media_id: r for r in m.resize_media(media).collect()}
    b = {r.media_id: r for r in m.resize_media(media).collect()}
    for mid in (0, 4, 8):
        assert not a[mid].decoded
        assert (a[mid].mean_r, a[mid].mean_g, a[mid].mean_b) == (
            b[mid].mean_r, b[mid].mean_g, b[mid].mean_b,
        )
        assert a[mid].src_w == 16 and a[mid].src_h == 16


def test_perplexity_score_matches_python_reference(spark):
    """Third-implementation check for the unigram-LM cross-entropy
    scorer: train/eval split, add-one smoothing, the milli-bit
    quantization, and the tail flag all recomputed in pure Python at
    sf0.001 — the oracle already cross-checks DuckDB; all three
    agreeing pins the LM semantics rather than any one engine's
    reading of them."""
    import math
    import re
    from collections import Counter
    from decimal import ROUND_HALF_UP, Decimal

    from dbitool_spark import catalog
    from dbitool_spark.plans import llm_ops

    docs = catalog.load(spark, SF_SMOKE, "documents").select("doc_id", "text").collect()
    toks = {r.doc_id: re.split(r"\s+", r.text.strip().lower()) for r in docs}
    cnt = Counter(w for d, ws in toks.items() if d % 2 == 0 for w in ws)
    n_tok, v_sz = sum(cnt.values()), len(cnt)

    def s_mb(w):
        x = math.log2((n_tok + v_sz) / (cnt.get(w, 0) + 1)) * 1000
        return int(Decimal(x).quantize(Decimal("1"), rounding=ROUND_HALF_UP))

    got = {
        r.doc_id: r
        for r in llm_ops.perplexity_score_documents(spark, SF_SMOKE).collect()
    }
    want_ids = {d for d in toks if d % 2 == 1}
    assert set(got) == want_ids
    for d in want_ids:
        ws = toks[d]
        ce = sum(s_mb(w) for w in ws)
        r = got[d]
        assert (r.tok_n, r.ce_mb, r.flagged) == (
            len(ws), ce, ce > len(ws) * llm_ops._PPL_FLAG_MILLIBITS,
        ), d


def test_dsir_weights_match_python_reference(spark):
    """Third-implementation check for the DSIR importance weights:
    the target/raw conditional counts, the single-rational log-ratio,
    the milli-bit quantization, and the keep flag recomputed in pure
    Python at sf0.001."""
    import math
    import re
    from collections import Counter
    from decimal import ROUND_HALF_UP, Decimal

    from dbitool_spark import catalog
    from dbitool_spark.plans import llm_ops

    rows = catalog.load(spark, SF_SMOKE, "documents").select(
        "doc_id", "source", "text"
    ).collect()
    tgt_srcs = set(llm_ops._DSIR_TARGET_SOURCES)
    toks = {r.doc_id: re.split(r"\s+", r.text.strip().lower()) for r in rows}
    is_tgt = {r.doc_id: r.source in tgt_srcs for r in rows}
    ct = Counter(w for d, ws in toks.items() if is_tgt[d] for w in ws)
    cr = Counter(w for d, ws in toks.items() if not is_tgt[d] for w in ws)
    nt, nr = sum(ct.values()), sum(cr.values())
    v = len(set(ct) | set(cr))

    def s_mb(w):
        x = math.log2(
            ((ct.get(w, 0) + 1) * (nr + v)) / ((cr.get(w, 0) + 1) * (nt + v))
        ) * 1000
        return int(Decimal(x).quantize(Decimal("1"), rounding=ROUND_HALF_UP))

    got = {
        r.doc_id: r for r in llm_ops.dsir_weights_documents(spark, SF_SMOKE).collect()
    }
    raw_ids = {d for d in toks if not is_tgt[d]}
    assert set(got) == raw_ids
    for d in raw_ids:
        ws = toks[d]
        w_mb = sum(s_mb(w) for w in ws)
        r = got[d]
        assert (r.tok_n, r.w_mb, r.kept) == (len(ws), w_mb, w_mb > 0), d


def _greedy_bpe_merge(symbols, a, b):
    """True greedy left-to-right BPE merge — the reference semantics
    the engines' two-pass replace must reproduce."""
    out, i = [], 0
    while i < len(symbols):
        if i + 1 < len(symbols) and symbols[i] == a and symbols[i + 1] == b:
            out.append(a + b)
            i += 2
        else:
            out.append(symbols[i])
            i += 1
    return out


def _two_pass_merge(symbols, a, b):
    """The engines' shared semantics: two passes of literal replace
    on the pipe-delimited form (mirrors llm_ops._bpe_apply_merge and
    the oracle's replace(replace(...)) exactly)."""
    s = "|" + "".join(x + "|" for x in symbols)
    pat, rep = f"|{a}|{b}|", f"|{a}{b}|"
    out = s.replace(pat, rep).replace(pat, rep)
    return [x for x in out.split("|") if x]


def test_bpe_two_pass_replace_merge_semantics():
    """The cross-engine trick behind bpe_learn_merges: pair merging
    as TWO passes of literal replace('|a|b|' -> '|ab|'). Pinned
    semantics (the docstring's contract): for a != b the result
    EQUALS textbook greedy left-to-right BPE; for self-pairs (a == b)
    it is LOCALLY MAXIMAL — the flattened string is preserved, every
    merged token is exactly a+b, and NO adjacent unmerged (a, a)
    remains — while long self-runs may merge FEWER times than greedy
    ('aaaaaa' -> aa,a,aa,a vs greedy's aa,aa,aa), the documented
    variant. Property-tested over random symbol runs."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    sym = st.sampled_from(["a", "b", "c"])

    @settings(max_examples=300, deadline=None)
    @given(st.lists(sym, min_size=0, max_size=12), sym, sym)
    def check(symbols, a, b):
        got = _two_pass_merge(symbols, a, b)
        want = _greedy_bpe_merge(symbols, a, b)
        if a != b:
            assert got == want, (symbols, a, b, got, want)
        else:
            ab = a + b
            # flattening preserved, merges well-formed, locally maximal
            assert "".join(got) == "".join(symbols), (symbols, got)
            assert all(x == ab or ab not in x for x in got), (symbols, got)
            assert not any(
                x == a and y == b for x, y in zip(got, got[1:])
            ), (symbols, a, b, got)

    check()


def test_bpe_learn_merges_matches_python_reference(spark):
    """Third-implementation check of bpe_pipeline_documents' merge
    rows: the full K-iteration merge-learning loop recomputed in pure
    Python at sf0.001 (word-frequency table, pair counts,
    (cnt DESC, pair ASC) tie-break, greedy application)."""
    import re
    from collections import Counter

    from dbitool_spark import catalog
    from dbitool_spark.plans import llm_ops

    docs = catalog.load(spark, SF_SMOKE, "documents").select("text").collect()
    words = Counter(
        w for r in docs for w in re.split(r"\s+", r.text.strip().lower())
    )
    state = {w: list(w) for w in words}
    expected = []
    for i in range(llm_ops._BPE_LEARN_ITERS):
        cnt = Counter()
        for w, syms in state.items():
            for x, y in zip(syms, syms[1:]):
                cnt[(x, y)] += words[w]
        (a, b), c = min(cnt.items(), key=lambda kv: (-kv[1], kv[0]))
        expected.append((i, a, b, c))
        state = {w: _two_pass_merge(s, a, b) for w, s in state.items()}

    got = sorted(
        (r.n1, r.key1, r.key2, r.n2)
        for r in llm_ops.bpe_pipeline_documents(spark, SF_SMOKE)
        .filter("kind = 'merge'")
        .collect()
    )
    assert got == expected


def test_dsir_cluster_scale_branch_crossover(spark):
    """r13 verdict item 6: the difference-of-quantized-logs branch is
    CODE — on constructed (ct, cr, nt, nr, v) rows spanning both
    sides of the 2^53 cross-product bound, the Spark expression, the
    oracle SQL's CASE, and a pure-Python reference agree row for row,
    and the branch flips EXACTLY at the bound (one row at
    (ct+1)*(nr+v) == 2^53 stays exact; one row one unit over
    switches)."""
    import math
    from decimal import ROUND_HALF_UP, Decimal

    import duckdb

    from dbitool_spark.plans import llm_ops

    B = llm_ops._DSIR_EXACT_BOUND
    # (ct, cr, nt, nr, v): small SF shape, boundary-exact, one-over,
    # and a deep cluster-scale row on BOTH products
    nv = 2**20  # nr + v and nt + v ~ a million tokens
    at_bound_ct = B // nv - 1  # (ct+1)*(nr+v) == 2^53 exactly
    rows = [
        (3, 5, 1000, 2000, 50),
        (at_bound_ct, 1, nv - 50, nv - 50, 50),
        (at_bound_ct + 1, 1, nv - 50, nv - 50, 50),
        (2**40, 2**41, 2**45, 2**44, 2**22),
        (0, 2**50, 2**52, 2**51, 2**30),
    ]

    def ref(ct, cr, nt, nr, v):
        def q(x):
            return int(
                Decimal(x * 1000).quantize(Decimal("1"), rounding=ROUND_HALF_UP)
            )

        if (ct + 1) <= B // (nr + v) and (cr + 1) <= B // (nt + v):
            return q(math.log2(((ct + 1) * (nr + v)) / ((cr + 1) * (nt + v)))), "exact"
        return (
            q(math.log2((ct + 1) / (nt + v))) - q(math.log2((cr + 1) / (nr + v))),
            "split",
        )

    want = [ref(*r) for r in rows]
    # the constructed boundary pair genuinely straddles the branch
    assert (rows[1][0] + 1) * (rows[1][3] + rows[1][4]) == B
    assert want[1][1] == "exact" and want[2][1] == "split"
    assert want[3][1] == "split" and want[4][1] == "split"

    df = spark.createDataFrame(
        rows, "ct bigint, cr bigint, nt bigint, nr bigint, v bigint"
    )
    got_spark = [
        r.s_mb
        for r in df.select(llm_ops._dsir_weight_mb().alias("s_mb")).collect()
    ]
    assert got_spark == [w for w, _ in want]

    con = duckdb.connect()
    sql_case = llm_ops._DSIR_WEIGHT_MB_SQL.replace("c.", "t.").replace("s.", "t.")
    got_duck = [
        r[0]
        for r in con.execute(
            f"SELECT {sql_case} FROM (SELECT * FROM (VALUES "
            + ", ".join(str(r) for r in rows)
            + ") AS x(ct, cr, nt, nr, v)) t"
        ).fetchall()
    ]
    con.close()
    assert got_duck == [w for w, _ in want]


def test_bpe_encode_matches_python_reference(spark):
    """Third-implementation check of bpe_pipeline_documents' encode
    rows: learn the K merges and encode the corpus in pure Python with
    the pinned two-pass-replace semantics, then compare every per-doc
    row at sf0.001."""
    import re
    from collections import Counter

    from dbitool_spark import catalog
    from dbitool_spark.plans import llm_ops

    rows = catalog.load(spark, SF_SMOKE, "documents").select(
        "doc_id", "text"
    ).collect()
    toks = {
        r.doc_id: [w for w in re.split(r"\s+", r.text.strip().lower()) if w]
        for r in rows
    }

    def pipe(word):
        return "|" + "".join(c + "|" for c in word)

    def apply_merge(r, a, b):
        pat, rep = f"|{a}|{b}|", f"|{a}{b}|"
        return r.replace(pat, rep).replace(pat, rep)

    wn = Counter(w for ws in toks.values() for w in ws)
    enc = {w: pipe(w) for w in wn}
    for _ in range(llm_ops._BPE_LEARN_ITERS):
        pairs = Counter()
        for w, n in wn.items():
            syms = [s for s in enc[w].split("|") if s]
            for a, b in zip(syms, syms[1:]):
                pairs[(a, b)] += n
        (a, b), _cnt = min(
            pairs.items(), key=lambda kv: (-kv[1], kv[0][0], kv[0][1])
        )
        enc = {w: apply_merge(r, a, b) for w, r in enc.items()}

    got = {
        int(r.key1): (r.n1, r.n2, r.n3)
        for r in llm_ops.bpe_pipeline_documents(spark, SF_SMOKE)
        .filter("kind = 'encode'")
        .collect()
    }
    assert set(got) == set(toks)
    for d, ws in toks.items():
        n_chars = sum(len(w) for w in ws)
        n_syms = sum(len([s for s in enc[w].split("|") if s]) for w in ws)
        assert got[d] == (len(ws), n_chars, n_syms), d
    # non-vacuous: the learned merges genuinely compress
    assert any(got[d][2] < got[d][1] for d in got)


# --- winnowing fingerprints ------------------------------------------


def _py_winnow(text: str, k: int = 4, w: int = 5) -> set:
    """Pure-Python reference of ops/dedup.winnow_fingerprints: word
    k-grams, lexicographic min of every width-w window, distinct;
    k <= n_grams < w keeps the global min; fewer than k words selects
    nothing (third implementation for the differential test)."""
    import re as _re

    words = _re.split(r"\s+", text.strip().lower())
    if len(words) < k:
        return set()
    grams = [" ".join(words[i : i + k]) for i in range(len(words) - k + 1)]
    if len(grams) >= w:
        return {min(grams[i : i + w]) for i in range(len(grams) - w + 1)}
    return {min(grams)}


def test_winnow_fingerprints_matches_reference(spark):
    """Differential: the zip_with-fold kernel equals the pure-Python
    winnow on every boundary shape (empty, whitespace-only, < k
    words, exactly k, k..k+w-2 grams = global-min branch, >= w grams,
    heavy repetition, mixed whitespace runs) plus a seeded random
    sample."""
    import random

    rng = random.Random(20160816)
    vocab = [f"w{i}" for i in range(30)]
    cases = [
        "",
        "   ",
        "one",
        "a b c",
        "a b c d",          # exactly k words -> 1 gram -> global min
        "a b c d e",        # 2 grams, still < w
        "a b c d e f g h",  # 5 grams = w -> sliding branch engages
        "tok " * 40,        # maximal repetition: 1 distinct gram
        "a\tb\n c   d \t e f g h i j",  # mixed whitespace runs
    ] + [
        " ".join(rng.choice(vocab) for _ in range(rng.randrange(1, 60)))
        for _ in range(40)
    ]
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(cases)], "doc_id long, text string"
    )
    got = {
        r.doc_id: set(r.fps)
        for r in df.select(
            "doc_id", dedup.winnow_fingerprints(F.col("text")).alias("fps")
        ).collect()
    }
    for i, t in enumerate(cases):
        assert got[i] == _py_winnow(t), (i, t, got[i], _py_winnow(t))


def test_winnow_shared_run_guarantee(spark):
    """The winnowing guarantee (Schleimer et al. 2003 §4): any two
    docs sharing a run of window + k - 1 = 8 words share at least one
    selected fingerprint — for ANY fixed total order, so it holds for
    the lexicographic selection too. Plant an 8-word run inside
    otherwise-disjoint random docs at varying offsets."""
    import random

    rng = random.Random(7)
    run = " ".join(f"shared{i}" for i in range(8))
    rows = []
    for d in range(20):
        pre = " ".join(f"a{d}_{i}" for i in range(rng.randrange(0, 25)))
        post = " ".join(f"z{d}_{i}" for i in range(rng.randrange(0, 25)))
        rows.append((d, f"{pre} {run} {post}".strip()))
    df = spark.createDataFrame(rows, "doc_id long, text string")
    fps = [
        set(r.fps)
        for r in df.select(
            dedup.winnow_fingerprints(F.col("text")).alias("fps")
        ).collect()
    ]
    common = set.intersection(*fps)
    assert common, "planted 8-word run selected no shared fingerprint"
    # and the guarantee is tight: a 7-word shared run may select none
    # (no assertion — just documents why 8 is the magic number)


# --- edit-distance join ----------------------------------------------


def _py_edit_distance(a: str, b: str) -> int:
    """Unit-cost Wagner-Fischer (third implementation for the
    differential test — both engines must agree with it)."""
    if len(a) < len(b):
        a, b = b, a
    prev = list(range(len(b) + 1))
    for i, ca in enumerate(a, 1):
        cur = [i]
        for j, cb in enumerate(b, 1):
            cur.append(
                min(prev[j] + 1, cur[j - 1] + 1, prev[j - 1] + (ca != cb))
            )
        prev = cur
    return prev[-1]


def test_edit_distance_pairs_exact_vs_bruteforce(spark):
    """The q-gram prefix filter chain must have recall 1.0 on its
    domain (len >= (d+1)*q): compare against pure-Python brute force
    over a corpus dense in near-misses (substitutions, deletions,
    transpositions, and far-apart strings)."""
    base = [
        "the quick brown fox",
        "the quick brown fix",     # 1 substitution
        "the quick brwn fox",      # 1 deletion
        "the quikc brown fox",     # 1 transposition = ED 2
        "a completely different",  # far from everything
        "the quick brown foxes",   # 1 insertion
        "the slow brown fox",      # ED 4 from base: must NOT pair
        "zzzzzzzzzzzz",
        "zzzzzzzzzzzy",            # ED 1 repetitive pair
    ]
    rows = [(i, t) for i, t in enumerate(base)]
    df = spark.createDataFrame(rows, "id long, name string")
    got = {
        (r.id_a, r.id_b): r.dist
        for r in dedup.edit_distance_pairs(df, "id", "name").collect()
    }
    want = {}
    for i, a in rows:
        for j, b in rows:
            if i < j and abs(len(a) - len(b)) <= 2:
                dd = _py_edit_distance(a, b)
                if dd <= 2:
                    want[(i, j)] = dd
    assert got == want, (got, want)
    assert (0, 1) in want and (0, 6) not in want  # non-degenerate


def test_edit_distance_pairs_domain_filter(spark):
    """Strings shorter than (d+1)*q = 9 chars sit outside the exact
    domain (their gram sets are too small for the count bound) and
    are excluded IN-PLAN from both sides — no silent partial recall."""
    df = spark.createDataFrame(
        [(1, "abc"), (2, "abd"), (3, "long enough string"),
         (4, "long enough strong")],
        "id long, name string",
    )
    got = {
        (r.id_a, r.id_b): r.dist
        for r in dedup.edit_distance_pairs(df, "id", "name").collect()
    }
    # the short ED-1 pair (1,2) is out of domain; the long pair stays
    assert got == {(3, 4): 1}, got


def test_leakage_safe_split_clusters_atomic(spark):
    """The kind='safe' leg's defining invariant: every near-dup
    cluster lands in exactly ONE split (recomputed here from the same
    pair graph), and the leg is non-vacuous — at least one cluster's
    assignment DIFFERS from the plain per-doc id-hash split, i.e.
    the plain split would have leaked it across the boundary."""
    from dbitool_spark.plans.llm_ops import _perturbed_corpus
    from dbitool_spark.plans.pipeline_ops import (
        SPLIT_MULT,
        SPLIT_PRIME,
    )

    sf = SF_ORACLE
    docs = catalog.load(spark, sf, "documents")
    corpus = _perturbed_corpus(docs)
    pairs = dedup.minhash_near_dup_pairs(
        corpus, "doc_id", "text", shingle_k=3, threshold=0.7
    )
    cc = {r.id: r.cluster_id for r in dedup.connected_components(pairs).collect()}
    ids = [r.doc_id for r in corpus.select("doc_id").collect()]

    def bucket(i):
        return ((i % SPLIT_PRIME) * SPLIT_MULT) % SPLIT_PRIME % 100

    def split_of(b):
        return "train" if b < 80 else ("val" if b < 90 else "test")

    by_cluster: dict = {}
    leaked_by_plain = 0
    for i in ids:
        cl = cc.get(i, i)
        safe = split_of(bucket(cl))
        plain = split_of(bucket(i))
        by_cluster.setdefault(cl, set()).add(safe)
        if safe != plain:
            leaked_by_plain += 1
    assert all(len(s) == 1 for s in by_cluster.values())  # atomic
    assert leaked_by_plain > 0  # the safe leg changes real outcomes


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
