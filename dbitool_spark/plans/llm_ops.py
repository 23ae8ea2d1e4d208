"""Oracle-checked queries for the LLM-pipeline operator families
(dedup / similarity / text analysis / multimodal) over the
documents + embeddings + events tables.

Where the synthetic corpus has no natural duplicates, the query
constructs its difference set explicitly (self-union for exact dedup;
a drop-last-word perturbation for near-dup) so every green row proves
value-level behavior on a non-empty result — never a 0-vs-0
tautology. Approximate operators (LSH ANN, SimHash) get rows-only
entries here and exact recall tests in pytest.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from dbitool_spark import catalog
from dbitool_spark.ops import dedup, multimodal, scale, similarity, text


# --- exact dedup -----------------------------------------------------


def exact_dedup_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents unioned with itself, deduped on all columns: the
    output must be exactly the original table. Hash shuffle on all
    columns with map-side combine — the 100 TB exact-dedup shape."""
    docs = catalog.load(spark, sf_dir, "documents")
    return dedup.dedup_exact(docs.unionAll(docs))


EXACT_DEDUP_DOCUMENTS_SQL = """
SELECT DISTINCT doc_id, text, lang, source, n_chars
FROM (SELECT * FROM documents UNION ALL SELECT * FROM documents)
"""


def last_event_per_user(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keyed last-write-wins over the events stream: latest event per
    user (ndb upsert semantics, distributed). Comparison runs at
    microsecond resolution because DuckDB truncates the nanosecond
    parquet timestamps to TIMESTAMP(us) on read — ordering uses the
    truncated value in BOTH engines so the picked row agrees."""
    ev = catalog.load(spark, sf_dir, "events")
    last = dedup.dedup_keyed_last_wins(
        ev.select(
            "user_id", "event_id", "event_type", F.unix_micros(F.col("ts_ts")).alias("ts_us")
        ),
        "user_id",
        ["ts_us", "event_id"],
    )
    return last.select("user_id", "event_id", "event_type", "ts_us").orderBy("user_id")


LAST_EVENT_PER_USER_SQL = """
SELECT user_id, event_id, event_type, epoch_us(ts) AS ts_us
FROM (
  SELECT user_id, event_id, event_type, ts,
         ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
  FROM events
) WHERE rn = 1
ORDER BY user_id
"""


# --- near-dup (MinHash LSH) -------------------------------------------


_PERTURB_OFFSET = 1_000_000
# Planted-ANN query count: the first N vec_ids serve as queries in the
# recall fixtures and the top-k entries; the brute-force oracle SQL
# pins the same bound.
_N_ANN_QUERIES = 10


def _perturbed_corpus(docs: DataFrame) -> DataFrame:
    """documents plus a copy with the last word dropped — every
    (i, i+offset) pair is a near-duplicate by construction with
    jaccard = |shingles(first n-1 words)| / |shingles(all words)|."""
    words = F.split(F.lower(F.trim(F.col("text"))), r"\s+")
    perturbed = docs.select(
        (F.col("doc_id") + _PERTURB_OFFSET).alias("doc_id"),
        F.concat_ws(" ", F.slice(words, 1, F.size(words) - 1)).alias("text"),
    )
    return docs.select("doc_id", "text").unionAll(perturbed)


# Perturbed-corpus + 3-shingle CTEs shared by EVERY shingle-based
# oracle (minhash, exact jaccard, skew-guard, containment): one
# definition of the corpus doubling and the shingle construction, so
# a change (e.g. the len(w) < 3 branch) lands in all of them at once
# rather than silently desynchronizing one oracle from its operator.
# `shn` goes unused by the skew-guard oracle — DuckDB inlines CTEs
# lazily, so an unreferenced one costs nothing.
_CORPUS_SH_CTES = rf"""corpus AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + {_PERTURB_OFFSET} AS doc_id,
         array_to_string(ws[1:len(ws) - 1], ' ') AS text
  FROM (SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\s+') AS ws FROM documents)
),
sh AS (
  SELECT doc_id,
         list_distinct(CASE WHEN len(w) < 3 THEN [array_to_string(w, ' ')]
           ELSE list_transform(generate_series(1, len(w) - 2),
                i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2]) END) AS s
  FROM (SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\s+') AS w FROM corpus)
),
shn AS (SELECT doc_id, s, len(s) AS n FROM sh)"""

# Brute-force oracle CTEs. |A ∪ B| = |A| + |B| - |A ∩ B| (shingle
# lists are distinct), and pairs are pre-pruned by the length-ratio
# bound implied by jaccard >= t: min(|A|,|B|) >= t * max(|A|,|B|).
# Shared by the pair oracle and the cluster (recursive-closure) oracle.
_MINHASH_PAIRS_CTES = rf"""{_CORPUS_SH_CTES},
cand AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
         len(list_intersect(a.s, b.s)) AS li, a.n AS na, b.n AS nb
  FROM shn a JOIN shn b
    ON a.doc_id < b.doc_id
   AND a.n >= 0.7 * b.n - 1e-9 AND b.n >= 0.7 * a.n - 1e-9
)"""


def dedup_representatives_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The dedup ACTION, end to end: near-dup clusters (MinHash-LSH
    pairs -> connected components, the near_dup_clusters construction)
    extended to EVERY corpus doc (unpaired docs are their own
    singleton cluster), then ONE representative kept per cluster — the
    highest quality-score doc, doc_id as the total tiebreak. This is
    the row a curation pipeline actually emits from dedup: cluster id,
    surviving doc, member count, survivor's quality.

    Scale shape: banded LSH candidates (bucket equi-join, never
    all-pairs) + star CC / bounded union-find, a LEFT join of the
    corpus against the (small) component table, the quality score as
    one pure-JVM projection, and a per-cluster window (partitioned by
    cluster_id, never a global sort). Cross-engine determinism:
    quality is the proven round(…,6) blend; selection orders by the
    ROUNDED score with doc_id tiebreak (the quality_prune contract).

    Oracle: the recursive-CTE transitive closure (near_dup_clusters'
    oracle) left-joined under the corpus with the quality CTE
    parameterized over the same perturbed corpus — a hash match
    proves cluster assignment, singleton handling, and argmax
    selection all at once."""
    docs = catalog.load(spark, sf_dir, "documents")
    # rebalanced: the shingle build + signature partial aggregation +
    # quality projection all run below their first exchange, i.e. on
    # the scan's 1-2 small-file splits (no-op at 100 TB; see
    # scale.rebalance_to_parallelism — the winnow kernel's lesson)
    corpus = scale.rebalance_to_parallelism(_perturbed_corpus(docs), "doc_id")
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
    # one aggregation, not a row_number + count window (aggregate
    # before you shuffle): a window would shuffle and sort every
    # corpus row per cluster, while the grouped max-struct + count
    # combine map-side. max(struct(q_r, -doc_id)) is lexicographic —
    # highest q_r first, then smallest doc_id (integer negation is
    # exact) — i.e. the (q_r DESC, doc_id ASC) first row; q_r itself
    # is never negated, so rep_quality is the untouched double.
    # Equality pinned in tests/test_llm_ops.py and by the oracle hash.
    agg = q.groupBy("cluster_id").agg(
        F.max(
            F.struct(F.col("q_r").alias("q"), (-F.col("doc_id")).alias("nd"))
        ).alias("m"),
        F.count(F.lit(1)).alias("n_members"),
    )
    return agg.select(
        "cluster_id",
        (-F.col("m.nd")).alias("rep_doc_id"),
        "n_members",
        F.col("m.q").alias("rep_quality"),
    ).orderBy("cluster_id")


def _dedup_representatives_sql() -> str:
    # built AFTER _quality_scores_sql is defined (module bottom-up
    # assignment at the QUALITY_SCORES constant site)
    return f"""
WITH RECURSIVE {_MINHASH_PAIRS_CTES},
pairs AS (
  SELECT id_a, id_b FROM cand
  WHERE CAST(li AS DOUBLE) / (na + nb - li) >= 0.7
),
edges AS (
  SELECT id_a AS a, id_b AS b FROM pairs
  UNION ALL
  SELECT id_b, id_a FROM pairs
),
nodes AS (SELECT DISTINCT a AS id FROM edges),
reach AS (
  SELECT a, b FROM edges
  UNION
  SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a
),
comp AS (
  SELECT n.id AS doc_id, least(n.id, MIN(r.b)) AS cluster_id
  FROM nodes n JOIN reach r ON r.a = n.id
  GROUP BY n.id
),
clusters AS (
  SELECT c.doc_id, COALESCE(comp.cluster_id, c.doc_id) AS cluster_id
  FROM corpus c LEFT JOIN comp ON comp.doc_id = c.doc_id
),
q AS ({_quality_scores_sql("corpus")}),
ranked AS (
  SELECT cl.cluster_id, cl.doc_id, q.quality_score AS q_r,
         ROW_NUMBER() OVER (
           PARTITION BY cl.cluster_id
           ORDER BY q.quality_score DESC, cl.doc_id ASC
         ) AS rk,
         COUNT(*) OVER (PARTITION BY cl.cluster_id) AS n_members
  FROM clusters cl JOIN q ON q.doc_id = cl.doc_id
)
SELECT cluster_id, doc_id AS rep_doc_id, n_members, q_r AS rep_quality
FROM ranked WHERE rk = 1
ORDER BY cluster_id
"""


NGRAM_JACCARD_SQL = f"""
WITH {_CORPUS_SH_CTES},
cand AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
         len(list_intersect(a.s, b.s)) AS li, a.n AS na, b.n AS nb
  FROM shn a JOIN shn b ON a.doc_id < b.doc_id
)
SELECT id_a, id_b, CAST(li AS DOUBLE) / (na + nb - li) AS jaccard
FROM cand
WHERE CAST(li AS DOUBLE) / (na + nb - li) >= 0.5
ORDER BY id_a, id_b
"""


# --- similarity search ------------------------------------------------


def ann_topk_bruteforce(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact cosine top-5 neighbors for the first 10 vectors —
    the brute-force baseline, value-checked against DuckDB's
    list_cosine_similarity. Emits ranks plus the cosine rounded to
    1e-6 (both engines accumulate in double over the same order)."""
    emb = catalog.load(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < _N_ANN_QUERIES)
    topk = similarity.brute_force_topk(emb, queries, k=5)
    return topk.select(
        "query_id", "neighbor_id", "rank", F.round("cos", 6).alias("cos_r")
    ).orderBy("query_id", "rank")


_EMBED_DIM = 64


def _perturbed_embeddings(base: DataFrame, *, dim: int = _EMBED_DIM) -> DataFrame:
    """Planted near-identical copies of (vec_id, v) rows: ids shift by
    _PERTURB_OFFSET, element 0 scales 1.5x. cos(source, copy) =
    (1+0.5r)/sqrt(1+1.25r) >= 0.9798 for ANY element-0 energy share r,
    far above this corpus's ~0.28 natural ceiling — perfect planted
    ground truth. The ONE definition behind every embedding fixture
    (near-dup, ANN recall, SemDeDup); the DuckDB mirror is
    _PERTURBED_CORPUS_SQL — change them together."""
    return base.select(
        (F.col("vec_id") + _PERTURB_OFFSET).alias("vec_id"),
        F.concat(
            F.array(F.element_at("v", 1) * 1.5), F.slice("v", 2, dim - 1)
        ).alias("v"),
    )


# DuckDB mirror of base + _perturbed_embeddings(base): the doubled
# corpus CTE shared by the embedding oracles.
_PERTURBED_CORPUS_SQL = f"""base AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
corpus AS (
  SELECT vec_id, v FROM base
  UNION ALL
  SELECT vec_id + {_PERTURB_OFFSET} AS vec_id,
         list_concat([v[1] * 1.5], v[2:]) AS v
  FROM base
)"""


EMBEDDING_NEAR_DUP_SQL = f"""
WITH {_PERTURBED_CORPUS_SQL},
pairs AS (
  SELECT a.vec_id AS id_a, b.vec_id AS id_b,
         list_cosine_similarity(a.v, b.v) AS cos
  FROM corpus a JOIN corpus b ON a.vec_id < b.vec_id
)
SELECT id_a, id_b, round(cos, 6) AS cos_r
FROM pairs WHERE cos >= 0.95
ORDER BY id_a, id_b
"""


# --- recall companions for the approximate operators ------------------
#
# The three rows-only entries above (SimHash, LSH/IVF ANN) are
# approximate by nature, so their raw outputs have no SQL oracle. The
# recall companions make their QUALITY driver-visible anyway: each
# plants ground truth whose retrieval is guaranteed (SimHash: the
# pigeonhole theorem for hamming <= n_blocks-1; ANN: a perturbed copy
# at cos >= 0.9798 against natural pairs topping out ~0.28, with
# deterministic seeded hashes/centroids and miss probability < 1e-10),
# computes recall against it distributed, and emits the single scalar
# the oracle can state exactly: 1.0. A hash mismatch means the
# approximate operator lost guaranteed-retrievable ground truth —
# the exact regression these entries exist to catch.

CONST_RECALL_SQL = "SELECT CAST(1.0 AS DOUBLE) AS recall"


def simhash_recall_planted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall of SimHash block banding on its own guarantee set: every
    pair at hamming distance <= n_blocks-1 = 3 shares an untouched
    16-bit block (pigeonhole) and MUST surface as a candidate. Ground
    truth = the planted (i, i+offset) perturbed pairs whose true
    signature hamming is <= 3 (computed from the signatures directly);
    recall over that set is exactly 1.0 unless the banding loses a
    guaranteed pair."""
    from dbitool_spark.ops.cache import materialize_release

    # a 1-in-5 deterministic subset keeps the entry's bench cost
    # proportionate (the signature aggregation is the dominant cost and
    # the guarantee is per-pair, so a subset checks the same theorem);
    # both the doc and its perturbed copy survive the subset because it
    # is taken BEFORE perturbation
    docs = catalog.load(spark, sf_dir, "documents").filter(F.col("doc_id") % 5 == 0)
    # no rebalance here: on this entry's 1-in-5 subset (~4k perturbed
    # rows at sf0.1) the added exchange costs more than the
    # parallelized 64-sum kernel buys back (2.91 -> 3.13 s with it; the
    # interleaved A/B is in OPTIMIZATION_r17.md). The full-corpus
    # kernels (dedup_representatives, jaccard, bloom) keep it, where
    # the same exchange measured 2-3.7x wins.
    corpus = _perturbed_corpus(docs)
    # ONE signature pass, persisted: ground truth AND the band join
    # both read it (3 unshared plans would re-run the 64-SUM
    # aggregation each — measured ~4-5x slower at sf0.1).
    sig = dedup.simhash_signatures(corpus, "doc_id", "text").persist()
    a = sig.select(F.col("id").alias("id_a"), F.col("sig").alias("sig_a"))
    b = sig.select(
        (F.col("id") - _PERTURB_OFFSET).alias("id_a"), F.col("sig").alias("sig_b")
    )
    truth = (
        a.join(b, "id_a")
        .withColumn("hamming", F.bit_count(F.col("sig_a").bitwiseXOR(F.col("sig_b"))))
        .filter(F.col("hamming") <= 3)
        .select("id_a", (F.col("id_a") + _PERTURB_OFFSET).alias("id_b"))
    )
    # simhash_band_candidates already dedupes multi-block collisions
    # (its final distinct; hamming is functionally determined by the
    # pair) so each candidate pair joins at most one truth row and the
    # left join cannot multiply the denominator
    cands = dedup.simhash_band_candidates(sig).select(
        "id_a", "id_b", F.lit(1).alias("__hit")
    )
    # non-vacuity guard: with an empty truth set (possible at tiny SFs
    # under the 1-in-5 subset) count/count is 0/0 = NULL, which would
    # surface as a confusing NULL-vs-1.0 oracle mismatch; fail loudly
    # instead. assert_true sits in the lazily-evaluated CASE branch,
    # so it fires only when the truth set is actually empty.
    result = truth.join(cands, ["id_a", "id_b"], "left").agg(
        F.when(
            F.count(F.lit(1)) == 0,
            F.assert_true(
                F.lit(False), F.lit("simhash_recall_planted: empty truth set")
            ).cast("double"),
        )
        .otherwise(F.count("__hit") / F.count(F.lit(1)))
        .cast("double")
        .alias("recall")
    )
    return materialize_release(result, sig)


def _planted_ann_setup(spark: SparkSession, sf_dir: str):
    """Shared ANN-recall fixture: queries = the 10 first vectors;
    corpus = all embeddings plus a near-identical planted copy of each
    query (element 0 scaled 1.5x => cos >= 0.9798 to its source, far
    above this corpus's ~0.28 natural ceiling — so the planted copy is
    the true rank-1 neighbor of its query by construction)."""
    emb = catalog.load(spark, sf_dir, "embeddings")
    base = emb.select("vec_id", F.col("embedding").cast("array<double>").alias("v"))
    queries = base.filter(F.col("vec_id") < _N_ANN_QUERIES)
    return base.unionAll(_perturbed_embeddings(queries)), queries


def _ann_recall(topk: DataFrame, queries: DataFrame) -> DataFrame:
    """Fraction of queries whose approximate top-k contains their
    planted near-identical neighbor. The denominator is DERIVED from
    the query frame (1-row agg cross-joined, the scalar pattern), not
    the _N_ANN_QUERIES literal: at a scale factor with fewer than
    _N_ANN_QUERIES embeddings the planted set shrinks, and a
    hardcoded 10 would report recall < 1.0 and misdiagnose a banding
    regression."""
    hits = topk.filter(
        F.col("neighbor_id") == F.col("query_id") + _PERTURB_OFFSET
    ).select("query_id").distinct()
    n_q = queries.agg(F.count_distinct("vec_id").alias("__nq"))
    return (
        hits.agg(F.count(F.lit(1)).alias("__nh"))
        .crossJoin(F.broadcast(n_q))
        .select((F.col("__nh") / F.col("__nq")).cast("double").alias("recall"))
    )


def ann_lsh_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH ANN recall on planted ground truth: with 16 tables x 4 bits
    and cos >= 0.98 (p = 1 - angle/pi ~ 0.936), P(no bucket collision)
    = (1-p^4)^16 ~ 7e-11 — and the hyperplanes are deterministic, so
    the expected recall is exactly 1.0 every run."""
    corpus, queries = _planted_ann_setup(spark, sf_dir)
    topk = similarity.lsh_topk(corpus, queries, k=5, id_col="vec_id", vec_col="v")
    return _ann_recall(topk, queries)


def ann_ivf_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN recall on planted ground truth: a near-identical copy
    shares its source's nearest centroid, the query always probes its
    own cell (n_probe >= 1), and the seeded k-means is deterministic —
    expected recall exactly 1.0 every run."""
    corpus, queries = _planted_ann_setup(spark, sf_dir)
    topk = similarity.ivf_topk(
        corpus, queries, k=5, id_col="vec_id", vec_col="v", n_centroids=16, n_probe=4
    )
    return _ann_recall(topk, queries)


def ann_recall_planted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """r8 registry merge of ann_lsh_recall + ann_ivf_recall (the
    policy's method-tag shape, like events_asof_orders): one driver
    row runs BOTH approximate indexes against the shared planted
    fixture and emits (method, recall). Both deterministic arguments
    for recall == 1.0 are in the constituents' docstrings."""
    lsh = ann_lsh_recall(spark, sf_dir).select(
        F.lit("lsh").alias("method"), "recall"
    )
    ivf = ann_ivf_recall(spark, sf_dir).select(
        F.lit("ivf").alias("method"), "recall"
    )
    return lsh.unionAll(ivf).orderBy("method")


def ann_recall_composite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Method-tagged merge of ann_recall_planted + ann_topk_bruteforce
    (the r11 verdict's r13 merge candidate): one driver row drives the
    brute-force exact top-k kernel (method='exact', per-(query, rank)
    rows with the DuckDB-checked cosine as score) AND both approximate
    indexes against the planted fixture (method='lsh'/'ivf', one row
    each with recall as score, query/rank/neighbor NULL).

    Scale shapes are the constituents', unchanged — see
    ann_topk_bruteforce (score every (query, vector) pair, per-query
    top-k via window) and ann_lsh_recall/ann_ivf_recall (bucketed
    candidate generation, never all-pairs)."""
    exact = ann_topk_bruteforce(spark, sf_dir).select(
        F.lit("exact").alias("method"),
        F.col("query_id").cast("long").alias("query_id"),
        F.col("rank").cast("int").alias("rank"),
        F.col("neighbor_id").cast("long").alias("neighbor_id"),
        F.col("cos_r").alias("score"),
    )
    planted = ann_recall_planted(spark, sf_dir).select(
        "method",
        F.lit(None).cast("long").alias("query_id"),
        F.lit(None).cast("int").alias("rank"),
        F.lit(None).cast("long").alias("neighbor_id"),
        F.col("recall").alias("score"),
    )
    return exact.unionAll(planted).orderBy("method", "query_id", "rank")


ANN_RECALL_COMPOSITE_SQL = f"""
WITH q AS (SELECT vec_id AS qid, CAST(embedding AS DOUBLE[]) AS qv
           FROM embeddings WHERE vec_id < {_N_ANN_QUERIES}),
scored AS (
  SELECT q.qid AS query_id, e.vec_id AS neighbor_id,
         list_cosine_similarity(q.qv, CAST(e.embedding AS DOUBLE[])) AS cos
  FROM embeddings e CROSS JOIN q
  WHERE e.vec_id != q.qid
),
exact AS (
  SELECT 'exact' AS method, query_id, rank, neighbor_id, round(cos, 6) AS score
  FROM (
    SELECT query_id, neighbor_id, cos,
           ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rank
    FROM scored
  ) WHERE rank <= 5
)
SELECT method, CAST(query_id AS BIGINT) AS query_id, CAST(rank AS INT) AS rank,
       CAST(neighbor_id AS BIGINT) AS neighbor_id, score
FROM exact
UNION ALL
SELECT 'ivf', NULL, NULL, NULL, CAST(1.0 AS DOUBLE)
UNION ALL
SELECT 'lsh', NULL, NULL, NULL, CAST(1.0 AS DOUBLE)
ORDER BY method, query_id, rank
"""


def ann_topk_planted_hits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PER-QUERY planted-neighbor hits for the LSH and IVF top-k paths
    — raw approximate top-k has no SQL oracle, so this entry drives
    the similarity.lsh_topk / ivf_topk kernels against the planted fixture, and emits one row per
    (method, query) with planted_hit = whether the guaranteed-
    retrievable planted neighbor surfaced in that query's top-k.
    Determinism: seeded hyperplanes / seeded k-means, planted cos >=
    0.9798 vs a ~0.28 natural ceiling, miss probability < 1e-10
    (constituent docstrings carry the arguments), so every row is
    exactly 1 and the oracle can state the table outright. Stronger
    than the aggregate recall entries: a single lost query names
    itself instead of moving a ratio.

    Scale shape: both kernels are bucketed candidate generation
    (never all-pairs); the hit join is a broadcast-sized left join on
    the query set — per-query rows add no shuffle beyond the kernels'
    own."""
    corpus, queries = _planted_ann_setup(spark, sf_dir)
    lsh = similarity.lsh_topk(corpus, queries, k=5, id_col="vec_id", vec_col="v")
    ivf = similarity.ivf_topk(
        corpus, queries, k=5, id_col="vec_id", vec_col="v",
        n_centroids=16, n_probe=4,
    )

    def hits(topk: DataFrame, method: str) -> DataFrame:
        # left join from the query frame: a MISSED query keeps its row
        # (planted_hit = 0) instead of vanishing from the result
        found = topk.filter(
            F.col("neighbor_id") == F.col("query_id") + _PERTURB_OFFSET
        ).select("query_id", F.lit(1).alias("__hit"))
        return (
            queries.select(F.col("vec_id").alias("query_id"))
            .join(found, "query_id", "left")
            .select(
                F.lit(method).alias("method"),
                F.col("query_id").cast("long").alias("query_id"),
                F.coalesce("__hit", F.lit(0)).cast("int").alias("planted_hit"),
            )
        )

    return (
        hits(lsh, "lsh")
        .unionAll(hits(ivf, "ivf"))
        .orderBy("method", "query_id")
    )


ANN_TOPK_PLANTED_HITS_SQL = f"""
SELECT m.method, CAST(e.vec_id AS BIGINT) AS query_id,
       CAST(1 AS INT) AS planted_hit
FROM embeddings e
CROSS JOIN (SELECT 'lsh' AS method UNION ALL SELECT 'ivf') m
WHERE e.vec_id < {_N_ANN_QUERIES}
ORDER BY method, query_id
"""


# --- text analysis ----------------------------------------------------


def text_stats_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document curation features, value-checked column by column
    against SQL string functions."""
    docs = catalog.load(spark, sf_dir, "documents")
    t = F.col("text")
    toks = text.tokens(t)
    return docs.select(
        "doc_id",
        F.length(t).alias("n_chars2"),
        F.size(toks).alias("n_tokens"),
        F.length(F.regexp_replace(t, r"[\w\s]", "")).alias("n_punct"),
        F.length(F.regexp_replace(t, r"[^0-9]", "")).alias("n_digits"),
        F.size(F.filter(toks, lambda w: F.length(w) <= 2)).alias("n_short_tokens"),
    ).orderBy("doc_id")


TEXT_STATS_DOCUMENTS_SQL = r"""
SELECT doc_id,
       length(text) AS n_chars2,
       len(regexp_split_to_array(trim(text), '\s+')) AS n_tokens,
       length(regexp_replace(text, '[\w\s]', '', 'g')) AS n_punct,
       length(regexp_replace(text, '[^0-9]', '', 'g')) AS n_digits,
       len(list_filter(regexp_split_to_array(trim(text), '\s+'), w -> length(w) <= 2)) AS n_short_tokens
FROM documents
ORDER BY doc_id
"""


def _langid_sql(per_doc: bool = False) -> str:
    score_exprs = [
        r"len(list_filter(regexp_split_to_array(lower(trim(text)), '\s+'), w -> w IN ({}))) AS score_{}".format(
            ", ".join(f"'{m}'" for m in markers), lang
        )
        for lang, markers in text.LANG_MARKERS.items()
    ]
    langs = list(text.LANG_MARKERS) + ["zh"]
    best = "GREATEST({})".format(", ".join(f"score_{lang}" for lang in langs))
    # same tie-break order as ops.text.lang_id: first language in
    # LANG_MARKERS order wins ties (built reversed there)
    case = "CASE "
    for lang in langs:
        case += f"WHEN score_{lang} = best AND best > 0 THEN '{lang}' "
    case += "ELSE 'unknown' END AS lang_pred"
    return f"""
WITH scored AS (
  SELECT doc_id,
         {", ".join(score_exprs)},
         length(regexp_replace(text, '[^一-鿿]', '', 'g')) AS score_zh
  FROM documents
), ranked AS (
  SELECT doc_id, {best} AS best, * FROM scored
)
{"SELECT doc_id, " + case + " FROM ranked" if per_doc
 else "SELECT " + case + ", COUNT(*) AS n FROM ranked GROUP BY 1 ORDER BY 1"}
"""


def text_profile_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Column-composite of the three per-document text projections —
    text_stats + quality_score + the per-doc langid label joined on
    doc_id (the token_repetition_metrics precedent). One row per doc
    drives all three codepaths; oracle = the constituent SQLs' per-doc
    forms joined on doc_id."""
    stats = text_stats_documents(spark, sf_dir)
    qual = quality_scores_documents(spark, sf_dir)
    docs = catalog.load(spark, sf_dir, "documents")
    lang = text.lang_id(docs).select("doc_id", "lang_pred")
    return stats.join(qual, "doc_id").join(lang, "doc_id").orderBy("doc_id")


def fingerprint_dedup_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fingerprint-based dedup accounting over the self-unioned
    corpus: total rows vs distinct fingerprints (hash of normalized
    text). The oracle counts distinct normalized text directly —
    equal unless xxhash64 collides (none in this corpus)."""
    docs = catalog.load(spark, sf_dir, "documents")
    doubled = docs.unionAll(docs)
    return doubled.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.countDistinct(text.fingerprint(F.col("text"))).alias("n_distinct_fp"),
    )


FINGERPRINT_DEDUP_COUNTS_SQL = r"""
SELECT COUNT(*) AS n_rows,
       COUNT(DISTINCT regexp_replace(regexp_replace(lower(trim(text)), '[^\w\s]', '', 'g'), '\s+', ' ', 'g')) AS n_distinct_fp
FROM (SELECT * FROM documents UNION ALL SELECT * FROM documents)
"""


def quality_scores_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composite quality score per document, value-checked against a
    DuckDB mirror of the exact blend (ops/text.py quality_score): same
    feature ratios, same least/CASE arms, blend constants cast to
    DOUBLE on the DuckDB side so both engines run the same double
    arithmetic; round(…, 6) on both absorbs last-ulp divergence."""
    docs = catalog.load(spark, sf_dir, "documents")
    return text.quality_score(docs).select("doc_id", "quality_score").orderBy("doc_id")


def _quality_scores_sql(relation: str = "documents") -> str:
    stopwords = ", ".join(f"'{w}'" for w in text.LANG_MARKERS["en"])
    # Mirrors ops/text.py quality_features + quality_score term by term
    # in the same left-to-right order, with every blend constant cast
    # to DOUBLE: DuckDB parses bare 0.3/0.25/0.1 literals as DECIMAL
    # and would compute those terms in exact decimal before promoting,
    # which only coincidentally matches Spark's all-double arithmetic.
    # With the casts both engines genuinely run the same double ops;
    # round(…, 6) absorbs any residual last-ulp divergence.
    # Tokenization is the regex \s+ split on trimmed text in BOTH
    # engines.
    return rf"""
WITH feats AS (
  SELECT doc_id,
         length(text) AS n_chars,
         len(regexp_split_to_array(trim(text), '\s+')) AS n_tokens,
         length(regexp_replace(text, '[\w\s]', '', 'g')) AS n_punct,
         length(regexp_replace(text, '[^0-9]', '', 'g')) AS n_digits,
         len(list_filter(regexp_split_to_array(trim(text), '\s+'),
                         w -> lower(w) IN ({stopwords}))) AS n_stop
  FROM {relation}
), ratios AS (
  SELECT doc_id, n_tokens,
         (n_chars - (n_tokens - 1)) / n_tokens AS mean_token_len,
         n_punct / n_chars AS punct_ratio,
         n_digits / n_chars AS digit_ratio,
         n_stop / n_tokens AS stopword_ratio
  FROM feats
)
SELECT doc_id,
       round(
         CAST(0.3 AS DOUBLE) * least(stopword_ratio * 4, CAST(1.0 AS DOUBLE))
         + CAST(0.25 AS DOUBLE) * (CASE WHEN mean_token_len >= 3 AND mean_token_len <= 10
                        THEN CAST(1.0 AS DOUBLE) ELSE CAST(0.3 AS DOUBLE) END)
         + CAST(0.25 AS DOUBLE) * (CAST(1.0 AS DOUBLE) - least(punct_ratio * 5, CAST(1.0 AS DOUBLE)))
         + CAST(0.1 AS DOUBLE) * (CAST(1.0 AS DOUBLE) - least(digit_ratio * 5, CAST(1.0 AS DOUBLE)))
         + CAST(0.1 AS DOUBLE) * least(n_tokens / 100, CAST(1.0 AS DOUBLE)),
       6) AS quality_score
FROM ratios
ORDER BY doc_id
"""


QUALITY_SCORES_DOCUMENTS_SQL = _quality_scores_sql()
DEDUP_REPRESENTATIVES_SQL = _dedup_representatives_sql()


# --- multimodal -------------------------------------------------------


def media_features_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary-column plumbing end to end: documents wrapped as opaque
    media bytes -> mapInPandas (Arrow) feature extraction. n_bytes and
    content_sha are value-checked against SQL (the fake decode's
    digest-derived fields are covered by unit tests)."""
    docs = catalog.load(spark, sf_dir, "documents")
    media = multimodal.documents_as_media(docs)
    feats = multimodal.extract_media_features(media)
    return feats.select("media_id", "kind", "n_bytes", "content_sha").orderBy("media_id")


MEDIA_FEATURES_DOCUMENTS_SQL = """
SELECT doc_id AS media_id,
       'text' AS kind,
       CAST(length(text) AS INT) AS n_bytes,
       sha256(text) AS content_sha
FROM documents
ORDER BY media_id
"""


_SKEWGUARD_MAX_DF = 6


NGRAM_JACCARD_SKEWGUARD_SQL = f"""
WITH {_CORPUS_SH_CTES},
ix AS (SELECT doc_id, len(s) AS n, unnest(s) AS shingle FROM sh),
freq AS (SELECT shingle, COUNT(*) AS df FROM ix GROUP BY 1),
kept AS (SELECT ix.doc_id, ix.n, ix.shingle FROM ix JOIN freq USING (shingle)
         WHERE df <= {_SKEWGUARD_MAX_DF}),
inter AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, a.n AS na, b.n AS nb,
         COUNT(*) AS li
  FROM kept a JOIN kept b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2, 3, 4
)
SELECT id_a, id_b, CAST(li AS DOUBLE) / (na + nb - li) AS jaccard
FROM inter
WHERE CAST(li AS DOUBLE) / (na + nb - li) >= 0.5
ORDER BY id_a, id_b
"""


def ngram_jaccard_variants_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Variant-tagged union of the two exact n-gram Jaccard paths:
    the unguarded inverted-index exact path and the max_doc_freq skew-guarded path
    run in one entry, so a single green row proves both the
    complete-recall arithmetic and the guard's exact drop/keep
    behavior.

    The two legs run off ONE shared shingle/frequency pass
    (dedup.ngram_jaccard_pairs_variants) and one eager checkpoint,
    rather than two standalone calls that each build their own
    shingle table and doc-frequency aggregation. Rows are identical
    to the two calls (the leg expressions are the operator's
    verbatim; equality pinned in tests/test_llm_ops.py)."""
    return dedup.ngram_jaccard_pairs_variants(
        scale.rebalance_to_parallelism(
            _perturbed_corpus(catalog.load(spark, sf_dir, "documents")), "doc_id"
        ),
        "doc_id",
        "text",
        shingle_k=3,
        threshold=0.5,
        max_doc_freq=_SKEWGUARD_MAX_DF,
    )


NGRAM_JACCARD_VARIANTS_SQL = f"""
SELECT 'exact' AS variant, id_a, id_b, jaccard FROM ({NGRAM_JACCARD_SQL}) x
UNION ALL
SELECT 'skewguard' AS variant, id_a, id_b, jaccard
FROM ({NGRAM_JACCARD_SKEWGUARD_SQL}) y
"""


def frame_sample_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frame-sampling plumbing end to end: documents wrapped as media
    rows fan out 1->N through the Arrow-batched sampler
    (ops.multimodal.sample_frames). The deterministic fake keys frame
    count and per-frame digests on the content bytes, so the DuckDB
    oracle reproduces every row exactly — proving the mapInPandas
    fan-out shape, schema, and batch plumbing, which is the real
    Spark-side substance (the codec itself is the documented stub)."""
    docs = catalog.load(spark, sf_dir, "documents")
    return (
        multimodal.sample_frames(multimodal.documents_as_media(docs))
        .orderBy("media_id", "frame_idx")
    )


FRAME_SAMPLE_DOCUMENTS_SQL = """
SELECT doc_id AS media_id,
       CAST(i AS INT) AS frame_idx,
       CAST(i * 1000 AS INT) AS frame_ts_ms,
       sha256(text || '#' || CAST(i AS VARCHAR)) AS frame_sha
FROM documents, LATERAL unnest(generate_series(0, strlen(text) % 7)) AS t(i)
ORDER BY media_id, frame_idx
"""


# --- corpus quality: repetition stats (Gopher-style) ------------------


def repetition_stats_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition quality signals per document (Rae et
    al. 2021 §A1.1): duplicate-word fraction (1 - distinct/total) and
    top-word fraction (most frequent word's share). Docs above either
    threshold are flagged low-quality — the standard repetition gate
    a curation pipeline runs before training.

    Scale shape: explode -> (doc, word) counts -> per-doc aggregate.
    Two shuffles, both with map-side partial aggregation; the second
    runs on |docs| rows. Ratios are exact-int divisions cast to
    double, so both engines produce bit-identical values."""
    docs = catalog.load(spark, sf_dir, "documents")
    words = docs.select(
        "doc_id",
        F.explode(F.split(F.lower(F.trim(F.col("text"))), r"\s+")).alias("w"),
    )
    wc = words.groupBy("doc_id", "w").agg(F.count(F.lit(1)).alias("c"))
    stats = wc.groupBy("doc_id").agg(
        F.sum("c").alias("total_words"),
        F.count(F.lit(1)).alias("distinct_words"),
        F.max("c").alias("top_count"),
    )
    return (
        stats.select(
            "doc_id",
            "total_words",
            F.round(
                F.lit(1.0) - F.col("distinct_words") / F.col("total_words"), 6
            ).alias("dup_word_frac"),
            F.round(F.col("top_count") / F.col("total_words"), 6).alias(
                "top_word_frac"
            ),
        )
        .withColumn(
            "low_quality",
            (F.col("dup_word_frac") > 0.3) | (F.col("top_word_frac") > 0.2),
        )
        .orderBy("doc_id")
    )


REPETITION_STATS_SQL = r"""
WITH w AS (
  SELECT doc_id, unnest(regexp_split_to_array(lower(trim(text)), '\s+')) AS w
  FROM documents
),
wc AS (SELECT doc_id, w, COUNT(*) AS c FROM w GROUP BY doc_id, w),
stats AS (
  SELECT doc_id, SUM(c) AS total_words, COUNT(*) AS distinct_words, MAX(c) AS top_count
  FROM wc GROUP BY doc_id
)
SELECT doc_id,
       CAST(total_words AS BIGINT) AS total_words,
       round(1.0 - distinct_words / CAST(total_words AS DOUBLE), 6) AS dup_word_frac,
       round(top_count / CAST(total_words AS DOUBLE), 6) AS top_word_frac,
       (round(1.0 - distinct_words / CAST(total_words AS DOUBLE), 6) > 0.3
        OR round(top_count / CAST(total_words AS DOUBLE), 6) > 0.2) AS low_quality
FROM stats
ORDER BY doc_id
"""


# --- within-document repetition REMOVAL -------------------------------

# Words per synthetic "line": the corpus text carries no newlines, so
# lines are fixed-width word chunks — the plant (doc_id % _REP_MOD
# docs re-append their first two lines) makes the removal provably
# non-vacuous at every SF, the pii_scan/strip_markup pattern.
_REP_LINE_WORDS = 6
_REP_MOD = 3


def strip_repetition_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Within-document repeated-line REMOVAL — the action to
    repetition_stats_documents' detection (r11 verdict item 3): the
    MassiveText/Gopher-style cleanup (Rae et al. 2021 §A1.1) that
    drops repeated lines, keeping the FIRST occurrence in document
    order, between strip_markup and quality_prune in a curation
    pipeline.

    Semantics: text -> fixed-width word chunks ("lines"), planted
    duplicates on every doc_id % _REP_MOD == 0 doc, then an
    order-preserving distinct via a higher-order filter: keep element
    i iff the array's FIRST occurrence of that value is at i. Both
    engines evaluate the same expression (Spark array_position is
    1-based with a 0-based lambda index; DuckDB list_position and the
    lambda index are both 1-based).

    Scale shape: ONE projection, no shuffle, no Python — the
    first-occurrence filter is O(L^2) in the per-doc LINE count
    (array_position rescans the array per element), which is bounded
    by doc length, not corpus size; a pathological million-line doc
    would move this to a posexplode + min(pos)-per-line groupBy
    (one extra shuffle), documented not needed for web-page-scale
    docs."""
    docs = catalog.load(spark, sf_dir, "documents")
    w = F.split(F.lower(F.trim(F.col("text"))), r"\s+")
    n_lines = F.floor((F.size(w) + (_REP_LINE_WORDS - 1)) / _REP_LINE_WORDS).cast(
        "int"
    )
    lines = F.transform(
        F.sequence(F.lit(0), n_lines - 1),
        lambda i: F.array_join(
            F.slice(w, i * _REP_LINE_WORDS + 1, _REP_LINE_WORDS), " "
        ),
    )
    planted = F.when(
        F.col("doc_id") % _REP_MOD == 0,
        F.concat(lines, F.slice(lines, 1, 2)),
    ).otherwise(lines)
    d = docs.select("doc_id", planted.alias("lines"))
    deduped = F.filter(
        F.col("lines"),
        lambda x, i: F.array_position(F.col("lines"), x) == i + 1,
    )
    return (
        d.select(
            "doc_id",
            F.size("lines").alias("n_lines_before"),
            F.size(deduped).alias("n_lines_after"),
            F.array_join(deduped, "\n").alias("clean_text"),
        )
        .withColumn(
            "had_repetition",
            (F.col("n_lines_before") > F.col("n_lines_after")).cast("int"),
        )
        .orderBy("doc_id")
    )


STRIP_REPETITION_SQL = rf"""
WITH d AS (
  SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\s+') AS w FROM documents
),
l AS (
  SELECT doc_id,
         list_transform(
           generate_series(0, CAST(floor((len(w) + {_REP_LINE_WORDS - 1}) / {_REP_LINE_WORDS}.0) AS INT) - 1),
           i -> array_to_string(w[i * {_REP_LINE_WORDS} + 1 : i * {_REP_LINE_WORDS} + {_REP_LINE_WORDS}], ' ')
         ) AS lines0
  FROM d
),
p AS (
  SELECT doc_id,
         CASE WHEN doc_id % {_REP_MOD} = 0 THEN lines0 || lines0[1:2] ELSE lines0 END AS lines
  FROM l
),
dd AS (
  SELECT doc_id, lines,
         list_filter(lines, (x, i) -> list_position(lines, x) = i) AS ded
  FROM p
)
SELECT doc_id,
       CAST(len(lines) AS INT) AS n_lines_before,
       CAST(len(ded) AS INT) AS n_lines_after,
       array_to_string(ded, chr(10)) AS clean_text,
       CAST(len(lines) > len(ded) AS INT) AS had_repetition
FROM dd
ORDER BY doc_id
"""


# --- PII scan ---------------------------------------------------------

# Deterministic planted contacts: the synthetic corpus contains no PII,
# so every doc_id % 7 == 0 doc gains a contact line — the entry is
# provably non-vacuous at every SF and the oracle mirrors the plant.
_PII_MOD = 7
_EMAIL_RE = r"[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}"
_PHONE_RE = r"\+1-[0-9]{3}-[0-9]{4}"


def pii_scan_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scan over the corpus: per-source counts of documents with
    email / phone matches plus total match counts — the audit a
    curation pipeline runs before redaction (the redact step itself is
    regexp_replace on the same patterns, trivially derived from this
    plan). Pure codegen regex, no UDF; one tiny aggregate by source."""
    docs = catalog.load(spark, sf_dir, "documents")
    planted = F.when(
        F.col("doc_id") % _PII_MOD == 0,
        F.concat(
            F.col("text"),
            F.lit(" contact: user"),
            F.col("doc_id").cast("string"),
            F.lit("@example.com or +1-555-0100"),
        ),
    ).otherwise(F.col("text"))
    scanned = docs.select(
        "doc_id",
        "source",
        F.size(
            F.regexp_extract_all(F.lower(planted), F.lit(_EMAIL_RE), F.lit(0))
        ).alias("n_emails"),
        F.size(
            F.regexp_extract_all(F.lower(planted), F.lit(_PHONE_RE), F.lit(0))
        ).alias("n_phones"),
    )
    return (
        scanned.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum((F.col("n_emails") > 0).cast("int")).alias("docs_with_email"),
            F.sum((F.col("n_phones") > 0).cast("int")).alias("docs_with_phone"),
            F.sum("n_emails").alias("total_emails"),
            F.sum("n_phones").alias("total_phones"),
        )
        .orderBy("source")
    )


PII_SCAN_SQL = f"""
WITH scanned AS (
  SELECT source,
         len(regexp_extract_all(lower(CASE WHEN doc_id % {_PII_MOD} = 0
           THEN text || ' contact: user' || CAST(doc_id AS VARCHAR) || '@example.com or +1-555-0100'
           ELSE text END), '{_EMAIL_RE}', 0)) AS n_emails,
         len(regexp_extract_all(lower(CASE WHEN doc_id % {_PII_MOD} = 0
           THEN text || ' contact: user' || CAST(doc_id AS VARCHAR) || '@example.com or +1-555-0100'
           ELSE text END), '{_PHONE_RE}', 0)) AS n_phones
  FROM documents
)
SELECT source,
       COUNT(*) AS n_docs,
       CAST(SUM(CASE WHEN n_emails > 0 THEN 1 ELSE 0 END) AS BIGINT) AS docs_with_email,
       CAST(SUM(CASE WHEN n_phones > 0 THEN 1 ELSE 0 END) AS BIGINT) AS docs_with_phone,
       CAST(SUM(n_emails) AS BIGINT) AS total_emails,
       CAST(SUM(n_phones) AS BIGINT) AS total_phones
FROM scanned
GROUP BY source
ORDER BY source
"""


# --- PII redaction (the ACTION to pii_scan's detection) ---------------

# Case-insensitive variants of the scan patterns: the scan counts on
# lower(text); redaction must hit the original-case text, so the SAME
# constants gain (?i) — one knob, both engines (Java regex and DuckDB
# RE2 both honor inline (?i)).
_EMAIL_REDACT_RE = "(?i)" + _EMAIL_RE
_PHONE_REDACT_RE = "(?i)" + _PHONE_RE
_EMAIL_MASK = "<EMAIL>"
_PHONE_MASK = "<PHONE>"


def redact_pii_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII REDACTION — the action to pii_scan_documents' detection
    (r11 verdict item 2): mask every email/phone match in the planted
    corpus and emit the redacted text plus per-class redaction counts,
    the step every training-data pipeline runs before packing.

    One knob, both engines (the _OVERLAP_GRAM precedent): the masks
    reuse pii_scan's _EMAIL_RE/_PHONE_RE constants with an inline
    (?i) so original-case text redacts exactly what the scan counts
    on lowered text; zero matches survive redaction by construction
    (pinned in pytest, tests/test_llm_ops.py). Counts are computed on
    the PRE-redaction text, so a phone number embedded inside an
    email's local part counts under both classes even though the
    email mask swallows it — both engines state the same convention,
    and "no match survives" is the load-bearing guarantee.

    Scale shape: ONE pure-JVM regexp_replace cascade projection —
    no shuffle, no Python, runs at parquet scan speed; the result is
    filtered to the redacted docs only (~1/_PII_MOD of the corpus),
    so the driver compare's ORDER BY sorts the small side."""
    docs = catalog.load(spark, sf_dir, "documents")
    planted = F.when(
        F.col("doc_id") % _PII_MOD == 0,
        F.concat(
            F.col("text"),
            F.lit(" contact: user"),
            F.col("doc_id").cast("string"),
            F.lit("@example.com or +1-555-0100"),
        ),
    ).otherwise(F.col("text"))
    redacted = F.regexp_replace(
        F.regexp_replace(planted, _EMAIL_REDACT_RE, _EMAIL_MASK),
        _PHONE_REDACT_RE,
        _PHONE_MASK,
    )
    return (
        docs.select(
            "doc_id",
            "source",
            F.size(
                F.regexp_extract_all(planted, F.lit(_EMAIL_REDACT_RE), F.lit(0))
            ).alias("n_emails_redacted"),
            F.size(
                F.regexp_extract_all(planted, F.lit(_PHONE_REDACT_RE), F.lit(0))
            ).alias("n_phones_redacted"),
            redacted.alias("redacted_text"),
        )
        .filter((F.col("n_emails_redacted") > 0) | (F.col("n_phones_redacted") > 0))
        .orderBy("doc_id")
    )


REDACT_PII_SQL = f"""
WITH planted AS (
  SELECT doc_id, source,
         CASE WHEN doc_id % {_PII_MOD} = 0
           THEN text || ' contact: user' || CAST(doc_id AS VARCHAR) || '@example.com or +1-555-0100'
           ELSE text END AS t
  FROM documents
)
SELECT doc_id, source,
       CAST(len(regexp_extract_all(t, '{_EMAIL_REDACT_RE}', 0)) AS INT) AS n_emails_redacted,
       CAST(len(regexp_extract_all(t, '{_PHONE_REDACT_RE}', 0)) AS INT) AS n_phones_redacted,
       regexp_replace(regexp_replace(t, '{_EMAIL_REDACT_RE}', '{_EMAIL_MASK}', 'g'),
                      '{_PHONE_REDACT_RE}', '{_PHONE_MASK}', 'g') AS redacted_text
FROM planted
WHERE len(regexp_extract_all(t, '{_EMAIL_REDACT_RE}', 0)) > 0
   OR len(regexp_extract_all(t, '{_PHONE_REDACT_RE}', 0)) > 0
ORDER BY doc_id
"""


# --- link-graph PageRank (corpus quality signal) ----------------------

_PR_LINKS = 4       # out-degree of every node (constant => no dangling)
_PR_ITERS = 5       # fixed iteration count, unrolled in the oracle
_PR_UNIT = 1_000_000  # integer rank unit (exact cross-engine arithmetic)
_PR_TOPK = 20


def pagerank_links_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Link-graph PageRank over the corpus — the web-scale quality
    signal (Page et al. 1999; Common-Crawl-style curation ranks
    hosts/pages by link structure before content filters run). The
    synthetic corpus has no hyperlinks, so the edge list is a
    deterministic arithmetic graph both engines construct identically
    (each doc links to (doc_id^2 + k) % n_docs for k in 1.._PR_LINKS —
    constant out-degree so no dangling mass, but the QUADRATIC map is
    non-bijective, so in-degrees vary and the ranks are genuinely
    non-uniform; an affine map would make the graph in-regular and
    the test vacuously uniform).

    Cross-engine exactness WITHOUT the decimal machinery: ranks are
    INTEGERS (unit 10^6) and the update is
        r'(v) = 150_000 + floor(85 * sum_in floor(r(u)/4) / 100)
    i.e. damping 0.85 in integer arithmetic — floor loses mass
    deterministically, every intermediate stays far below 2^52, and
    both engines compute bit-identical BIGINTs (no float summation
    order anywhere). The oracle unrolls the _PR_ITERS iterations as
    chained CTEs.

    Scale shape: the edge table builds once and persists; each
    iteration is ONE shuffle (contributions aggregated on dst) plus a
    broadcast-sized left join back to the node set, and the rank
    frame is localCheckpoint-ed per iteration so lineage stays O(1)
    — the standard iterative-algorithm discipline on Spark (same as
    kmeans_distributed). At 100 TB the shuffle is |edges| rows of two
    longs per iteration; convergence iterations are a constant."""
    docs = catalog.load(spark, sf_dir, "documents")
    n_docs = docs.count()  # one bounded driver scalar (graph modulus)
    edges = docs.select(
        F.col("doc_id").alias("src"),
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.lit(_PR_LINKS)),
                lambda k: (F.col("doc_id") * F.col("doc_id") + k)
                % F.lit(n_docs),
            )
        ).alias("dst"),
    ).persist()
    nodes = docs.select("doc_id")
    ranks = nodes.select(
        "doc_id", F.lit(_PR_UNIT).cast("long").alias("rank")
    )
    base = int(_PR_UNIT * 15 // 100)
    for _ in range(_PR_ITERS):
        inflow = (
            edges.join(ranks, edges.src == ranks.doc_id)
            .select("dst", F.floor(F.col("rank") / _PR_LINKS).alias("c"))
            .groupBy("dst")
            .agg(F.sum("c").alias("inflow"))
        )
        ranks = (
            nodes.join(inflow, nodes.doc_id == inflow.dst, "left")
            .select(
                "doc_id",
                (
                    F.lit(base)
                    + F.floor(F.coalesce(F.col("inflow"), F.lit(0)) * 85 / 100)
                ).cast("long").alias("rank"),
            )
            .localCheckpoint(eager=False)
        )
    result = ranks.orderBy(F.desc("rank"), F.asc("doc_id")).limit(_PR_TOPK)
    from dbitool_spark.ops.cache import materialize_release

    return materialize_release(result, edges)


def _pagerank_sql() -> str:
    base = _PR_UNIT * 15 // 100
    ctes = [
        f"n AS (SELECT COUNT(*) AS c FROM documents)",
        (
            "e AS (SELECT doc_id AS src, (doc_id * doc_id + k) % (SELECT c FROM n) AS dst "
            f"FROM documents, LATERAL unnest(generate_series(1, {_PR_LINKS})) AS t(k))"
        ),
        f"r0 AS (SELECT doc_id, CAST({_PR_UNIT} AS BIGINT) AS rank FROM documents)",
    ]
    for i in range(_PR_ITERS):
        ctes.append(
            f"r{i + 1} AS (SELECT d.doc_id, CAST({base} + "
            f"COALESCE(85 * (SELECT SUM(r.rank // {_PR_LINKS}) FROM e "
            f"JOIN r{i} r ON r.doc_id = e.src WHERE e.dst = d.doc_id) // 100, 0) "
            "AS BIGINT) AS rank FROM documents d)"
        )
    return (
        "WITH " + ",\n".join(ctes) + f"""
SELECT doc_id, rank FROM r{_PR_ITERS}
ORDER BY rank DESC, doc_id
LIMIT {_PR_TOPK}
"""
    )


PAGERANK_LINKS_SQL = _pagerank_sql()


# --- end-to-end text-curation chain -----------------------------------

# Line-repeat plant modulus for the CHAIN (distinct from
# strip_repetition's _REP_MOD so the chain's stages are separately
# observable: %3 docs carry markup, %5 docs carry a repeated line,
# %7 docs carry PII — every stage provably non-vacuous at every SF).
_CHAIN_REP_MOD = 5


def curation_text_chain_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full pre-tokenization TEXT-cleaning chain in one plan —
    strip_markup -> repeated-line removal -> PII redaction — the
    sequence a web-corpus pipeline actually runs, proven end to end
    by one oracle hash instead of three stage-local ones.

    Plants compose without interference (%3 markup, %5 repeated
    line, %7 contact line), so each stage's counters are non-zero at
    every SF and a doc hitting all three moduli exercises the full
    cascade. Case note: the line stage normalizes to lowercase (the
    strip_repetition convention), so the emitted final_text is
    lowercase — stated here because the standalone redact entry
    preserves case.

    Scale shape: ONE pure-JVM projection — regexp cascade +
    higher-order array filter + regexp_replace cascade, no shuffle
    anywhere but the driver compare's ORDER BY, no Python. At 100 TB
    this runs at parquet scan speed and composes with the
    shuffle-bearing dedup/decontamination stages downstream."""
    docs = catalog.load(spark, sf_dir, "documents")
    return curation_chain_transform(docs).orderBy("doc_id")


def curation_chain_transform(docs: DataFrame) -> DataFrame:
    """The chain's projection on ANY (doc_id, source, text) frame —
    batch or streaming (stateless, so the streaming analogue needs no
    watermark; state_ops.streaming_curation_chain_documents drains it
    against the same oracle)."""
    raw = F.when(
        F.col("doc_id") % _MARKUP_MOD == 0,
        F.concat(F.lit(_MARKUP_PREFIX), F.col("text"), F.lit(_MARKUP_SUFFIX)),
    ).otherwise(F.col("text"))
    clean = text.strip_markup(raw)
    w = F.split(F.lower(F.trim(clean)), r"\s+")
    n_lines = F.floor(
        (F.size(w) + (_REP_LINE_WORDS - 1)) / _REP_LINE_WORDS
    ).cast("int")
    lines0 = F.transform(
        F.sequence(F.lit(0), n_lines - 1),
        lambda i: F.array_join(
            F.slice(w, i * _REP_LINE_WORDS + 1, _REP_LINE_WORDS), " "
        ),
    )
    lines = F.when(
        F.col("doc_id") % _CHAIN_REP_MOD == 0,
        F.concat(lines0, F.slice(lines0, 1, 1)),
    ).otherwise(lines0)
    d = docs.select(
        "doc_id",
        "source",
        F.regexp_count(raw, F.lit(text._TAG_RE)).alias("n_tags"),
        lines.alias("lines"),
    )
    ded = F.filter(
        F.col("lines"),
        lambda x, i: F.array_position(F.col("lines"), x) == i + 1,
    )
    d = d.select(
        "doc_id",
        "source",
        "n_tags",
        (F.size("lines") - F.size(ded)).alias("n_lines_removed"),
        F.array_join(ded, " ").alias("dedup_text"),
    )
    pii = F.when(
        F.col("doc_id") % _PII_MOD == 0,
        F.concat(
            F.col("dedup_text"),
            F.lit(" contact: user"),
            F.col("doc_id").cast("string"),
            F.lit("@example.com or +1-555-0100"),
        ),
    ).otherwise(F.col("dedup_text"))
    redacted = F.regexp_replace(
        F.regexp_replace(pii, _EMAIL_REDACT_RE, _EMAIL_MASK),
        _PHONE_REDACT_RE,
        _PHONE_MASK,
    )
    return d.select(
        "doc_id",
        "source",
        "n_tags",
        "n_lines_removed",
        (
            F.size(F.regexp_extract_all(pii, F.lit(_EMAIL_REDACT_RE), F.lit(0)))
            + F.size(F.regexp_extract_all(pii, F.lit(_PHONE_REDACT_RE), F.lit(0)))
        ).alias("n_redactions"),
        F.length(redacted).alias("final_len"),
        redacted.alias("final_text"),
    )


def _curation_text_chain_sql() -> str:
    pre = _MARKUP_PREFIX.replace("'", "''")
    suf = _MARKUP_SUFFIX.replace("'", "''")
    redact = (
        f"regexp_replace(regexp_replace(t, '{_EMAIL_REDACT_RE}', "
        f"'{_EMAIL_MASK}', 'g'), '{_PHONE_REDACT_RE}', '{_PHONE_MASK}', 'g')"
    )
    return rf"""
WITH planted AS (
  SELECT doc_id, source,
         CASE WHEN doc_id % {_MARKUP_MOD} = 0
              THEN '{pre}' || text || '{suf}'
              ELSE text END AS raw
  FROM documents
),
stripped AS (
  SELECT doc_id, source,
         CAST(len(regexp_extract_all(raw, '{text._TAG_RE}')) AS INT) AS n_tags,
         regexp_split_to_array(lower(trim({_strip_markup_expr_sql("raw")})), '\s+') AS w
  FROM planted
),
lined AS (
  SELECT doc_id, source, n_tags,
         list_transform(
           generate_series(0, CAST(floor((len(w) + {_REP_LINE_WORDS - 1}) / {_REP_LINE_WORDS}.0) AS INT) - 1),
           i -> array_to_string(w[i * {_REP_LINE_WORDS} + 1 : i * {_REP_LINE_WORDS} + {_REP_LINE_WORDS}], ' ')
         ) AS lines0
  FROM stripped
),
pl AS (
  SELECT doc_id, source, n_tags,
         CASE WHEN doc_id % {_CHAIN_REP_MOD} = 0 THEN lines0 || lines0[1:1] ELSE lines0 END AS lines
  FROM lined
),
dd AS (
  SELECT doc_id, source, n_tags, lines,
         list_filter(lines, (x, i) -> list_position(lines, x) = i) AS ded
  FROM pl
),
piid AS (
  SELECT doc_id, source, n_tags,
         CAST(len(lines) - len(ded) AS INT) AS n_lines_removed,
         CASE WHEN doc_id % {_PII_MOD} = 0
           THEN array_to_string(ded, ' ') || ' contact: user' || CAST(doc_id AS VARCHAR) || '@example.com or +1-555-0100'
           ELSE array_to_string(ded, ' ') END AS t
  FROM dd
)
SELECT doc_id, source, n_tags, n_lines_removed,
       CAST(len(regexp_extract_all(t, '{_EMAIL_REDACT_RE}', 0))
            + len(regexp_extract_all(t, '{_PHONE_REDACT_RE}', 0)) AS INT) AS n_redactions,
       CAST(length({redact}) AS INT) AS final_len,
       {redact} AS final_text
FROM piid
ORDER BY doc_id
"""


# CURATION_TEXT_CHAIN_SQL is assigned below STRIP_MARKUP_DOCUMENTS_SQL
# (module bottom-up: the markup/strip constants it embeds are defined
# at the strip_markup section).


# --- token counting (BPE-ish regex) -----------------------------------


# Subword-ish lexer classes shared verbatim by both engines (Java regex
# and DuckDB's RE2 treat these constructs identically): letter runs,
# digit runs, and single non-alnum-non-space marks — the tokenization
# shape BPE vocabularies approximate (GPT-2's pretokenizer splits on
# the same letter/digit/punct class boundaries).
_BPEISH_PATTERN = r"[a-z]+|[0-9]+|[^a-z0-9\s]"


def token_count_bpe_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document token accounting with a BPE-ish regex lexer next
    to the whitespace count: the pretraining-cost estimate a curation
    pipeline runs before tokenizing for real. Pure codegen regex —
    one projection, no shuffle besides the final sort."""
    docs = catalog.load(spark, sf_dir, "documents")
    low = F.lower(F.trim(F.col("text")))
    n_bpe = F.size(F.regexp_extract_all(low, F.lit(_BPEISH_PATTERN), F.lit(0)))
    n_ws = F.size(F.split(low, r"\s+"))
    return docs.select(
        "doc_id",
        n_bpe.alias("n_bpeish"),
        n_ws.alias("n_ws_tokens"),
        F.round(F.length(low) / n_bpe, 6).alias("chars_per_token"),
        F.round(n_bpe / n_ws, 6).alias("subwords_per_word"),
    ).orderBy("doc_id")


TOKEN_COUNT_BPE_SQL = rf"""
WITH t AS (SELECT doc_id, lower(trim(text)) AS low FROM documents),
c AS (
  SELECT doc_id, low,
         len(regexp_extract_all(low, '{_BPEISH_PATTERN}', 0)) AS n_bpeish,
         len(regexp_split_to_array(low, '\s+')) AS n_ws_tokens
  FROM t
)
SELECT doc_id, n_bpeish, n_ws_tokens,
       round(length(low) / CAST(n_bpeish AS DOUBLE), 6) AS chars_per_token,
       round(n_bpeish / CAST(n_ws_tokens AS DOUBLE), 6) AS subwords_per_word
FROM c
ORDER BY doc_id
"""


# --- 2-gram repetition (Gopher-style n-gram gate) ---------------------


_BPE_PAIR_TOPK = 30


def bpe_pair_counts_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-wide adjacent-symbol-pair frequencies — the statistic a
    BPE vocabulary trainer computes on every merge iteration (Sennrich
    et al. 2016): for each word occurrence, count its adjacent
    character pairs; emit the global top-K pairs. This is the
    distributed primitive behind "train a tokenizer on the corpus" —
    one iteration here, the trainer loops it with a merge table.

    Scale shape: words explode once, pairs are a higher-order
    transform over each word's characters (no per-character explode —
    the pair list flattens inside the projection), then ONE
    hash aggregation with map-side partial combine on the pair key
    and a TakeOrderedAndProject for the top-K. Shuffle volume is
    bounded by |distinct pairs| <= ~40^2 for this alphabet — at
    100 TB the exchange carries kilobytes. Determinism: counts are
    exact integers; ties break on the pair string."""
    docs = catalog.load(spark, sf_dir, "documents")
    words = docs.select(
        F.explode(F.split(F.lower(F.trim(F.col("text"))), r"\s+")).alias("w")
    ).filter(F.length("w") >= 2)
    pairs = words.select(
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.length("w") - 1),
                lambda i: F.col("w").substr(i, F.lit(2)),
            )
        ).alias("pair")
    )
    return (
        pairs.groupBy("pair")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.desc("n"), F.asc("pair"))
        .limit(_BPE_PAIR_TOPK)
    )


BPE_PAIR_COUNTS_SQL = rf"""
WITH w AS (
  SELECT unnest(regexp_split_to_array(lower(trim(text)), '\s+')) AS w
  FROM documents
),
p AS (
  SELECT unnest(list_transform(generate_series(1, length(w) - 1),
                               i -> substr(w, i, 2))) AS pair
  FROM w WHERE length(w) >= 2
)
SELECT pair, COUNT(*) AS n
FROM p
GROUP BY pair
ORDER BY n DESC, pair
LIMIT {_BPE_PAIR_TOPK}
"""


def ngram_repetition_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate-2-gram fraction per document (the n-gram member of
    the Gopher repetition family, Rae et al. 2021 §A1.1 — complements
    repetition_stats_documents' word-level signals). Array-native:
    bigrams built with zip_with over adjacent slices, so the whole
    plan is one projection plus the final sort — no explode, no
    shuffle on (doc, gram)."""
    docs = catalog.load(spark, sf_dir, "documents")
    w = F.split(F.lower(F.trim(F.col("text"))), r"\s+")
    n = F.size(w)
    bigrams = F.zip_with(
        F.slice(w, 1, n - 1),
        F.slice(w, 2, n - 1),
        lambda a, b: F.concat_ws(" ", a, b),
    )
    total = F.size(bigrams)
    distinct = F.size(F.array_distinct(bigrams))
    frac = F.when(total > 0, F.round(F.lit(1.0) - distinct / total, 6)).otherwise(
        F.lit(0.0)
    )
    return docs.select(
        "doc_id",
        total.alias("total_2grams"),
        distinct.alias("distinct_2grams"),
        frac.alias("dup_2gram_frac"),
        (frac > 0.15).alias("repetitive"),
    ).orderBy("doc_id")


NGRAM_REPETITION_SQL = r"""
WITH g AS (
  SELECT doc_id,
         list_transform(generate_series(1, len(w) - 1), i -> w[i] || ' ' || w[i+1]) AS bg
  FROM (SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\s+') AS w FROM documents)
),
c AS (
  SELECT doc_id, len(bg) AS total_2grams, len(list_distinct(bg)) AS distinct_2grams
  FROM g
)
SELECT doc_id, total_2grams, distinct_2grams,
       CASE WHEN total_2grams > 0
            THEN round(1.0 - distinct_2grams / CAST(total_2grams AS DOUBLE), 6)
            ELSE 0.0 END AS dup_2gram_frac,
       (CASE WHEN total_2grams > 0
             THEN round(1.0 - distinct_2grams / CAST(total_2grams AS DOUBLE), 6)
             ELSE 0.0 END) > 0.15 AS repetitive
FROM c
ORDER BY doc_id
"""


def token_repetition_metrics_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """r8 registry merge of token_count_bpe_documents +
    ngram_repetition_documents (the policy's column-composite shape:
    both are per-doc single-projection metric tables on documents, so
    one doc_id join drives both codepaths in one driver row).
    Inner join is lossless here — both sides emit exactly one row per
    document."""
    toks = token_count_bpe_documents(spark, sf_dir)
    reps = ngram_repetition_documents(spark, sf_dir)
    return toks.join(reps, "doc_id").orderBy("doc_id")


TOKEN_REPETITION_METRICS_SQL = f"""
WITH toks AS ({TOKEN_COUNT_BPE_SQL.replace("ORDER BY doc_id", "")}),
reps AS ({NGRAM_REPETITION_SQL.replace("ORDER BY doc_id", "")})
SELECT toks.doc_id, n_bpeish, n_ws_tokens, chars_per_token,
       subwords_per_word, total_2grams, distinct_2grams,
       dup_2gram_frac, repetitive
FROM toks JOIN reps ON toks.doc_id = reps.doc_id
ORDER BY toks.doc_id
"""


# --- URL / domain audit ----------------------------------------------

# Deterministic planted URLs (the synthetic corpus has none): every
# doc_id % 3 == 0 doc gains one link whose domain cycles through 13
# values — non-vacuous at every SF, oracle mirrors the plant.
_URL_MOD = 3
_DOMAIN_CYCLE = 13
_DOMAIN_RE = r"https://([a-z0-9.-]+)"


def domain_stats_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-domain link audit over the corpus — the provenance report a
    web-curation pipeline runs before domain-level filtering (block/
    allow lists, per-domain caps). Codegen regex extraction, explode,
    one count shuffle keyed on domain; at 100 TB the domain key space
    is small and hot domains are exactly what AQE skew-split handles."""
    docs = catalog.load(spark, sf_dir, "documents")
    planted = F.when(
        F.col("doc_id") % _URL_MOD == 0,
        F.concat(
            F.col("text"),
            F.lit(" see https://site"),
            (F.col("doc_id") % _DOMAIN_CYCLE).cast("string"),
            F.lit(".example.org/page"),
        ),
    ).otherwise(F.col("text"))
    domains = F.regexp_extract_all(F.lower(planted), F.lit(_DOMAIN_RE), F.lit(1))
    return (
        docs.select("doc_id", F.explode(domains).alias("domain"))
        .groupBy("domain")
        .agg(
            F.count(F.lit(1)).alias("n_links"),
            F.countDistinct("doc_id").alias("n_docs"),
        )
        .orderBy("domain")
    )


DOMAIN_STATS_SQL = f"""
WITH planted AS (
  SELECT doc_id,
         CASE WHEN doc_id % {_URL_MOD} = 0
              THEN text || ' see https://site' || CAST(doc_id % {_DOMAIN_CYCLE} AS VARCHAR) || '.example.org/page'
              ELSE text END AS text
  FROM documents
),
links AS (
  SELECT doc_id, unnest(regexp_extract_all(lower(text), '{_DOMAIN_RE}', 1)) AS domain
  FROM planted
)
SELECT domain, COUNT(*) AS n_links, COUNT(DISTINCT doc_id) AS n_docs
FROM links
GROUP BY domain
ORDER BY domain
"""


# --- distinctive terms per source ------------------------------------


def top_terms_per_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 terms per source by in-source frequency, excluding terms
    that appear in more than half the sources (a log-free tf-idf
    analogue: rank by tf with a df cut, all exact integer arithmetic
    so both engines hash identically). Shape: explode -> (source,
    word) partial-agg counts -> tiny word-level df agg joined back ->
    per-source top-k window. The window partitions by source, so the
    final sort is per-group, never global.

    The synthetic corpus shares one tiny uniform vocabulary (31 words,
    each in >= 17/20 sources), which makes distinctiveness vacuous —
    so each source plants a deterministic topic term (topic{idx%5})
    in half its docs; the planted terms have df = 4 of 20 sources and
    are exactly what the cut should surface. Oracle mirrors the
    plant."""
    docs = catalog.load(spark, sf_dir, "documents")
    planted = F.when(
        F.col("doc_id") % 2 == 0,
        F.concat(
            F.col("text"),
            F.lit(" topic"),
            (F.substring(F.col("source"), 4, 10).cast("int") % 5).cast("string"),
        ),
    ).otherwise(F.col("text"))
    words = docs.select(
        "source",
        F.explode(
            F.array_distinct(F.split(F.lower(F.trim(planted)), r"\s+"))
        ).alias("w"),
    )
    from dbitool_spark.ops.cache import materialize_release

    # tf feeds BOTH the df aggregate and the ranking join; without a
    # persist Catalyst re-runs the corpus explode+agg once per
    # reference (no exchange reuse across subplan aliases — the same
    # reason the minhash band table persists). (source, word) rows are
    # orders of magnitude below the corpus at any scale.
    tf = words.groupBy("source", "w").agg(F.count(F.lit(1)).alias("tf")).persist()
    df_ = tf.groupBy("w").agg(F.count(F.lit(1)).alias("df"))
    # bounded driver-side scalar: the source key space is tiny by
    # construction (a mix has tens of sources, not millions); one
    # small distinct-count job, same class as IVF's centroid sample
    n_sources = docs.select("source").distinct().count()
    win = Window.partitionBy("source").orderBy(F.desc("tf"), F.asc("w"))
    result = (
        tf.join(df_, "w")
        .filter(F.col("df") <= n_sources / 2)
        .withColumn("rank", F.row_number().over(win))
        .filter(F.col("rank") <= 3)
        .select("source", F.col("w").alias("term"), "tf", "df", "rank")
        .orderBy("source", "rank")
    )
    return materialize_release(result, tf)


TOP_TERMS_PER_SOURCE_SQL = r"""
WITH planted AS (
  SELECT source,
         CASE WHEN doc_id % 2 = 0
              THEN text || ' topic' || CAST(CAST(substr(source, 4, 10) AS INT) % 5 AS VARCHAR)
              ELSE text END AS text
  FROM documents
),
words AS (
  SELECT source, unnest(list_distinct(regexp_split_to_array(lower(trim(text)), '\s+'))) AS w
  FROM planted
),
tf AS (SELECT source, w, COUNT(*) AS tf FROM words GROUP BY source, w),
df AS (SELECT w, COUNT(*) AS df FROM tf GROUP BY w),
ns AS (SELECT COUNT(DISTINCT source) AS n FROM documents),
ranked AS (
  SELECT tf.source, tf.w AS term, tf.tf, df.df,
         ROW_NUMBER() OVER (PARTITION BY tf.source ORDER BY tf.tf DESC, tf.w ASC) AS rank
  FROM tf JOIN df USING (w), ns
  WHERE df.df <= ns.n / 2.0
)
SELECT source, term, tf, df, rank FROM ranked WHERE rank <= 3
ORDER BY source, rank
"""


# --- BM25 retrieval over the corpus ----------------------------------

# Fixed query (alphabetical — the pivot/sum order below depends on it)
BM25_QUERY_TERMS = ("join", "merge", "spark", "window")
BM25_K1 = 1.2
BM25_B = 0.75
BM25_TOPK = 15


def bm25_topk_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 (Robertson/Sparck Jones) top-k retrieval for a fixed query
    over the documents corpus — the retrieval leg of a training-data
    pipeline (quality-weighted corpus search, dedup-aware sampling,
    eval-set mining). New operator; no reference counterpart (the
    reference has no text-retrieval module) — it extends the text
    analysis family (ops/text.py) the way top_terms does tf-idf.

    Scale shape: the ONLY corpus-wide work is tokenize + per-doc
    length (one explode + one map-side-combinable groupBy on doc_id).
    tf/df aggregate AFTER filtering to the |q| query terms, so the
    shuffled candidate set is bounded by docs-containing-q, not the
    token stream; the df table is |q| rows (broadcast), corpus stats
    are one crossJoined row, and the top-k is orderBy+limit =
    per-partition TakeOrdered, never a global sort.

    Cross-engine determinism: scores sum per-term contributions in a
    FIXED alphabetical column order (pivot -> ordered '+' chain, no
    data-order float accumulation); every constant is a double in
    both engines; ln() may differ in the last ulp between libms, so
    both sides round(score, 4) — same convention as quality_scores'
    round-absorbs-ulp contract."""
    from dbitool_spark.ops.cache import materialize_release

    docs = catalog.load(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id",
        F.explode(F.split(F.lower(F.trim(F.col("text"))), r"\s+")).alias("term"),
    )
    # dl feeds BOTH the corpus-stats agg and the contrib join; persist
    # the compact (doc_id, dl) table so the corpus tokenizes twice
    # total (tf + dl), not once per dl reference — the same
    # no-repeated-corpus-scan rule top_terms applies to its tf table.
    dl = toks.groupBy("doc_id").agg(F.count(F.lit(1)).alias("dl")).persist()
    stats = dl.agg(
        F.count(F.lit(1)).cast("double").alias("n_docs"),
        F.sum("dl").cast("double").alias("sum_dl"),
    )
    # tf feeds BOTH the per-term df aggregate and the contrib join —
    # persist it (|q| terms x matching docs, compact) or the corpus
    # explode runs once per reference
    tf = (
        toks.filter(F.col("term").isin(*BM25_QUERY_TERMS))
        .groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).cast("double").alias("tf"))
        .persist()
    )
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).cast("double").alias("df"))
    contrib = (
        tf.join(F.broadcast(dfreq), "term")
        .join(dl, "doc_id")
        .crossJoin(F.broadcast(stats))
        .withColumn(
            "c",
            F.log(
                (F.col("n_docs") - F.col("df") + F.lit(0.5))
                / (F.col("df") + F.lit(0.5))
                + F.lit(1.0)
            )
            * (F.col("tf") * F.lit(BM25_K1 + 1.0))
            / (
                F.col("tf")
                + F.lit(BM25_K1)
                * (
                    F.lit(1.0 - BM25_B)
                    + F.lit(BM25_B)
                    * F.col("dl").cast("double")
                    / (F.col("sum_dl") / F.col("n_docs"))
                )
            ),
        )
    )
    per_doc = contrib.groupBy("doc_id").pivot(
        "term", list(BM25_QUERY_TERMS)
    ).agg(F.max("c"))
    score = None
    for t in BM25_QUERY_TERMS:
        col = F.coalesce(F.col(t), F.lit(0.0))
        score = col if score is None else score + col
    result = (
        per_doc.select("doc_id", F.round(score, 4).alias("bm25"))
        .orderBy(F.desc("bm25"), "doc_id")
        .limit(BM25_TOPK)
    )
    return materialize_release(result, dl, tf)


def _bm25_sql() -> str:
    terms = ", ".join(f"'{t}'" for t in BM25_QUERY_TERMS)
    # fixed-order '+' chain mirroring the Spark pivot sum exactly
    chain = "\n    + ".join(
        f"COALESCE(MAX(CASE WHEN term = '{t}' THEN c END), CAST(0 AS DOUBLE))"
        for t in BM25_QUERY_TERMS
    )
    k1p1 = BM25_K1 + 1.0
    one_minus_b = 1.0 - BM25_B
    return rf"""
WITH toks AS (
  SELECT doc_id, unnest(regexp_split_to_array(lower(trim(text)), '\s+')) AS term
  FROM documents
),
dl AS (SELECT doc_id, COUNT(*) AS dl FROM toks GROUP BY doc_id),
stats AS (
  SELECT CAST(COUNT(*) AS DOUBLE) AS n_docs, CAST(SUM(dl) AS DOUBLE) AS sum_dl
  FROM dl
),
tf AS (
  SELECT doc_id, term, CAST(COUNT(*) AS DOUBLE) AS tf FROM toks
  WHERE term IN ({terms}) GROUP BY doc_id, term
),
dfreq AS (SELECT term, CAST(COUNT(*) AS DOUBLE) AS df FROM tf GROUP BY term),
contrib AS (
  SELECT tf.doc_id, tf.term,
         ln((n_docs - df + CAST(0.5 AS DOUBLE)) / (df + CAST(0.5 AS DOUBLE))
            + CAST(1.0 AS DOUBLE))
         * (tf * CAST({k1p1} AS DOUBLE))
         / (tf + CAST({BM25_K1} AS DOUBLE)
                 * (CAST({one_minus_b} AS DOUBLE)
                    + CAST({BM25_B} AS DOUBLE) * CAST(dl.dl AS DOUBLE)
                      / (sum_dl / n_docs))) AS c
  FROM tf JOIN dl USING (doc_id) JOIN dfreq USING (term) CROSS JOIN stats
)
SELECT doc_id, round({chain}, 4) AS bm25
FROM contrib GROUP BY doc_id
ORDER BY bm25 DESC, doc_id
LIMIT {BM25_TOPK}
"""


BM25_TOPK_DOCUMENTS_SQL = _bm25_sql()


# --- per-source quality pruning ---------------------------------------

_PRUNE_KEEP = 0.5  # keep the top half per source


def quality_prune_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source quality prune: keep each source's top-PRUNE_KEEP
    fraction of documents by quality score — the bottom-tail filter a
    curation pipeline applies before mixing (quality floors differ per
    source, so the cut is per-group, never global).

    Scale shape: one projection + a window partitioned by source —
    the sort is per-group, never global; output ordering is the
    (source, doc_id) pair, not the score.

    Cross-engine determinism: the window ORDERS BY THE ROUNDED score
    (round 6 is the proven hash-exact form; the raw doubles may
    differ in the last ulp between engines, which would reorder ties
    and shift every percent_rank after them) with doc_id as the total
    tiebreak; percent_rank is then (rank-1)/(n-1) — exact rational
    arithmetic, identical IEEE in both engines — so the 0.5 cut is
    exact, no rounding needed on the rank itself."""
    docs = catalog.load(spark, sf_dir, "documents")
    scored = text.quality_score(docs).select(
        "doc_id", "source", F.round("quality_score", 6).alias("q_r")
    )
    w = Window.partitionBy("source").orderBy(F.desc("q_r"), F.asc("doc_id"))
    return (
        scored.withColumn("pr", F.percent_rank().over(w))
        .filter(F.col("pr") <= F.lit(_PRUNE_KEEP))
        .select("doc_id", "source", "q_r", F.round("pr", 6).alias("pr_r"))
        .orderBy("source", "doc_id")
    )


def _quality_prune_sql() -> str:
    # the quality CTE is the proven per-doc mirror (same blend, same
    # double casts); rank on its round(6) form exactly as Spark does
    return f"""
WITH q AS ({QUALITY_SCORES_DOCUMENTS_SQL}),
d AS (
  SELECT q.doc_id, s.source, round(q.quality_score, 6) AS q_r
  FROM q JOIN documents s ON s.doc_id = q.doc_id
),
r AS (
  SELECT doc_id, source, q_r,
         PERCENT_RANK() OVER (
           PARTITION BY source ORDER BY q_r DESC, doc_id ASC
         ) AS pr
  FROM d
)
SELECT doc_id, source, q_r, round(pr, 6) AS pr_r
FROM r WHERE pr <= {_PRUNE_KEEP}
ORDER BY source, doc_id
"""


QUALITY_PRUNE_DOCUMENTS_SQL = _quality_prune_sql()


# --- cross-source overlap diagnostics --------------------------------

_OVERLAP_GRAM = 3


def source_overlap_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-source contamination/duplication matrix: for every source
    pair, the number of distinct word 3-grams they share and the
    Jaccard of their gram sets — the corpus-health diagnostic a
    training-data pipeline runs before mixing sources (a high
    off-diagonal means two 'independent' sources quote each other).

    Scale shape: one explode → distinct (source, gram) projection
    (map-side combinable), per-source set sizes as a tiny agg, and a
    self-join ON GRAM whose fan-out per gram is bounded by the number
    of sources carrying it — candidate volume <= |grams| x n_sources²
    with n_sources a small constant by construction, so the plan is
    linear in corpus size, never all-pairs over documents. All-integer
    arithmetic except the final Jaccard division (identical IEEE in
    both engines; round(6) by convention)."""
    from dbitool_spark.ops.cache import materialize_release

    docs = scale.rebalance_to_parallelism(
        catalog.load(spark, sf_dir, "documents"), "doc_id"
    )  # gram build below the first exchange; no-op at 100 TB
    # (source, gram) distinct feeds THREE consumers (sizes + both join
    # sides) — persist it or the corpus explodes once per reference
    grams = (
        docs.select(
            "source",
            F.explode(dedup.shingles(F.col("text"), _OVERLAP_GRAM)).alias("gram"),
        )
        .distinct()
        .persist()
    )
    sizes = grams.groupBy("source").agg(F.count(F.lit(1)).alias("n"))
    a, b = grams.alias("a"), grams.alias("b")
    pairs = (
        a.join(b, "gram")
        .filter(F.col("a.source") < F.col("b.source"))
        .groupBy(
            F.col("a.source").alias("src_a"), F.col("b.source").alias("src_b")
        )
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    result = (
        pairs.join(F.broadcast(sizes.withColumnRenamed("source", "src_a")
                   .withColumnRenamed("n", "n_a")), "src_a")
        .join(F.broadcast(sizes.withColumnRenamed("source", "src_b")
              .withColumnRenamed("n", "n_b")), "src_b")
        .select(
            "src_a",
            "src_b",
            "n_common",
            F.round(
                F.col("n_common").cast("double")
                / (F.col("n_a") + F.col("n_b") - F.col("n_common")).cast("double"),
                6,
            ).alias("jaccard"),
        )
        .orderBy("src_a", "src_b")
    )
    return materialize_release(result, grams)


def _source_overlap_sql() -> str:
    # derived from _OVERLAP_GRAM (ADVICE r10: one knob for both
    # engines — the Spark side already reads the constant; a hardcoded
    # 3-gram here would silently break parity on a constant change),
    # the same f-string pattern _bm25_sql uses for its constants
    n = _OVERLAP_GRAM
    concat = " || ' ' || ".join(
        f"w[i+{k}]" if k else "w[i]" for k in range(n)
    )
    return rf"""
WITH w AS (
  SELECT source, regexp_split_to_array(lower(trim(text)), '\s+') AS w
  FROM documents
),
g AS (
  SELECT DISTINCT source,
         unnest(list_distinct(CASE WHEN len(w) < {n} THEN [array_to_string(w, ' ')]
           ELSE list_transform(generate_series(1, len(w) - {n - 1}),
                i -> {concat}) END)) AS gram
  FROM w
),
sizes AS (SELECT source, COUNT(*) AS n FROM g GROUP BY source),
pairs AS (
  SELECT a.source AS src_a, b.source AS src_b, COUNT(*) AS n_common
  FROM g a JOIN g b USING (gram)
  WHERE a.source < b.source
  GROUP BY a.source, b.source
)
SELECT src_a, src_b, n_common,
       round(CAST(n_common AS DOUBLE)
             / CAST(sa.n + sb.n - n_common AS DOUBLE), 6) AS jaccard
FROM pairs
JOIN sizes sa ON sa.source = pairs.src_a
JOIN sizes sb ON sb.source = pairs.src_b
ORDER BY src_a, src_b
"""


SOURCE_OVERLAP_MATRIX_SQL = _source_overlap_sql()


# --- HTML/boilerplate strip (pre-tokenization) ------------------------

# Deterministic plant: the synthetic corpus is clean text, so 1-in-3
# docs are wrapped in a fixed HTML shell carrying every stripper
# concern — style/script blocks WITH content, a comment, nav/footer
# boilerplate tags, entities (incl. the '&amp;lt;' single-decode
# trap), and tag-boundary whitespace. Shared constants: the oracle SQL
# is derived from these same strings (the _bm25_sql pattern).
_MARKUP_PREFIX = (
    '<html><head><title>T</title>'
    '<style type="text/css">p { color: #333; }</style>'
    "<!-- generated page --></head><body>"
    '<nav>Home | <a href="/about">About</a></nav>'
    "<h1>Heading &amp; more</h1><p>"
)
_MARKUP_SUFFIX = (
    '</p><script type="text/javascript">var a = 1 && 2;</script>'
    "<footer>Example &lt;Corp&gt;&nbsp;&amp;lt;io&gt;</footer></body></html>"
)
_MARKUP_MOD = 3


def strip_markup_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HTML/boilerplate removal over the documents table — the
    pre-tokenization step a 100 TB web-corpus pipeline runs before the
    quality/langid/dedup family (all of which assume clean text).

    Emits per doc: markup presence, tag count, and the cleaned text
    with its length — the projection downstream curation consumes.

    Scale shape: ONE pure-JVM regexp/replace projection
    (ops/text.py:strip_markup), no shuffle, no Python — runs at
    parquet scan speed; the only post-projection cost is the driver
    compare's ORDER BY. Cross-engine determinism: literal replaces +
    a Java/RE2-common regex subset; all-integer outputs beside the
    cleaned string itself."""
    docs = catalog.load(spark, sf_dir, "documents")
    raw = F.when(
        F.col("doc_id") % _MARKUP_MOD == 0,
        F.concat(F.lit(_MARKUP_PREFIX), F.col("text"), F.lit(_MARKUP_SUFFIX)),
    ).otherwise(F.col("text"))
    clean = text.strip_markup(raw)
    return (
        docs.select(
            "doc_id",
            "source",
            F.col("text").alias("_orig"),
            raw.alias("_raw"),
            clean.alias("clean_text"),
        )
        .select(
            "doc_id",
            "source",
            F.col("_raw").rlike("<[a-zA-Z!/]").cast("int").alias("had_markup"),
            F.regexp_count(F.col("_raw"), F.lit(text._TAG_RE)).alias("n_tags"),
            F.length("clean_text").alias("clean_len"),
            "clean_text",
        )
        .orderBy("doc_id")
    )


def _strip_markup_expr_sql(col: str) -> str:
    """DuckDB expression mirroring ops/text.strip_markup(col): same
    constants, same operation order (DuckDB regexp_replace needs the
    explicit 'g' flag; Spark's is global by default). Shared by the
    standalone strip oracle and the curation text chain."""
    stripped = (
        "regexp_replace(regexp_replace(regexp_replace(regexp_replace("
        f"{col}, '{text._SCRIPT_RE}', ' ', 'g'), "
        f"'{text._STYLE_RE}', ' ', 'g'), "
        f"'{text._COMMENT_RE}', ' ', 'g'), "
        f"'{text._TAG_RE}', ' ', 'g')"
    )
    for ent, rep in text.HTML_ENTITIES:
        stripped = f"replace({stripped}, '{ent}', '{rep.replace(chr(39), chr(39) * 2)}')"
    return rf"trim(regexp_replace({stripped}, '\s+', ' ', 'g'))"


def _strip_markup_sql() -> str:
    pre = _MARKUP_PREFIX.replace("'", "''")
    suf = _MARKUP_SUFFIX.replace("'", "''")
    return rf"""
WITH planted AS (
  SELECT doc_id, source,
         CASE WHEN doc_id % {_MARKUP_MOD} = 0
              THEN '{pre}' || text || '{suf}'
              ELSE text END AS raw
  FROM documents
),
stripped AS (
  SELECT doc_id, source, raw,
         {_strip_markup_expr_sql("raw")} AS clean_text
  FROM planted
)
SELECT doc_id, source,
       CAST(regexp_matches(raw, '<[a-zA-Z!/]') AS INT) AS had_markup,
       CAST(len(regexp_extract_all(raw, '{text._TAG_RE}')) AS INT) AS n_tags,
       CAST(length(clean_text) AS INT) AS clean_len,
       clean_text
FROM stripped
ORDER BY doc_id
"""


STRIP_MARKUP_DOCUMENTS_SQL = _strip_markup_sql()
CURATION_TEXT_CHAIN_SQL = _curation_text_chain_sql()


# --- substring-level duplicate spans ---------------------------------


_SPAN_GRAM = 8  # words per gram (the Lee et al. 2022 unit, word-level)


def duplicate_spans_documents(
    spark: SparkSession,
    sf_dir: str,
    *,
    max_gram_freq: int | None = None,
    hash_grams: bool = False,
) -> DataFrame:
    """Substring-level duplicate detection (the exact-substring dedup
    of Lee et al. 2022, "Deduplicating Training Data Makes Language
    Models Better", word-level): every 8-word gram occurring more than
    once in the corpus marks its positions, and runs of overlapping/
    adjacent marked positions merge into maximal (doc, span) ranges —
    the spans a dedup pass would cut out of the training text.

    Scale shape: posexplode positions -> one count-window shuffle on
    the gram -> per-doc window to merge runs (partitioned by doc,
    never a global sort). The gram table is the suffix-array-free
    formulation: 1 shuffle keyed on gram + 1 window keyed on doc. At
    100 TB you would key the gram shuffle on xxhash64(gram) to shrink
    shuffle width (negligible collision odds but no longer
    oracle-exact); the registered entry keeps exact strings.
    `hash_grams=True` IS that 100 TB path: the gram shuffle keys on
    xxhash64(gram) — a fixed 8 bytes per key instead of an ~8-word
    string (~50 bytes), shrinking shuffle volume ~6x on the widest
    exchange. With ~2^64 hash space, a corpus of 10^12 distinct grams
    has collision probability ~(10^12)^2 / 2^65 ~ 3% for a SINGLE
    colliding pair anywhere — and one colliding pair merely marks two
    unrelated positions as duplicated, a no-op unless they also form
    an 8-gram run. Parity with the exact path is pytest-pinned at
    sf0.01 (tests/test_llm_ops.py).

    `max_gram_freq` is the skew guard (same contract as
    ngram_jaccard_pairs' max_doc_freq): a boilerplate gram occurring
    in millions of docs makes its window partition hot; capping drops
    grams above the frequency from span marking — approximate by
    design (boilerplate that frequent is usually removed by a
    dedicated boilerplate pass anyway), OFF by default for
    exactness."""
    docs = catalog.load(spark, sf_dir, "documents")
    w = F.split(F.lower(F.trim(F.col("text"))), r"\s+")
    d = docs.select("doc_id", w.alias("w")).withColumn("n", F.size("w")).filter(
        F.col("n") >= _SPAN_GRAM
    )
    grams = d.select(
        "doc_id",
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.col("n") - (_SPAN_GRAM - 1)),
                lambda i: F.struct(
                    i.alias("pos"),
                    F.array_join(F.slice(F.col("w"), i, _SPAN_GRAM), " ").alias("gram"),
                ),
            )
        ).alias("pg"),
    ).select("doc_id", F.col("pg.pos").alias("pos"), F.col("pg.gram").alias("gram"))
    if hash_grams:
        # 100 TB shuffle-width path: fixed 8-byte keys on the widest
        # exchange (see docstring for the collision-odds math)
        grams = grams.withColumn("gram", F.xxhash64("gram"))
    # single shuffle: a count window over the gram partition marks
    # duplicated positions in place — the groupBy+join-back alternative
    # shuffles the full position set on gram TWICE (once into the agg,
    # once for the join) plus the dup-gram set
    wg = Window.partitionBy("gram")
    keep = (
        (F.col("c") > 1)
        if max_gram_freq is None
        else ((F.col("c") > 1) & (F.col("c") <= max_gram_freq))
    )
    marked = (
        grams.withColumn("c", F.count(F.lit(1)).over(wg))
        .filter(keep)
        .select("doc_id", "pos")
    )
    win = Window.partitionBy("doc_id").orderBy("pos")
    brk = F.when(
        F.lag("pos").over(win).isNull()
        | ((F.col("pos") - F.lag("pos").over(win)) > _SPAN_GRAM),
        1,
    ).otherwise(0)
    spans = (
        marked.withColumn("brk", brk)
        .withColumn(
            "span_id",
            F.sum("brk").over(win.rowsBetween(Window.unboundedPreceding, 0)),
        )
        .groupBy("doc_id", "span_id")
        .agg(
            F.min("pos").alias("span_start"),
            (F.max("pos") + (_SPAN_GRAM - 1)).alias("span_end"),
        )
    )
    return spans.select(
        "doc_id",
        "span_start",
        "span_end",
        (F.col("span_end") - F.col("span_start") + 1).alias("span_len"),
    ).orderBy("doc_id", "span_start")


DUPLICATE_SPANS_SQL = rf"""
WITH d AS (
  SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\s+') AS w FROM documents
),
g AS (
  SELECT doc_id, i AS pos, array_to_string(w[i:i+{_SPAN_GRAM - 1}], ' ') AS gram
  FROM d, LATERAL unnest(generate_series(1, len(w) - {_SPAN_GRAM - 1})) AS t(i)
),
dup AS (SELECT gram FROM g GROUP BY gram HAVING COUNT(*) > 1),
p AS (SELECT doc_id, pos FROM g WHERE gram IN (SELECT gram FROM dup)),
m AS (
  SELECT doc_id, pos,
         CASE WHEN LAG(pos) OVER (PARTITION BY doc_id ORDER BY pos) IS NULL
                OR pos - LAG(pos) OVER (PARTITION BY doc_id ORDER BY pos) > {_SPAN_GRAM}
              THEN 1 ELSE 0 END AS brk
  FROM p
),
s AS (
  SELECT doc_id, pos,
         SUM(brk) OVER (PARTITION BY doc_id ORDER BY pos ROWS UNBOUNDED PRECEDING) AS span_id
  FROM m
)
SELECT doc_id,
       MIN(pos) AS span_start,
       MAX(pos) + {_SPAN_GRAM - 1} AS span_end,
       MAX(pos) + {_SPAN_GRAM - 1} - MIN(pos) + 1 AS span_len
FROM s
GROUP BY doc_id, span_id
ORDER BY doc_id, span_start
"""


def trim_duplicate_spans_documents(
    spark: SparkSession, sf_dir: str, *, hash_grams: bool = False
) -> DataFrame:
    """Cross-document substring dedup ACTION — the removal step to
    duplicate_spans_documents' detection (r11 verdict item 4, the
    Lee et al. 2022 "Deduplicating Training Data" cut): every 8-word
    gram occurring more than once in the corpus keeps its FIRST
    occurrence (global (doc_id, pos) order — the
    dedup_keep_representative owner-selection pattern) and every
    later occurrence's covered word range is cut from its doc. Emits
    all docs with before/after word counts and the trimmed text.

    Scale shape: the SAME bounded hash-gram candidate volume as
    duplicate_spans (one row_number window keyed on the gram;
    `hash_grams=True` IS the 100 TB shuffle-width path — the window
    keys on xxhash64(gram), a fixed 8 bytes instead of an ~8-word
    ~50-byte string, same collision-odds math as duplicate_spans'
    docstring; parity with the exact path pytest-pinned at sf0.01),
    then covered positions fan out by at most _SPAN_GRAM per cut
    gram, one distinct+collect_set keyed on doc_id, and one shuffle
    join back to the corpus on doc_id. The trim itself is a
    higher-order array filter — no Python anywhere. Owner selection
    is row_number, not a self-join: each gram's positions meet
    once."""
    docs = catalog.load(spark, sf_dir, "documents")
    w = F.split(F.lower(F.trim(F.col("text"))), r"\s+")
    d = docs.select("doc_id", w.alias("w")).withColumn("n", F.size("w")).filter(
        F.col("n") >= _SPAN_GRAM
    )
    grams = d.select(
        "doc_id",
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.col("n") - (_SPAN_GRAM - 1)),
                lambda i: F.struct(
                    i.alias("pos"),
                    F.array_join(F.slice(F.col("w"), i, _SPAN_GRAM), " ").alias(
                        "gram"
                    ),
                ),
            )
        ).alias("pg"),
    ).select("doc_id", F.col("pg.pos").alias("pos"), F.col("pg.gram").alias("gram"))
    if hash_grams:
        grams = grams.withColumn("gram", F.xxhash64("gram"))
    wg = Window.partitionBy("gram").orderBy("doc_id", "pos")
    cut = (
        grams.withColumn("rn", F.row_number().over(wg))
        .filter(F.col("rn") > 1)
        .select("doc_id", "pos")
    )
    covered = (
        cut.select(
            "doc_id",
            F.explode(
                F.sequence(F.col("pos"), F.col("pos") + (_SPAN_GRAM - 1))
            ).alias("i"),
        )
        .groupBy("doc_id")
        .agg(F.collect_set("i").alias("cov"))
    )
    trimmed = F.filter(
        F.split(F.lower(F.trim(F.col("text"))), r"\s+"),
        lambda x, i: ~F.array_contains(
            F.coalesce(F.col("cov"), F.array().cast("array<int>")), i + 1
        ),
    )
    return (
        docs.join(covered, "doc_id", "left")
        .select(
            "doc_id",
            F.size(F.split(F.lower(F.trim(F.col("text"))), r"\s+")).alias(
                "n_words_before"
            ),
            F.size(trimmed).alias("n_words_after"),
            F.array_join(trimmed, " ").alias("trimmed_text"),
        )
        .withColumn(
            "n_words_cut", F.col("n_words_before") - F.col("n_words_after")
        )
        .orderBy("doc_id")
    )


TRIM_DUPLICATE_SPANS_SQL = rf"""
WITH d AS (
  SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\s+') AS w FROM documents
),
g AS (
  SELECT doc_id, i AS pos, array_to_string(w[i:i+{_SPAN_GRAM - 1}], ' ') AS gram
  FROM d, LATERAL unnest(generate_series(1, len(w) - {_SPAN_GRAM - 1})) AS t(i)
  WHERE len(w) >= {_SPAN_GRAM}
),
r AS (
  SELECT doc_id, pos,
         ROW_NUMBER() OVER (PARTITION BY gram ORDER BY doc_id, pos) AS rn
  FROM g
),
covpos AS (
  SELECT DISTINCT doc_id, i
  FROM r, LATERAL unnest(generate_series(pos, pos + {_SPAN_GRAM - 1})) AS t(i)
  WHERE rn > 1
),
cov AS (SELECT doc_id, list(i) AS cov FROM covpos GROUP BY doc_id),
tr AS (
  SELECT d.doc_id, d.w,
         list_filter(d.w, (x, i) -> NOT list_contains(coalesce(cov.cov, []), i)) AS trimmed
  FROM d LEFT JOIN cov ON d.doc_id = cov.doc_id
)
SELECT doc_id,
       CAST(len(w) AS INT) AS n_words_before,
       CAST(len(trimmed) AS INT) AS n_words_after,
       -- a fully-cut doc trims to []: DuckDB's array_to_string([])
       -- is NULL where Spark's array_join([]) is '' — coalesce
       coalesce(array_to_string(trimmed, ' '), '') AS trimmed_text,
       CAST(len(w) - len(trimmed) AS INT) AS n_words_cut
FROM tr
ORDER BY doc_id
"""


# --- SemDeDup-style embedding dedup ----------------------------------


SEMDEDUP_EMBEDDINGS_SQL = f"""
WITH RECURSIVE {_PERTURBED_CORPUS_SQL},
pairs AS (
  SELECT a.vec_id AS id_a, b.vec_id AS id_b
  FROM corpus a JOIN corpus b ON a.vec_id < b.vec_id
  WHERE list_cosine_similarity(a.v, b.v) >= 0.95
),
edges AS (
  SELECT id_a AS a, id_b AS b FROM pairs
  UNION ALL
  SELECT id_b, id_a FROM pairs
),
nodes AS (SELECT DISTINCT a AS id FROM edges),
reach AS (
  SELECT a, b FROM edges
  UNION
  SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a
),
comp AS (
  SELECT n.id, least(n.id, MIN(r.b)) AS cluster_id
  FROM nodes n JOIN reach r ON r.a = n.id
  GROUP BY n.id
)
SELECT c.vec_id,
       COALESCE(comp.cluster_id, c.vec_id) AS cluster_id,
       (COALESCE(comp.cluster_id, c.vec_id) = c.vec_id) AS kept
FROM corpus c LEFT JOIN comp ON comp.id = c.vec_id
ORDER BY c.vec_id
"""


def ngram_containment_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric containment pairs (dedup.ngram_containment_pairs)
    over the perturbed corpus at threshold 0.9. The construction makes
    this provably non-vacuous in ONE direction only: the truncated
    copy's shingles are (almost) all present in its original —
    containment(copy -> orig) ~ 1 — while the reverse direction is
    |copy ∩ orig| / |orig| < 1 and usually below threshold. Catching
    exactly those asymmetric pairs is what Jaccard-based entries
    cannot do; the oracle is honest brute force over ordered pairs.
    Containment is rounded to 1e-6 (exact integer ratio in both
    engines; rounding only normalizes double formatting)."""
    docs = catalog.load(spark, sf_dir, "documents")
    pairs = dedup.ngram_containment_pairs(
        # rebalanced: the shingle build runs below its first exchange
        # on the scan's small-file splits (no-op at 100 TB; see
        # scale.rebalance_to_parallelism)
        scale.rebalance_to_parallelism(_perturbed_corpus(docs), "doc_id"),
        "doc_id", "text", shingle_k=3, threshold=0.9,
    )
    return pairs.select(
        "id_a", "id_b", F.round("containment", 6).alias("containment_r")
    ).orderBy("id_a", "id_b")


NGRAM_CONTAINMENT_SQL = f"""
WITH {_CORPUS_SH_CTES},
cand AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
         len(list_intersect(a.s, b.s)) AS li, a.n AS na
  FROM shn a JOIN shn b ON a.doc_id != b.doc_id
)
SELECT id_a, id_b, round(CAST(li AS DOUBLE) / na, 6) AS containment_r
FROM cand
WHERE CAST(li AS DOUBLE) / na >= 0.9
ORDER BY id_a, id_b
"""


# --- distributed iterative clustering ---------------------------------


_KMEANS_K = 8
_KMEANS_ITERS = 2


def kmeans_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed Lloyd's k-means (ops.similarity.kmeans_distributed)
    over the full embeddings table: k=8 centroids seeded from the 8
    smallest vec_ids, 2 iterations, squared-L2 in double. The first
    ITERATIVE algorithm in the registry with an EXACT oracle: the
    whole run is deterministic (no RNG, explicit tie-breaks), so the
    DuckDB oracle unrolls both iterations as chained CTEs — a hash
    match proves assignment (argmin + tie order), the per-dimension
    mean update, the empty-cluster rule, and the final inertia, across
    two full rounds of the loop."""
    emb = catalog.load(spark, sf_dir, "embeddings")
    return similarity.kmeans_distributed(
        emb, "vec_id", "embedding", k=_KMEANS_K, iters=_KMEANS_ITERS
    )


def _kmeans_round(i: int, prev: str) -> str:
    """One unrolled Lloyd iteration as oracle CTEs: assignment against
    `prev`, per-dim means, COALESCE keeps empty clusters' centroids."""
    return f"""
s{i} AS (
  SELECT v.vec_id, c.cid, power(list_distance(v.v, c.c), 2) AS d, v.v
  FROM v CROSS JOIN {prev} c
),
a{i} AS (
  SELECT vec_id, cid, d, v FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d, cid) AS rn FROM s{i}
  ) WHERE rn = 1
),
m{i} AS (
  SELECT cid, idx, avg(x) AS m FROM (
    SELECT cid, generate_subscripts(v, 1) AS idx, unnest(v) AS x FROM a{i}
  ) GROUP BY cid, idx
),
c{i} AS (
  SELECT p.cid, COALESCE(lm.c, p.c) AS c
  FROM {prev} p LEFT JOIN (
    SELECT cid, list(m ORDER BY idx) AS c FROM m{i} GROUP BY cid
  ) lm USING (cid)
)"""


KMEANS_EMBEDDINGS_SQL = f"""
WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
c0 AS (
  SELECT ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS cid, v AS c
  FROM v ORDER BY vec_id LIMIT {_KMEANS_K}
),{_kmeans_round(1, "c0")},{_kmeans_round(2, "c1")},
sf AS (
  SELECT v.vec_id, c.cid, power(list_distance(v.v, c.c), 2) AS d
  FROM v CROSS JOIN c2 c
),
af AS (
  SELECT vec_id, cid, d FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d, cid) AS rn FROM sf
  ) WHERE rn = 1
)
SELECT cid AS cluster_id, COUNT(*) AS n_vecs, round(SUM(d), 4) AS inertia_r
FROM af GROUP BY cid ORDER BY cluster_id
"""


_SEM_OUTLIER_COS = 0.0


def semantic_outliers_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semantic quality gate across TWO tables — the only entry
    joining documents with embeddings (1:1 on doc_id = vec_id): per
    source, the embedding centroid (per-dimension mean), then each
    document's cosine against its own source's centroid; reports
    per-source doc counts, outliers (cos < {thr}), and avg/min cosine.
    This is the curation stage that drops documents semantically
    off-profile for their source.

    Scale shape: one equi-join on the id (co-partitionable / bucketable
    at 100 TB), one partial-agg shuffle of corpus*dim rows for the
    centroids (result is sources x dim — tiny, AQE broadcasts it back),
    then a pure projection for the cosine and one final small agg.
    No driver-side data movement at all. Cosines are compared raw
    against the threshold and only the REPORTED aggregates are rounded
    (1e-4): centroid means differ between engines only by summation
    order (~1e-15 relative)."""
    docs = catalog.load(spark, sf_dir, "documents").select("doc_id", "source")
    emb = catalog.load(spark, sf_dir, "embeddings").select(
        F.col("vec_id").alias("doc_id"),
        F.col("embedding").cast("array<double>").alias("v"),
    )
    j = docs.join(emb, "doc_id")
    cent = (
        j.select("source", F.posexplode("v").alias("idx", "x"))
        .groupBy("source", "idx")
        .agg(F.avg("x").alias("m"))
        .groupBy("source")
        .agg(F.array_sort(F.collect_list(F.struct("idx", "m"))).alias("pm"))
        .select("source", F.transform("pm", lambda s: s["m"]).alias("c"))
    )
    scored = j.join(cent, "source").withColumn(
        "cos", similarity.cosine(F.col("v"), F.col("c"))
    )
    return (
        scored.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum((F.col("cos") < _SEM_OUTLIER_COS).cast("long")).alias("n_outliers"),
            F.round(F.avg("cos"), 4).alias("avg_cos_r"),
            F.round(F.min("cos"), 4).alias("min_cos_r"),
        )
        .orderBy("source")
    )


semantic_outliers_documents.__doc__ = semantic_outliers_documents.__doc__.format(
    thr=_SEM_OUTLIER_COS
)


SEMANTIC_OUTLIERS_SQL = f"""
WITH j AS (
  SELECT d.doc_id, d.source, CAST(e.embedding AS DOUBLE[]) AS v
  FROM documents d JOIN embeddings e ON d.doc_id = e.vec_id
),
cx AS (
  SELECT source, idx, avg(x) AS m FROM (
    SELECT source, generate_subscripts(v, 1) AS idx, unnest(v) AS x FROM j
  ) GROUP BY source, idx
),
cent AS (SELECT source, list(m ORDER BY idx) AS c FROM cx GROUP BY source),
scored AS (
  SELECT j.source, list_cosine_similarity(j.v, cent.c) AS cos
  FROM j JOIN cent USING (source)
)
SELECT source, COUNT(*) AS n_docs,
       CAST(SUM(CASE WHEN cos < {_SEM_OUTLIER_COS} THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers,
       round(avg(cos), 4) AS avg_cos_r,
       round(min(cos), 4) AS min_cos_r
FROM scored GROUP BY source ORDER BY source
"""


# --- real-container media decode verification -------------------------


def media_decode_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL media decode end to end: each doc_id synthesizes genuine
    container bytes distributed-side (mono 16-bit WAV for id % 4 == 0,
    24-bit BMP for == 1, RGB8 PNG for == 2, 4-color LZW GIF for == 3 —
    ops.multimodal.synthesize_media, families=4), then the stdlib
    decoders recover duration / dimensions from the containers. Every
    decoded field is a closed-form function of the id, so the oracle
    states the expectation purely arithmetically — a hash match proves
    the wave-module, BITMAPINFOHEADER, PNG-IHDR, and GIF-LSD+LZW
    parsing exactly, not a digest-keyed fake. Both steps are
    Arrow-batched mapInPandas; media bytes never leave the executors.
    (families pinned at 3 through r8 so the recorded driver row always
    matched the code; flipped to 4 in r9 when the entry re-entered the
    rotation window, per the SURVEY appendix plan.)"""
    # rebalanced: synthesis + decode are Arrow kernels below the first
    # exchange, i.e. on the scan's 1-2 small-file splits (no-op at
    # 100 TB; see scale.rebalance_to_parallelism)
    docs = scale.rebalance_to_parallelism(
        catalog.load(spark, sf_dir, "documents"), "doc_id"
    )
    media = multimodal.synthesize_media(docs, "doc_id", families=4)
    feats = multimodal.extract_media_features(media)
    return feats.select(
        "media_id", "kind", "width", "height", "duration_ms"
    ).orderBy("media_id")


MEDIA_DECODE_ROUNDTRIP_SQL = """
SELECT doc_id AS media_id,
       CASE WHEN doc_id % 4 = 0 THEN 'audio' ELSE 'image' END AS kind,
       CAST(CASE WHEN doc_id % 4 = 0 THEN 0
                 WHEN doc_id % 4 = 1 THEN 8 + doc_id % 16
                 WHEN doc_id % 4 = 2 THEN 4 + doc_id % 13
                 ELSE 6 + doc_id % 10 END AS INT) AS width,
       CAST(CASE WHEN doc_id % 4 = 0 THEN 0
                 WHEN doc_id % 4 = 1 THEN 8 + doc_id % 9
                 WHEN doc_id % 4 = 2 THEN 4 + doc_id % 11
                 ELSE 6 + doc_id % 7 END AS INT) AS height,
       CAST(CASE WHEN doc_id % 4 = 0 THEN 500 + (doc_id % 5) * 100 ELSE 0 END AS INT) AS duration_ms
FROM documents
ORDER BY media_id
"""


# text_profile_documents' oracle: the three constituent SQLs' per-doc
# forms joined on doc_id
TEXT_PROFILE_DOCUMENTS_SQL = f"""
SELECT s.doc_id AS doc_id, n_chars2, n_tokens, n_punct, n_digits,
       n_short_tokens, quality_score, lang_pred
FROM ({TEXT_STATS_DOCUMENTS_SQL}) s
JOIN ({QUALITY_SCORES_DOCUMENTS_SQL}) q USING (doc_id)
JOIN ({_langid_sql(per_doc=True)}) l USING (doc_id)
ORDER BY doc_id
"""


def repetition_profile_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Column-composite of the two per-doc repetition metric tables —
    the r14 merge candidate per the registry capacity policy (the
    text_profile_documents shape): token_repetition_metrics_documents
    (itself the r8 merge of BPE-ish token counts + 2-gram repetition)
    joined on doc_id with repetition_stats_documents (Gopher word-level
    dup/top fractions). Both sides emit exactly one row per document,
    so the inner join is lossless and one driver row drives all four
    constituent codepaths. The join adds one doc_id shuffle over
    |docs| metric rows — never the corpus text."""
    toks = token_repetition_metrics_documents(spark, sf_dir)
    reps = repetition_stats_documents(spark, sf_dir)
    return toks.join(reps, "doc_id").orderBy("doc_id")


REPETITION_PROFILE_SQL = f"""
SELECT a.*, b.total_words, b.dup_word_frac, b.top_word_frac, b.low_quality
FROM ({TOKEN_REPETITION_METRICS_SQL.replace("ORDER BY toks.doc_id", "")}) a
JOIN ({REPETITION_STATS_SQL.replace("ORDER BY doc_id", "")}) b USING (doc_id)
ORDER BY doc_id
"""


def source_profile_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kind-tagged composite of the two per-source corpus audit
    entries, merged into one registry row (the email_chart_roundtrip
    shape): domain_stats_documents (per-domain link audit) unioned
    with top_terms_per_source (distinctive terms, df-cut tf ranking),
    each through its full original codepath; one driver row, one
    union hash. Normalized rows: domain rows key on (domain, NULL)
    carrying (n_links, n_docs, NULL); term rows key on (source, term)
    carrying (tf, df, rank)."""
    dom = domain_stats_documents(spark, sf_dir).select(
        F.lit("domain").alias("kind"),
        F.col("domain").alias("key1"),
        F.lit(None).cast("string").alias("key2"),
        F.col("n_links").alias("n1"),
        F.col("n_docs").alias("n2"),
        F.lit(None).cast("long").alias("n3"),
    )
    terms = top_terms_per_source(spark, sf_dir).select(
        F.lit("term").alias("kind"),
        F.col("source").alias("key1"),
        F.col("term").alias("key2"),
        F.col("tf").alias("n1"),
        F.col("df").alias("n2"),
        F.col("rank").cast("long").alias("n3"),
    )
    return dom.unionByName(terms).orderBy("kind", "key1", "key2")


SOURCE_PROFILE_SQL = f"""
SELECT 'domain' AS kind, t.domain AS key1, CAST(NULL AS VARCHAR) AS key2,
       t.n_links AS n1, t.n_docs AS n2, CAST(NULL AS BIGINT) AS n3
FROM ({DOMAIN_STATS_SQL.replace("ORDER BY domain", "")}) t
UNION ALL
SELECT 'term' AS kind, t.source AS key1, t.term AS key2,
       t.tf AS n1, t.df AS n2, CAST(t.rank AS BIGINT) AS n3
FROM ({TOP_TERMS_PER_SOURCE_SQL.replace("ORDER BY source, rank", "")}) t
ORDER BY kind, key1, key2
"""


# --- model-based quality classifier (inference shape) ------------------

# Deterministic linear model: the top-_CLF_VOCAB corpus words by
# (count desc, word asc) get integer weights in [-1000, 1000] derived
# from their rank by a fixed multiplicative-hash formula — a stand-in
# for trained fastText/logreg weights (no trained artifact ships in
# this container; the SPARK SHAPE is the deliverable). One knob, both
# engines: the oracle derives the same vocab + weights from the same
# formula.
_CLF_VOCAB = 256
_CLF_MIX = 2654435761  # Knuth multiplicative constant


def classifier_score_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Model-based quality filtering, the inference half (CCNet /
    LLaMA-style: a linear classifier over bag-of-words scores each doc
    and the pipeline keeps the high-scoring side): tokens explode
    once, LEFT-join the (tiny) vocab-weight table, per-doc integer
    weight sum -> exact rational logit -> boolean label.

    Scale shape: the vocab is built with a distributed top-k
    (orderBy+limit -> TakeOrderedAndProject, never a global window
    over the corpus vocabulary); rank assignment windows over the
    256-row result only (bounded single partition BY CONSTRUCTION).
    The token->vocab join is a 256-row build side — AQE converts it
    to a broadcast hash join from runtime size stats, no forced hint.
    Per-doc aggregation is one map-side-combined shuffle on doc_id.
    All arithmetic is integer until the final round(x/(1000*n), 6),
    so both engines produce bit-identical doubles."""
    docs = catalog.load(spark, sf_dir, "documents")
    words = docs.select(
        "doc_id",
        F.explode(F.split(F.lower(F.trim(F.col("text"))), r"\s+")).alias("w"),
    )
    cnt = words.groupBy("w").agg(F.count(F.lit(1)).alias("c"))
    top = cnt.orderBy(F.desc("c"), F.asc("w")).limit(_CLF_VOCAB)
    rank_w = Window.orderBy(F.desc("c"), F.asc("w"))
    vocab = top.withColumn("rank", F.row_number().over(rank_w)).select(
        "w",
        (
            (F.col("rank").cast("long") * F.lit(_CLF_MIX)) % F.lit(2001) - F.lit(1000)
        ).alias("wt"),
    )
    scored = (
        words.join(vocab, "w", "left")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.count("wt").alias("matched"),
            F.coalesce(F.sum("wt"), F.lit(0)).alias("s"),
        )
    )
    logit = F.round(F.col("s") / (F.lit(1000.0) * F.col("n_tokens")), 6)
    return scored.select(
        "doc_id",
        "n_tokens",
        "matched",
        logit.alias("logit"),
        (logit > 0).alias("label"),
    ).orderBy("doc_id")


CLASSIFIER_SCORE_SQL = rf"""
WITH w AS (
  SELECT doc_id, unnest(regexp_split_to_array(lower(trim(text)), '\s+')) AS w
  FROM documents
),
cnt AS (SELECT w, COUNT(*) AS c FROM w GROUP BY w),
vocab AS (
  SELECT w, ((rank * {_CLF_MIX}) % 2001) - 1000 AS wt
  FROM (
    SELECT w, c, ROW_NUMBER() OVER (ORDER BY c DESC, w ASC) AS rank
    FROM cnt
  ) WHERE rank <= {_CLF_VOCAB}
),
scored AS (
  SELECT w.doc_id, COUNT(*) AS n_tokens, COUNT(v.wt) AS matched,
         COALESCE(SUM(v.wt), 0) AS s
  FROM w LEFT JOIN vocab v ON w.w = v.w
  GROUP BY w.doc_id
)
SELECT doc_id, n_tokens, matched,
       round(s / (1000.0 * n_tokens), 6) AS logit,
       (round(s / (1000.0 * n_tokens), 6) > 0) AS label
FROM scored
ORDER BY doc_id
"""


def quantized_ann_topk_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN over int8-QUANTIZED embeddings (ops/similarity
    quantize_int8 + quantized_topk, l2 scale): exact integer-dot
    top-5 for the first 10 vectors, approximating 127²·cosine
    (recall@5 ~0.98 vs the float baseline, pinned in pytest). The
    output is ALL integers — quantization is deterministic by IEEE
    arithmetic (the squared norm accumulates left-to-right in element
    order in Spark, DuckDB and CPython alike, bit-for-bit pinned in
    pytest; sqrt/multiply/divide are exactly-rounded ops; both
    engines round halves away from zero), so the driver hash is
    bit-exact with no rounding escape hatch. This is the memory-bound
    scale answer for embedding stores: int8 cuts ANN residency 4x,
    and the integer score is exactly reproducible across engines,
    partitionings, and replays — unlike float accumulation, whose
    answer depends on summation order."""
    emb = catalog.load(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < _N_ANN_QUERIES)
    return similarity.quantized_topk(emb, queries, k=5).orderBy(
        "query_id", "rank"
    )


QUANTIZED_ANN_TOPK_SQL = f"""
WITH base AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
mq AS (SELECT vec_id, v,
              sqrt(list_sum(list_transform(v, x -> x * x))) AS m
       FROM base),
qv AS (
  SELECT vec_id,
         CASE WHEN m = 0 THEN list_transform(v, x -> CAST(0 AS BIGINT))
              ELSE list_transform(v, x -> CAST(round(x * 127 / m) AS BIGINT))
         END AS q
  FROM mq
),
queries AS (SELECT vec_id AS qid, q AS qq FROM qv WHERE vec_id < {_N_ANN_QUERIES}),
scored AS (
  SELECT queries.qid AS query_id, e.vec_id AS neighbor_id,
         CAST(list_sum(list_transform(generate_series(1, len(e.q)),
                                      i -> e.q[i] * queries.qq[i])) AS BIGINT) AS dot
  FROM qv e CROSS JOIN queries
  WHERE e.vec_id != queries.qid
)
SELECT query_id, neighbor_id, rank, dot FROM (
  SELECT query_id, neighbor_id, dot,
         ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY dot DESC, neighbor_id) AS rank
  FROM scored
) WHERE rank <= 5
ORDER BY query_id, rank
"""


# --- LM-perplexity quality filtering (CCNet shape, r15 candidate) -----

# flag threshold in milli-bits/token: a doc whose mean unigram
# cross-entropy exceeds this is "surprising" under the reference LM —
# the CCNet tail bucket. The corpus's per-doc mean sits tightly
# around ~4910 mb/token with a fat right tail (p90 ~4926 at sf0.01,
# p95 ~4920 at sf0.1 — measured), so 4925 flags the genuine tail at
# every SF without degenerating to all-true/all-false. Integer so the
# flag is an exact cross-multiplied comparison in both engines.
_PPL_FLAG_MILLIBITS = 4_925


def perplexity_score_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unigram-LM cross-entropy quality scoring — the perplexity-
    filtering half of CCNet (Wenzek et al. 2020: score documents under
    a reference LM, keep the low-perplexity head; the reference's
    quality signals are rule-based only, so this extends §2's text-
    analysis family with the model-statistics signal 100 TB curation
    pipelines actually rank by).

    Train/score split is deterministic: even doc_ids are the
    reference corpus (add-one-smoothed unigram counts), odd doc_ids
    are scored held-out. Per token, surprisal = log2((N + V) /
    (c + 1)) — N total reference tokens, V vocab size, c the token's
    reference count (0 when OOV) — QUANTIZED to integer milli-bits
    per DISTINCT count value, so the per-doc sum is an exact integer
    in both engines (the classifier_score rational-arithmetic
    precedent: no float summation order can drift the hash) and the
    flag is an integer cross-multiplication against
    _PPL_FLAG_MILLIBITS.

    Scale shape: one token explode (linear in the token stream), one
    groupBy(token) for counts (shuffle ~ distinct vocab), one
    token-keyed left join of the scored stream against the counts
    (shuffle ~ token stream, never doc x doc), one per-doc agg. The
    N/V scalars ride a broadcast 1-row crossJoin. At 100 TB the
    count table prunes to top-K vocab + an OOV default and broadcasts.
    The count table is PERSISTED once: it feeds both the token join
    and the N/V scalar agg, and an unshared plan would re-run the
    full reference-token aggregation for each (the
    simhash_recall_planted precedent); the checkpointed result
    releases it."""
    from dbitool_spark.ops.cache import materialize_release

    docs = catalog.load(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id",
        F.explode(F.split(F.lower(F.trim("text")), r"\s+")).alias("w"),
    )
    counts = (
        toks.filter(F.col("doc_id") % 2 == 0)
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("c"))
        .persist()
    )
    scal = counts.agg(
        F.sum("c").alias("n_tok"), F.count(F.lit(1)).alias("v_sz")
    )
    scored = (
        toks.filter(F.col("doc_id") % 2 == 1)
        .join(counts, "w", "left")
        .crossJoin(F.broadcast(scal))
        .select(
            "doc_id",
            F.round(
                F.log2(
                    (F.col("n_tok") + F.col("v_sz"))
                    / (F.coalesce(F.col("c"), F.lit(0)) + 1)
                )
                * 1000,
                0,
            )
            .cast("long")
            .alias("s_mb"),
        )
    )
    result = (
        scored.groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("tok_n"), F.sum("s_mb").alias("ce_mb"))
        .select(
            "doc_id",
            "tok_n",
            "ce_mb",
            (F.col("ce_mb") > F.col("tok_n") * _PPL_FLAG_MILLIBITS).alias(
                "flagged"
            ),
        )
        .orderBy("doc_id")
    )
    return materialize_release(result, counts)


PERPLEXITY_SCORE_SQL = rf"""
WITH toks AS (
  SELECT doc_id,
         unnest(regexp_split_to_array(lower(trim(text)), '\s+')) AS w
  FROM documents
),
counts AS (
  SELECT w, COUNT(*) AS c FROM toks WHERE doc_id % 2 = 0 GROUP BY w
),
scal AS (SELECT SUM(c) AS n_tok, COUNT(*) AS v_sz FROM counts),
scored AS (
  SELECT t.doc_id,
         CAST(round(log2((s.n_tok + s.v_sz) * 1.0
                         / (COALESCE(c.c, 0) + 1)) * 1000, 0) AS BIGINT)
           AS s_mb
  FROM toks t
  LEFT JOIN counts c USING (w)
  CROSS JOIN scal s
  WHERE t.doc_id % 2 = 1
)
SELECT doc_id, COUNT(*) AS tok_n, CAST(SUM(s_mb) AS BIGINT) AS ce_mb,
       SUM(s_mb) > COUNT(*) * {_PPL_FLAG_MILLIBITS} AS flagged
FROM scored GROUP BY doc_id ORDER BY doc_id
"""


# --- DSIR importance weights (data-selection shape, r15+ candidate) ---

# target-distribution proxy: a fixed, deterministic source subset. At
# a real deployment this is the high-quality corpus (Wikipedia/books);
# the point the entry proves is the two-distribution log-ratio
# machinery, not the subset choice.
_DSIR_TARGET_SOURCES = ("src0", "src1", "src2", "src3", "src4")


# 2^53: the largest span where every integer is an exact double — the
# per-row crossover between DSIR's exact-rational form and the
# cluster-scale difference-of-quantized-logs form.
_DSIR_EXACT_BOUND = 1 << 53


def _dsir_weight_mb():
    """Per-token DSIR weight in integer milli-bits over columns
    ct/cr/nt/nr/v — the ONE knob mirrored by DSIR_WEIGHTS_SQL's CASE.
    Exact-rational log2 where both cross-products stay <= 2^53 (the
    committed SFs never leave this branch); difference of two
    separately-quantized logs above (the cluster-scale branch —
    dsir_weights_documents docstring). The guard is overflow-free
    integer arithmetic: (ct+1) <= 2^53 DIV (nr+v) iff
    (ct+1)*(nr+v) <= 2^53 for positive ints."""
    exact_ok = (
        (F.col("ct") + 1) <= F.expr(f"{_DSIR_EXACT_BOUND} DIV (nr + v)")
    ) & ((F.col("cr") + 1) <= F.expr(f"{_DSIR_EXACT_BOUND} DIV (nt + v)"))
    exact = F.round(
        F.log2(
            ((F.col("ct") + 1) * (F.col("nr") + F.col("v")))
            / ((F.col("cr") + 1) * (F.col("nt") + F.col("v")))
        )
        * 1000,
        0,
    )
    split = F.round(
        F.log2((F.col("ct") + 1) / (F.col("nt") + F.col("v"))) * 1000, 0
    ) - F.round(F.log2((F.col("cr") + 1) / (F.col("nr") + F.col("v"))) * 1000, 0)
    return F.when(exact_ok, exact).otherwise(split).cast("long")


# the same CASE, DuckDB-side (BIGINT // is integer division there)
_DSIR_WEIGHT_MB_SQL = f"""CAST(CASE
  WHEN (c.ct + 1) <= {_DSIR_EXACT_BOUND} // (s.nr + s.v)
   AND (c.cr + 1) <= {_DSIR_EXACT_BOUND} // (s.nt + s.v)
  THEN round(log2(((c.ct + 1) * (s.nr + s.v) * 1.0)
                  / ((c.cr + 1) * (s.nt + s.v))) * 1000, 0)
  ELSE round(log2((c.ct + 1) * 1.0 / (s.nt + s.v)) * 1000, 0)
     - round(log2((c.cr + 1) * 1.0 / (s.nr + s.v)) * 1000, 0)
END AS BIGINT)"""


def dsir_weights_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR-style importance-resampling weights (Xie et al. 2023,
    "Data Selection for Language Models via Importance Resampling"):
    score every raw-pool document by how much more likely its tokens
    are under the TARGET distribution than under the RAW distribution
    — log p_target(w) − p_raw(w) summed per doc — then keep the
    target-like half. The modern data-mixing primitive that sits
    between quality filtering and deduplication in a 100 TB curation
    pipeline.

    Cross-engine exactness: per token the weight is log2 of ONE exact
    rational ((ct+1)(Nr+V)) / ((cr+1)(Nt+V)) — products stay well
    under 2^53 at the committed SFs so the double ratio is correctly
    rounded and identical in both engines — quantized to integer
    MILLI-BITS per distinct (ct, cr) pair (the perplexity_score
    precedent), so the per-doc sum is an exact integer and the keep
    flag (sum > 0: more target-like than raw-like) is an integer
    comparison.

    CLUSTER-SCALE BRANCH (r13 verdict item 6 — code, not prose):
    where either cross-product would exceed 2^53 the double ratio is
    no longer exactly representable, so the weight switches PER ROW
    to a difference of two separately-quantized logs,
    round(log2((ct+1)/(Nt+V)))*1000) − round(log2((cr+1)/(Nr+V))*1000)
    — each argument one correctly-rounded division of sub-2^63
    integers. The branch condition is pure integer arithmetic
    ((ct+1) <= 2^53 DIV (Nr+V), overflow-free by construction) so
    both engines take the same branch on the same row; the oracle
    mirrors the CASE exactly (_dsir_weight_mb / the SQL's CASE are
    the one knob). The split form trades the single-rational
    exactness for bounded-magnitude log arguments — its residual
    cross-engine risk is a 1-ulp libm log2 landing on a 0.0005-bit
    quantization boundary, the same documented trade
    perplexity_score makes.

    Scale shape: ONE token explode feeds ONE groupBy(token) computing
    both distributions' counts as conditional aggregates (no second
    corpus pass — unlike naive two-model scoring), the Nt/Nr/V
    scalars ride a broadcast 1-row crossJoin, the raw-pool token
    stream joins the count table on token (shuffle ~ token stream,
    never doc x doc), one per-doc agg. The count table is persisted
    once and released (it feeds the join and the scalar agg)."""
    from dbitool_spark.ops.cache import materialize_release

    docs = catalog.load(spark, sf_dir, "documents")
    is_target = F.col("source").isin(*_DSIR_TARGET_SOURCES)
    toks = docs.select(
        "doc_id",
        is_target.alias("tgt"),
        F.explode(F.split(F.lower(F.trim("text")), r"\s+")).alias("w"),
    )
    counts = (
        toks.groupBy("w")
        .agg(
            F.count(F.when(F.col("tgt"), 1)).alias("ct"),
            F.count(F.when(~F.col("tgt"), 1)).alias("cr"),
        )
        .persist()
    )
    scal = counts.agg(
        F.sum("ct").alias("nt"),
        F.sum("cr").alias("nr"),
        F.count(F.lit(1)).alias("v"),
    )
    scored = (
        toks.filter(~F.col("tgt"))
        .join(counts, "w")
        .crossJoin(F.broadcast(scal))
        .select("doc_id", _dsir_weight_mb().alias("s_mb"))
    )
    result = (
        scored.groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("tok_n"), F.sum("s_mb").alias("w_mb"))
        .select(
            "doc_id",
            "tok_n",
            "w_mb",
            (F.col("w_mb") > 0).alias("kept"),
        )
        .orderBy("doc_id")
    )
    return materialize_release(result, counts)


_DSIR_TGT_SQL = ", ".join(f"'{s}'" for s in _DSIR_TARGET_SOURCES)

DSIR_WEIGHTS_SQL = rf"""
WITH toks AS (
  SELECT doc_id, source IN ({_DSIR_TGT_SQL}) AS tgt,
         unnest(regexp_split_to_array(lower(trim(text)), '\s+')) AS w
  FROM documents
),
counts AS (
  SELECT w,
         COUNT(CASE WHEN tgt THEN 1 END) AS ct,
         COUNT(CASE WHEN NOT tgt THEN 1 END) AS cr
  FROM toks GROUP BY w
),
scal AS (SELECT SUM(ct) AS nt, SUM(cr) AS nr, COUNT(*) AS v FROM counts),
scored AS (
  SELECT t.doc_id, {_DSIR_WEIGHT_MB_SQL} AS s_mb
  FROM toks t JOIN counts c USING (w) CROSS JOIN scal s
  WHERE NOT t.tgt
)
SELECT doc_id, COUNT(*) AS tok_n, CAST(SUM(s_mb) AS BIGINT) AS w_mb,
       SUM(s_mb) > 0 AS kept
FROM scored GROUP BY doc_id ORDER BY doc_id
"""


def embedding_audit_composite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kind-tagged merge of kmeans_embeddings +
    semantic_outliers_documents:
    one driver row drives the distributed Lloyd's kernel
    (kind='kmeans': per-cluster size + rounded inertia, key =
    cluster id) AND the per-source centroid/cosine outlier gate
    (kind='outliers': doc counts, outlier counts, rounded avg/min
    cosine, key = source). Scale shapes are the constituents',
    unchanged — see their docstrings."""
    km = kmeans_embeddings(spark, sf_dir).select(
        F.lit("kmeans").alias("kind"),
        F.col("cluster_id").cast("string").alias("key"),
        F.col("n_vecs").alias("n"),
        F.lit(None).cast("long").alias("n_extra"),
        F.col("inertia_r").alias("m1"),
        F.lit(None).cast("double").alias("m2"),
    )
    so = semantic_outliers_documents(spark, sf_dir).select(
        F.lit("outliers").alias("kind"),
        F.col("source").alias("key"),
        F.col("n_docs").alias("n"),
        F.col("n_outliers").alias("n_extra"),
        F.col("avg_cos_r").alias("m1"),
        F.col("min_cos_r").alias("m2"),
    )
    return km.unionByName(so).orderBy("kind", "key")


EMBEDDING_AUDIT_COMPOSITE_SQL = f"""
SELECT 'kmeans' AS kind, CAST(cluster_id AS VARCHAR) AS key,
       n_vecs AS n, CAST(NULL AS BIGINT) AS n_extra,
       inertia_r AS m1, CAST(NULL AS DOUBLE) AS m2
FROM ({KMEANS_EMBEDDINGS_SQL.strip().rstrip().removesuffix("ORDER BY cluster_id")}) km
UNION ALL
SELECT 'outliers' AS kind, source AS key, n_docs AS n,
       n_extra, avg_cos_r AS m1, min_cos_r AS m2
FROM (
  SELECT source, n_docs, n_outliers AS n_extra, avg_cos_r, min_cos_r
  FROM ({SEMANTIC_OUTLIERS_SQL.strip().removesuffix("ORDER BY source")}) so
) so2
ORDER BY kind, key
"""


def semantic_dedup_composite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kind-tagged embedding near-dup pairs + SemDeDup keep/drop
    table: the LSH-bucketed cosine pair table is computed
    ONCE (localCheckpointed) and feeds both the pair listing
    (kind='pairs': id_a, id_b, rounded cosine) and the SemDeDup
    keep/drop decision table (kind='dedup': vec_id as id_a, cluster id
    as id_b, kept flag), so the candidate generation is paid once.
    Scale shape: bucketed candidates
    (similarity.embedding_near_dup_pairs) and min-label components
    (dedup.connected_components), never all-pairs."""
    emb = catalog.load(spark, sf_dir, "embeddings")
    base = emb.select("vec_id", F.col("embedding").cast("array<double>").alias("v"))
    corpus = base.unionAll(_perturbed_embeddings(base))
    # the pair table comes back localCheckpointed, so the two
    # consumers below share the computed candidates instead of
    # re-running the LSH + cosine verify
    pairs = similarity.embedding_near_dup_pairs(
        corpus, id_col="vec_id", vec_col="v", dim=64,
        threshold=0.95, n_tables=16, bits=10,
    )
    pair_rows = pairs.select(
        F.lit("pairs").alias("kind"),
        F.col("id_a"),
        F.col("id_b"),
        F.round("cos", 6).alias("cos_r"),
        F.lit(None).cast("boolean").alias("kept"),
    )
    comp = dedup.connected_components(pairs.select("id_a", "id_b"))
    out = corpus.select("vec_id").join(
        comp, corpus.vec_id == comp.id, "left"
    )
    cluster = F.coalesce("cluster_id", F.col("vec_id"))
    dedup_rows = out.select(
        F.lit("dedup").alias("kind"),
        F.col("vec_id").alias("id_a"),
        cluster.alias("id_b"),
        F.lit(None).cast("double").alias("cos_r"),
        (cluster == F.col("vec_id")).alias("kept"),
    )
    return pair_rows.unionByName(dedup_rows).orderBy("kind", "id_a", "id_b")


SEMANTIC_DEDUP_COMPOSITE_SQL = f"""
SELECT 'pairs' AS kind, id_a, id_b, cos_r, CAST(NULL AS BOOLEAN) AS kept
FROM ({EMBEDDING_NEAR_DUP_SQL.strip().removesuffix("ORDER BY id_a, id_b")}) p
UNION ALL
SELECT 'dedup' AS kind, vec_id AS id_a, cluster_id AS id_b,
       CAST(NULL AS DOUBLE) AS cos_r, kept
FROM ({SEMDEDUP_EMBEDDINGS_SQL.strip().removesuffix("ORDER BY c.vec_id")}) s
ORDER BY kind, id_a, id_b
"""


# --- BPE merge LEARNING (the tokenizer-training loop, r15+/r16) -------

_BPE_LEARN_ITERS = 3


def _bpe_apply_merge(r, a, b):
    """Maximal non-overlapping merge of the symbol pair (a, b) inside
    a pipe-delimited symbol string ('|h|e|l|l|o|') as TWO passes of
    literal replace('|a|b|' -> '|ab|'). One pass can miss an
    occurrence whose leading '|' was consumed as the previous match's
    trailing '|'; after that pass, remaining occurrences are never
    boundary-adjacent, so the second pass catches them. Semantics,
    property-tested in test_llm_ops: for every a != b this EQUALS
    textbook greedy left-to-right BPE; for self-pairs (a == b) it is
    LOCALLY MAXIMAL — no adjacent unmerged (a, a) remains, the
    flattened string is preserved, every merged token is exactly
    a+b — but long self-runs can merge fewer times than greedy
    ('aaaaaa' -> aa,a,aa,a vs greedy's aa,aa,aa). A documented,
    deterministic variant, identical in BOTH engines because literal
    replace has the same left-to-right non-overlapping semantics in
    Spark and DuckDB, which is what makes the ORACLE exact (and the
    local-maximality is what the learning loop needs: the next
    iteration's pair counts see no leftover (a, b) adjacency)."""
    pat = F.concat(F.lit("|"), a, F.lit("|"), b, F.lit("|"))
    rep = F.concat(F.lit("|"), a, b, F.lit("|"))
    return F.replace(F.replace(r, pat, rep), pat, rep)


def _bpe_learn_iteration_sql(i: int) -> str:
    return f"""
pairs{i} AS (
  SELECT s[j] AS a, s[j+1] AS b, SUM(n) AS cnt
  FROM (SELECT list_filter(string_split(r, '|'), x -> len(x) > 0) AS s, n
        FROM w{i}),
       LATERAL unnest(generate_series(1, len(s) - 1)) AS t(j)
  GROUP BY 1, 2
),
best{i} AS (
  SELECT a, b, cnt, {i} AS it FROM pairs{i}
  ORDER BY cnt DESC, a ASC, b ASC LIMIT 1
),
w{i + 1} AS (
  SELECT replace(replace(w.r, '|' || q.a || '|' || q.b || '|',
                         '|' || q.a || q.b || '|'),
                 '|' || q.a || '|' || q.b || '|',
                 '|' || q.a || q.b || '|') AS r, w.n
  FROM w{i} w CROSS JOIN best{i} q
)"""


BPE_LEARN_MERGES_SQL = (
    r"""
WITH toks AS (
  SELECT unnest(regexp_split_to_array(lower(trim(text)), '\s+')) AS word
  FROM documents
),
w0 AS (
  SELECT '|' || regexp_replace(word, '(.)', '\1|', 'g') AS r, COUNT(*) AS n
  FROM toks WHERE len(word) > 0 GROUP BY 1
),"""
    + ",".join(_bpe_learn_iteration_sql(i) for i in range(_BPE_LEARN_ITERS))
    + f"""
SELECT it, a AS pair_a, b AS pair_b, CAST(cnt AS BIGINT) AS cnt
FROM ({" UNION ALL ".join(f"SELECT * FROM best{i}" for i in range(_BPE_LEARN_ITERS))})
ORDER BY it
"""
)


def bpe_pipeline_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kind-tagged composite of the full tokenizer story: one driver
    row drives the pair-statistics aggregation (kind='pair',
    bpe_pair_counts_documents), the K-round merge-learning loop
    (kind='merge': per iteration, the best adjacent-symbol pair and
    its count) and the corpus encode audit (kind='encode': per doc,
    words, characters and BPE symbols after the learned merges). The
    merge and encode legs derive from ONE shared learn chain (see the
    inline note below). Scale shape: every loop iteration works over
    the word-frequency table (vocabulary-sized), and the only
    corpus-sized step is one token-stream join on `word`."""
    pair = bpe_pair_counts_documents(spark, sf_dir).select(
        F.lit("pair").alias("kind"),
        F.col("pair").alias("key1"),
        F.lit(None).cast("string").alias("key2"),
        F.col("n").cast("long").alias("n1"),
        F.lit(None).cast("long").alias("n2"),
        F.lit(None).cast("long").alias("n3"),
    )
    # ONE learn chain carrying `word` feeds both legs: the merge rows
    # are the chain's own per-iteration best-pair frames, the encode
    # leg its final state. Two separate chains (one without `word`,
    # one with) would not share exchanges, so Catalyst would run the
    # K-iteration loop twice. Carrying `word` through the groupBy(word)
    # frequency table changes no pair count (the pair aggregation
    # projects only (r, n)), and the best pair is picked by exact
    # integer count with a (cnt DESC, a, b) tie-break, matching
    # BPE_LEARN_MERGES_SQL and BPE_ENCODE_DOCUMENTS_SQL.
    docs = catalog.load(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id",
        F.explode(F.split(F.lower(F.trim("text")), r"\s+")).alias("word"),
    ).filter(F.length("word") > 0)
    wn = toks.groupBy("word").agg(F.count(F.lit(1)).alias("n")).select(
        "word",
        F.concat(F.lit("|"), F.regexp_replace("word", "(.)", "$1|")).alias("r"),
        "n",
    )
    bests = []
    for i in range(_BPE_LEARN_ITERS):
        syms = F.filter(F.split("r", r"\|"), lambda x: F.length(x) > 0)
        pairs_i = (
            wn.select(
                F.explode(
                    F.arrays_zip(
                        F.slice(syms, 1, F.size(syms) - 1).alias("a"),
                        F.slice(syms, 2, F.size(syms) - 1).alias("b"),
                    )
                ).alias("p"),
                "n",
            )
            .groupBy(F.col("p.a").alias("a"), F.col("p.b").alias("b"))
            .agg(F.sum("n").alias("cnt"))
        )
        best = pairs_i.orderBy(F.desc("cnt"), F.asc("a"), F.asc("b")).limit(1)
        bests.append(
            best.select(
                F.lit(i).alias("it"),
                F.col("a").alias("pair_a"),
                F.col("b").alias("pair_b"),
                F.col("cnt").cast("long").alias("cnt"),
            )
        )
        wn = wn.crossJoin(F.broadcast(best)).select(
            "word",
            _bpe_apply_merge(F.col("r"), F.col("a"), F.col("b")).alias("r"),
            "n",
        )
    merges = bests[0]
    for b in bests[1:]:
        merges = merges.unionByName(b)
    merge = merges.select(
        F.lit("merge").alias("kind"),
        F.col("pair_a").alias("key1"),
        F.col("pair_b").alias("key2"),
        F.col("it").cast("long").alias("n1"),
        F.col("cnt").cast("long").alias("n2"),
        F.lit(None).cast("long").alias("n3"),
    )
    syms = F.filter(F.split("r", r"\|"), lambda x: F.length(x) > 0)
    enc_lengths = wn.select(
        "word",
        F.length("word").alias("n_chars_w"),
        F.size(syms).alias("n_syms_w"),
    )
    enc = (
        toks.join(enc_lengths, "word")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_words"),
            F.sum("n_chars_w").cast("long").alias("n_chars"),
            F.sum("n_syms_w").cast("long").alias("n_syms_bpe"),
        )
        .select(
            F.lit("encode").alias("kind"),
            F.col("doc_id").cast("string").alias("key1"),
            F.lit(None).cast("string").alias("key2"),
            F.col("n_words").cast("long").alias("n1"),
            F.col("n_chars").alias("n2"),
            F.col("n_syms_bpe").alias("n3"),
        )
    )
    return pair.unionByName(merge).unionByName(enc).orderBy(
        "kind", "key1", "key2"
    )


def _bpe_encode_iteration_sql(i: int) -> str:
    """One unrolled encode iteration: identical pair-count/argmax/
    apply arithmetic to _bpe_learn_iteration_sql, with `word` carried
    through every w{i} so the final join back to the token stream can
    key on it."""
    return f"""
epairs{i} AS (
  SELECT s[j] AS a, s[j+1] AS b, SUM(n) AS cnt
  FROM (SELECT list_filter(string_split(r, '|'), x -> len(x) > 0) AS s, n
        FROM ew{i}),
       LATERAL unnest(generate_series(1, len(s) - 1)) AS t(j)
  GROUP BY 1, 2
),
ebest{i} AS (
  SELECT a, b FROM epairs{i} ORDER BY cnt DESC, a ASC, b ASC LIMIT 1
),
ew{i + 1} AS (
  SELECT w.word,
         replace(replace(w.r, '|' || q.a || '|' || q.b || '|',
                         '|' || q.a || q.b || '|'),
                 '|' || q.a || '|' || q.b || '|',
                 '|' || q.a || q.b || '|') AS r, w.n
  FROM ew{i} w CROSS JOIN ebest{i} q
)"""


BPE_ENCODE_DOCUMENTS_SQL = (
    r"""
WITH toks AS (
  SELECT doc_id,
         unnest(regexp_split_to_array(lower(trim(text)), '\s+')) AS word
  FROM documents
),
ew0 AS (
  SELECT word, '|' || regexp_replace(word, '(.)', '\1|', 'g') AS r,
         COUNT(*) AS n
  FROM toks WHERE len(word) > 0 GROUP BY 1, 2
),"""
    + ",".join(_bpe_encode_iteration_sql(i) for i in range(_BPE_LEARN_ITERS))
    + f""",
enc AS (
  SELECT word, len(word) AS n_chars_w,
         len(list_filter(string_split(r, '|'), x -> len(x) > 0)) AS n_syms_w
  FROM ew{_BPE_LEARN_ITERS}
)
SELECT t.doc_id, COUNT(*) AS n_words,
       CAST(SUM(e.n_chars_w) AS BIGINT) AS n_chars,
       CAST(SUM(e.n_syms_w) AS BIGINT) AS n_syms_bpe
FROM toks t JOIN enc e USING (word)
GROUP BY t.doc_id
ORDER BY t.doc_id
"""
)


BPE_PIPELINE_DOCUMENTS_SQL = f"""
SELECT 'pair' AS kind, pair AS key1, CAST(NULL AS VARCHAR) AS key2,
       CAST(n AS BIGINT) AS n1, CAST(NULL AS BIGINT) AS n2,
       CAST(NULL AS BIGINT) AS n3
FROM ({BPE_PAIR_COUNTS_SQL}) p
UNION ALL
SELECT 'merge' AS kind, pair_a AS key1, pair_b AS key2,
       CAST(it AS BIGINT) AS n1, cnt AS n2, CAST(NULL AS BIGINT) AS n3
FROM ({BPE_LEARN_MERGES_SQL}) m
UNION ALL
SELECT 'encode' AS kind, CAST(doc_id AS VARCHAR) AS key1,
       CAST(NULL AS VARCHAR) AS key2, CAST(n_words AS BIGINT) AS n1,
       n_chars AS n2, n_syms_bpe AS n3
FROM ({BPE_ENCODE_DOCUMENTS_SQL}) e
ORDER BY kind, key1, key2
"""
