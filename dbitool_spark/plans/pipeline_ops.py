"""Training-data pipeline queries: benchmark decontamination,
deterministic dataset splits, and sequence packing over `documents`.

The reference has no analogue for any of these — they extend the
engine toward the LLM-corpus workload the north star calls for, in
the same registered-query + DuckDB-oracle convention as every other
entry (each op is exactly SQL-expressible so the correctness gate is
a hash comparison, not a rows-only check).

Scale notes (100 TB design point):
- decontamination joins the corpus n-gram stream against the
  *benchmark* n-gram set. Benchmark suites are tiny relative to a
  training corpus (10^3-10^5 docs vs 10^9), so the distinct benchmark
  gram set broadcasts and the corpus side never shuffles — AQE picks
  the broadcast from the runtime size; no hint is needed here for the
  same reason as catalog.maybe_broadcast.
- the split hash is a fixed multiplicative hash (Knuth 2654435761 mod
  a prime) rather than xxhash64 ONLY because the oracle must compute
  the identical value in DuckDB; at production scale substitute
  F.xxhash64 — the plan shape (one narrow projection, one tiny
  groupBy) is unchanged.
- sequence packing orders by doc_id *within a hash bucket*, never
  globally: a global window over 10^9 rows is a single-partition
  bottleneck, while per-bucket windows parallelize across executors
  (one shuffle on bucket). The packing is the GPT-style contiguous
  token-stream chunking: a document's bin is determined by its
  starting offset in the bucket's running token stream.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from dbitool_spark import catalog
from dbitool_spark.ops import scale
from dbitool_spark.ops.dedup import shingles

# ~1% of documents act as the held-out benchmark set in the
# decontamination query (doc_id % BENCH_MOD == 0).
BENCH_MOD = 97
# 8-gram overlap is the common contamination heuristic (e.g. the
# GPT-3 appendix uses 13-grams at web scale; 8 keeps the synthetic
# 500-doc corpus non-vacuous).
DECONTAM_NGRAM = 8

# Knuth's multiplicative constant; modulus is prime so low-order
# doc_id patterns don't alias into buckets.
SPLIT_MULT = 2654435761
SPLIT_PRIME = 1_000_000_007

PACK_BUDGET = 512  # tokens per packed sequence
PACK_BUCKETS = 16


def _split_bucket(id_col: str) -> F.Column:
    """Deterministic 0..99 bucket from a NON-NEGATIVE integer id —
    identical arithmetic in Spark and DuckDB (exact int64; no engine
    hash). The id is reduced mod SPLIT_PRIME BEFORE the multiply so
    the product stays < 1e9 * 2.66e9 ~ 2.7e18 < 2^63 for any int64 id:
    without the reduction, ids >= ~3.46e9 overflow — non-ANSI Spark
    wraps silently while DuckDB raises, so plan and oracle would
    diverge exactly at the 10^9-doc scale this module targets.
    (Negative ids would still diverge — pmod vs DuckDB's
    sign-following % — hence the non-negative precondition.)"""
    return (
        F.pmod(F.pmod(F.col(id_col), F.lit(SPLIT_PRIME)) * F.lit(SPLIT_MULT), F.lit(SPLIT_PRIME))
        % 100
    )


def bench_gram_set(docs: DataFrame) -> DataFrame:
    """The held-out benchmark's distinct word 8-gram set (one `gram`
    column): every doc with doc_id % BENCH_MOD == 0 contributes its
    text minus the last word — the shared construction behind
    decontaminate_documents, the curation pipeline's stage 3, and the
    stream-static decontamination entry (one definition, three
    consumers, so they cannot drift)."""
    words = F.split(F.lower(F.trim(F.col("text"))), r"\s+")
    return (
        docs.filter(F.col("doc_id") % BENCH_MOD == 0)
        .select(F.concat_ws(" ", F.slice(words, 1, F.size(words) - 1)).alias("text"))
        .select(F.explode(shingles(F.col("text"), DECONTAM_NGRAM)).alias("gram"))
        .distinct()
    )


def mix_keep_condition() -> F.Column:
    """Weighted-mix membership: keep a doc iff its deterministic LCG
    bucket falls under its source's weight percentage — shared by
    corpus_mix_weighted (audit) and the curation pipeline (filter)."""
    src_idx = F.substring(F.col("source"), 4, 10).cast("int")
    weight = F.element_at(
        F.array(*[F.lit(w) for w in MIX_WEIGHTS]), src_idx % len(MIX_WEIGHTS) + 1
    )
    bucket = (F.col("doc_id") * _MIX_MULT + _MIX_ADD) % 100
    return bucket < weight


def pack_stats(docs: DataFrame) -> DataFrame:
    """Per-(bucket, bin) sequence-packing fill stats over (doc_id,
    text) rows — the shared stage behind pack_sequences_documents and
    the curation pipeline's stage 5 (see pack_sequences_documents for
    the scale rationale)."""
    toks = F.size(F.split(F.lower(F.trim(F.col("text"))), r"\s+"))
    base = docs.select(
        "doc_id",
        (_split_bucket("doc_id") % PACK_BUCKETS).alias("bucket"),
        toks.alias("n_tokens"),
    )
    w = (
        Window.partitionBy("bucket")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    placed = base.withColumn(
        "bin",
        F.floor((F.sum("n_tokens").over(w) - F.col("n_tokens")) / PACK_BUDGET),
    )
    return (
        placed.groupBy("bucket", "bin")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").alias("total_tokens"),
        )
        .orderBy("bucket", "bin")
    )


def decontaminate_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: count, per corpus document, the
    distinct word 8-grams it shares with any document in a held-out
    benchmark set. The synthetic benchmark is built the same way the
    minhash oracle builds provable near-dups: every doc with
    doc_id % BENCH_MOD == 0 contributes its text minus the last word
    (a benchmark quoting corpus text verbatim — the real contamination
    mechanism). Each sampled doc is then guaranteed contaminated (its
    first len-8 8-grams survive in the benchmark copy), so the entry
    is provably non-vacuous at every SF while natural overlaps (the
    generator's planted near-dups of sampled docs) surface too.
    Shingle construction is the same zip_with expression as the dedup
    ops (no UDF); a downstream filter would drop the rows returned
    here."""
    docs = catalog.load(spark, sf_dir, "documents")
    bench = bench_gram_set(docs)
    # rebalanced: the 8-gram zip_with build runs below the first
    # exchange on the scan's small-file splits (no-op at 100 TB; see
    # scale.rebalance_to_parallelism); the bench side stays as-is
    # (1/BENCH_MOD of the rows)
    grams = scale.rebalance_to_parallelism(docs, "doc_id").select(
        "doc_id", F.explode(shingles(F.col("text"), DECONTAM_NGRAM)).alias("gram")
    )
    return (
        grams.join(bench, "gram")  # AQE broadcasts the tiny bench side
        .groupBy("doc_id")
        # shingles() emits distinct grams per doc, so plain count is
        # already "distinct shared grams"
        .agg(F.count(F.lit(1)).alias("n_shared_ngrams"))
        .orderBy("doc_id")
    )


_DUCK_GRAMS = (
    "list_distinct(CASE WHEN len(w) < {k} THEN [array_to_string(w, ' ')] "
    "ELSE list_transform(generate_series(1, len(w) - {km1}), i -> {concat}) END)"
).format(
    k=DECONTAM_NGRAM,
    km1=DECONTAM_NGRAM - 1,
    concat=" || ' ' || ".join(
        f"w[i+{j}]" if j else "w[i]" for j in range(DECONTAM_NGRAM)
    ),
)

DECONTAMINATE_DOCUMENTS_SQL = rf"""
WITH w AS (
  SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\s+') AS w
  FROM documents
),
bw AS (
  SELECT w[1:len(w) - 1] AS w FROM w WHERE doc_id % {BENCH_MOD} = 0
),
bench AS (SELECT DISTINCT unnest({_DUCK_GRAMS}) AS gram FROM bw),
g AS (SELECT doc_id, unnest({_DUCK_GRAMS}) AS gram FROM w)
SELECT doc_id, COUNT(*) AS n_shared_ngrams
FROM g JOIN bench USING (gram)
GROUP BY doc_id
ORDER BY doc_id
"""


_BLOOM_M_BITS = 1 << 17  # 16 KB packed; design constant, see bloom_build
_BLOOM_K = 5


def bloom_decontaminate_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decontamination via a broadcast Bloom filter — the 100 TB path
    for when the benchmark gram set is too big to broadcast raw (10^9
    grams ~ 50 GB raw vs ~1.2 GB packed at 10 bits/key): the corpus
    is NEVER shuffled, each gram checks k bit positions against the
    16 KB packed array riding a 1-row broadcast.

    The entry proves the filter's load-bearing theorem end to end: a
    Bloom filter has ZERO false negatives, so the flagged set must
    contain EVERY exactly-contaminated doc — recall is identically
    1.0, and the oracle states it as a constant next to the exact
    count (the simhash_recall_planted pattern; DuckDB cannot evaluate
    Spark's xxhash64, so precision is pinned in pytest instead:
    >= 0.9 at sf0.01, deterministic given the seeds).

    Scale shape: ONE bounded driver edge (m/64 longs, a design
    constant — bloom_build docstring), one broadcast NLJ against a
    1-row frame, one distinct per side, one join for the recall
    arithmetic. No Python, no corpus shuffle on the bloom side; the
    exact side exists only to verify recall and is the thing this
    operator REPLACES at scale."""
    from dbitool_spark.ops import scale

    docs = catalog.load(spark, sf_dir, "documents")
    bench = bench_gram_set(docs)
    bloom = scale.bloom_build(bench, "gram", m_bits=_BLOOM_M_BITS, k=_BLOOM_K)
    bloom_df = spark.createDataFrame([(bloom,)], "bloom array<bigint>")
    # Two rewrites of the double gram pass were measured and rejected
    # (5-run interleaved medians at sf0.1). (a) Fusing both
    # memberships into one pass (grams LEFT JOIN bench + bloom probe,
    # one per-doc_id aggregate — 3 exchanges -> 2) ran 1.16x the
    # original:
    # the two distincts below reduce AFTER early filters, so they
    # shuffle only the few positive doc_ids, while the fused aggregate
    # carries every gram row through the join stage un-reduced.
    # (b) Persisting the exploded gram stream to share it across the
    # legs ran 1.31x: the ~8-word gram strings make the cache
    # write+read cost more than the second zip_with rebuild. The
    # original shape — rebuild the stream per leg, reduce early — is
    # the measured optimum at this row size: original 2.12s, fused
    # 2.80s, persisted 2.78s.
    grams = scale.rebalance_to_parallelism(docs, "doc_id").select(
        "doc_id", F.explode(shingles(F.col("text"), DECONTAM_NGRAM)).alias("gram")
    )
    flagged = (
        grams.crossJoin(F.broadcast(bloom_df))
        .filter(
            scale.bloom_contains_expr("gram", "bloom", _BLOOM_M_BITS, _BLOOM_K)
        )
        .select("doc_id")
        .distinct()
        .withColumn("__hit", F.lit(1))
    )
    exact = grams.join(bench, "gram").select("doc_id").distinct()
    # Empty exact set => recall is vacuously 1.0 on BOTH engines (the
    # oracle's constant-SELECT over an empty CTE yields the same row),
    # so a corpus with no doc_id % BENCH_MOD == 0 rows mismatches
    # nothing. Non-vacuity at the test SFs is asserted in pytest
    # (tests/test_scale_shapes.py), not by failing the plan: an
    # engine-side assert_true here would diverge from the oracle.
    return exact.join(flagged, "doc_id", "left").agg(
        F.when(F.count(F.lit(1)) == 0, F.lit(1.0))
        .otherwise(
            (F.count("__hit") / F.count(F.lit(1))).cast("double")
        )
        .alias("recall"),
        F.count(F.lit(1)).alias("n_exact"),
    )


BLOOM_DECONTAMINATE_SQL = rf"""
WITH w AS (
  SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\s+') AS w
  FROM documents
),
bw AS (
  SELECT w[1:len(w) - 1] AS w FROM w WHERE doc_id % {BENCH_MOD} = 0
),
bench AS (SELECT DISTINCT unnest({_DUCK_GRAMS}) AS gram FROM bw),
g AS (SELECT doc_id, unnest({_DUCK_GRAMS}) AS gram FROM w),
exact AS (SELECT DISTINCT doc_id FROM g JOIN bench USING (gram))
SELECT CAST(1.0 AS DOUBLE) AS recall, COUNT(*) AS n_exact FROM exact
"""


def deterministic_split_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 80/10/10 train/val/test split by hashed doc_id,
    reported as per-split stats. Membership is a pure function of the
    id — stable across runs, cluster sizes, and row order, which is
    the property a training pipeline needs (a random split is not
    reproducible; a row-number split shuffles globally)."""
    docs = catalog.load(spark, sf_dir, "documents")
    bucket = _split_bucket("doc_id")
    split = (
        F.when(bucket < 80, F.lit("train"))
        .when(bucket < 90, F.lit("val"))
        .otherwise(F.lit("test"))
    )
    return (
        docs.select(split.alias("split"), "n_chars")
        .groupBy("split")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").alias("total_chars"),
        )
        .orderBy("split")
    )


DETERMINISTIC_SPLIT_SQL = f"""
SELECT CASE WHEN b < 80 THEN 'train' WHEN b < 90 THEN 'val' ELSE 'test' END AS split,
       COUNT(*) AS n_docs,
       CAST(SUM(n_chars) AS BIGINT) AS total_chars
FROM (
  SELECT (((doc_id % {SPLIT_PRIME}) * {SPLIT_MULT}) % {SPLIT_PRIME}) % 100 AS b, n_chars
  FROM documents
)
GROUP BY 1
ORDER BY split
"""


def pack_sequences_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence packing: concatenate documents (in deterministic
    doc_id order within a hash bucket) into a running token stream and
    chunk it every PACK_BUDGET tokens — a document's bin is the chunk
    its first token lands in. Returns per-(bucket, bin) fill stats,
    the observability a packing stage needs (bins with total_tokens
    far under budget mean wasted context window).

    One shuffle on bucket; the window sort is per-bucket, so the plan
    parallelizes by PACK_BUCKETS regardless of corpus size."""
    docs = catalog.load(spark, sf_dir, "documents")
    return pack_stats(docs)


PACK_SEQUENCES_SQL = rf"""
WITH base AS (
  SELECT doc_id,
         ((((doc_id % {SPLIT_PRIME}) * {SPLIT_MULT}) % {SPLIT_PRIME}) % 100) % {PACK_BUCKETS} AS bucket,
         len(regexp_split_to_array(lower(trim(text)), '\s+')) AS n_tokens
  FROM documents
),
placed AS (
  SELECT bucket,
         CAST(floor((SUM(n_tokens) OVER (PARTITION BY bucket ORDER BY doc_id
                       ROWS UNBOUNDED PRECEDING) - n_tokens)
                    / {PACK_BUDGET}) AS BIGINT) AS bin,
         n_tokens
  FROM base
)
SELECT bucket, bin, COUNT(*) AS n_docs, CAST(SUM(n_tokens) AS BIGINT) AS total_tokens
FROM placed
GROUP BY bucket, bin
ORDER BY bucket, bin
"""


CHUNK_WINDOW = 32  # tokens per chunk
CHUNK_STRIDE = 24  # start-to-start distance (8-token overlap)


def chunk_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RAG-style document chunking: overlapping CHUNK_WINDOW-token
    windows every CHUNK_STRIDE tokens, one output row per chunk with
    its exact token span. Pure codegen — sequence() generates the
    start offsets, posexplode fans them out; no UDF, no shuffle at
    all until a downstream op needs one (chunking is embarrassingly
    parallel over documents, the ideal 100 TB shape). The final chunk
    is the remainder (>= 1 token), matching how a tokenizer-window
    pipeline slices."""
    docs = catalog.load(spark, sf_dir, "documents")
    toks = F.split(F.lower(F.trim(F.col("text"))), r"\s+")
    n = F.size(toks)
    starts = F.sequence(F.lit(1), n, F.lit(CHUNK_STRIDE))
    return (
        docs.select("doc_id", n.alias("n_tokens"), F.posexplode(starts).alias("chunk_idx", "start"))
        .select(
            "doc_id",
            "chunk_idx",
            "start",
            F.least(F.lit(CHUNK_WINDOW), F.col("n_tokens") - F.col("start") + 1).alias(
                "chunk_tokens"
            ),
        )
        .orderBy("doc_id", "chunk_idx")
    )


CHUNK_DOCUMENTS_SQL = rf"""
WITH base AS (
  SELECT doc_id, len(regexp_split_to_array(lower(trim(text)), '\s+')) AS n_tokens
  FROM documents
)
SELECT doc_id,
       CAST(i AS INTEGER) AS chunk_idx,
       CAST(1 + i * {CHUNK_STRIDE} AS INTEGER) AS start,
       CAST(least({CHUNK_WINDOW}, n_tokens - (1 + i * {CHUNK_STRIDE}) + 1) AS INTEGER) AS chunk_tokens
FROM base, LATERAL unnest(generate_series(0, CAST(ceil(CAST(n_tokens AS DOUBLE) / {CHUNK_STRIDE}) AS BIGINT) - 1)) AS t(i)
WHERE 1 + i * {CHUNK_STRIDE} <= n_tokens
ORDER BY doc_id, chunk_idx
"""


# per-language deterministic keep rates: downsample the dominant
# language, keep the tail (the standard corpus rebalancing move)
SAMPLE_RATES = {"en": 20, "default": 60}  # percent


def sample_stratified_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic stratified sampling: keep a per-language fraction
    of documents chosen by the same multiplicative id-hash as the
    split op — membership is reproducible and cluster-independent,
    unlike rand()-based sampling. Returns per-language sample stats
    (count + id checksum) so the oracle verifies the exact membership
    set, not just the rate."""
    docs = catalog.load(spark, sf_dir, "documents")
    bucket = _split_bucket("doc_id")
    rate = F.when(F.col("lang") == "en", F.lit(SAMPLE_RATES["en"])).otherwise(
        F.lit(SAMPLE_RATES["default"])
    )
    return (
        docs.filter(bucket < rate)
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_sampled"),
            F.sum("doc_id").alias("id_checksum"),
        )
        .orderBy("lang")
    )


SAMPLE_STRATIFIED_SQL = f"""
SELECT lang,
       COUNT(*) AS n_sampled,
       CAST(SUM(doc_id) AS BIGINT) AS id_checksum
FROM (
  SELECT lang, doc_id,
         (((doc_id % {SPLIT_PRIME}) * {SPLIT_MULT}) % {SPLIT_PRIME}) % 100 AS b
  FROM documents
)
WHERE b < CASE WHEN lang = 'en' THEN {SAMPLE_RATES["en"]} ELSE {SAMPLE_RATES["default"]} END
GROUP BY lang
ORDER BY lang
"""


VOCAB_TOPK = 25


def vocab_topk_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus vocabulary head: the VOCAB_TOPK most frequent tokens.
    One explode + one shuffle on the token with map-side partial
    counts (the count table is |vocab|-sized, tiny next to the
    corpus), then a global top-k — orderBy+limit, which Spark
    executes as per-partition TakeOrdered + driver merge, never a
    full sort. Ties break on the token for cross-engine determinism."""
    docs = catalog.load(spark, sf_dir, "documents")
    toks = F.split(F.lower(F.trim(F.col("text"))), r"\s+")
    return (
        docs.select(F.explode(toks).alias("token"))
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.desc("n"), "token")
        .limit(VOCAB_TOPK)
    )


VOCAB_TOPK_SQL = rf"""
SELECT token, COUNT(*) AS n
FROM (
  SELECT unnest(regexp_split_to_array(lower(trim(text)), '\s+')) AS token
  FROM documents
)
GROUP BY token
ORDER BY n DESC, token
LIMIT {VOCAB_TOPK}
"""


# --- weighted corpus mixing ------------------------------------------

# Per-source sampling weights in percent, keyed by source index % 4 —
# the "training mix" a pretraining pipeline applies to rebalance
# sources (books upsampled, web downsampled, ...). Deterministic:
# membership depends only on doc_id, so the mix is reproducible
# across runs and engines.
MIX_WEIGHTS = [100, 50, 25, 10]
# LCG-style decorrelation of sequential ids before the % 100 bucket
# (exact int64 in both engines for ids < ~2^47; at larger scales swap
# xxhash64(id) on the Spark side — the oracle only needs to follow at
# test SFs)
_MIX_MULT = 40503
_MIX_ADD = 1299721


def corpus_mix_weighted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted source mixing: keep each document with its source's
    sampling percentage, decided by a deterministic per-doc bucket.
    Returns the per-source accounting (total vs kept vs effective
    fraction) — the audit table a mix change is reviewed with.
    Shape: one projection to compute membership (no sampling RNG, no
    driver state), one partial-agg count shuffle on source."""
    docs = catalog.load(spark, sf_dir, "documents")
    src_idx = F.substring(F.col("source"), 4, 10).cast("int")
    weight = F.element_at(
        F.array(*[F.lit(w) for w in MIX_WEIGHTS]), src_idx % len(MIX_WEIGHTS) + 1
    )
    kept = mix_keep_condition().cast("int")
    return (
        docs.select("source", weight.alias("weight_pct"), kept.alias("kept"))
        .groupBy("source", "weight_pct")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("kept").alias("n_kept"),
            F.round(F.sum("kept") / F.count(F.lit(1)), 6).alias("kept_frac"),
        )
        .orderBy("source")
    )


def curation_pipeline_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end curation pipeline — the composition no single entry
    exercises: weighted source mix -> exact dedup (keep min doc_id per
    normalized text) -> benchmark decontamination (drop every doc
    sharing an 8-gram with the held-out set) -> deterministic train
    split -> sequence packing, returning the train corpus's per-
    (bucket, bin) packing stats. Every stage reuses the verified
    building block (same constants, same expressions), so a hash match
    against the single CTE-chained oracle proves the stages compose —
    filters feed filters across module boundaries without breaking
    each other's invariants.

    Scale shape: stage chain is filter -> one dedup window (keyed on
    the text hash at 100 TB; the exact string here for oracle
    equality) -> gram explode + broadcast anti-join -> pure-projection
    split filter -> per-bucket packing windows. No stage widens the
    plan: the only shuffles are the dedup key, the gram join, and the
    PACK_BUCKETS window — each already pinned by its standalone
    entry."""
    docs = catalog.load(spark, sf_dir, "documents")
    # stage 1: weighted mix (THE corpus_mix_weighted membership rule).
    # Project down to the carried columns BEFORE the persist below:
    # Catalyst cannot push column pruning through an InMemoryRelation
    # boundary, so an unprojected persist would force the scan to read
    # the full row (plan-pinned in test_curation_pipeline_prunes_columns)
    mixed = docs.filter(mix_keep_condition()).select("doc_id", "text")
    # stage 2: exact dedup — keep the min doc_id per normalized text
    wdup = Window.partitionBy(F.lower(F.trim(F.col("text")))).orderBy("doc_id")
    # persisted: two downstream consumers (the gram stream feeding the
    # contamination join AND the clean anti-join) would otherwise each
    # recompute the dedup window — the engine's fan-out rule
    # (pipeline.py reader-counted persist); released via
    # materialize_release on return
    deduped = (
        mixed.withColumn("rn", F.row_number().over(wdup))
        .filter(F.col("rn") == 1)
        .drop("rn")
        .persist()
    )
    # stage 3: decontamination (THE decontaminate_documents bench set,
    # applied as an anti-join filter instead of an audit count)
    bench = bench_gram_set(docs)
    contaminated = (
        deduped.select(
            "doc_id", F.explode(shingles(F.col("text"), DECONTAM_NGRAM)).alias("gram")
        )
        .join(bench, "gram")  # AQE broadcasts the tiny bench side
        .select("doc_id")
        .distinct()
    )
    clean = deduped.join(contaminated, "doc_id", "left_anti")
    # stage 4: deterministic split, keep train
    train = clean.filter(_split_bucket("doc_id") < 80)
    # stage 5: sequence packing over the surviving train docs
    from dbitool_spark.ops.cache import materialize_release

    return materialize_release(pack_stats(train), deduped)


CURATION_PIPELINE_SQL = rf"""
WITH mixed AS (
  SELECT doc_id, text FROM documents
  WHERE (doc_id * {_MIX_MULT} + {_MIX_ADD}) % 100
        < [{", ".join(str(w) for w in MIX_WEIGHTS)}][(CAST(substr(source, 4, 10) AS INT) % {len(MIX_WEIGHTS)}) + 1]
),
deduped AS (
  SELECT doc_id, text FROM (
    SELECT doc_id, text,
           ROW_NUMBER() OVER (PARTITION BY lower(trim(text)) ORDER BY doc_id) AS rn
    FROM mixed
  ) WHERE rn = 1
),
aw AS (
  SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\s+') AS w FROM documents
),
bw AS (SELECT w[1:len(w) - 1] AS w FROM aw WHERE doc_id % {BENCH_MOD} = 0),
bench AS (SELECT DISTINCT unnest({_DUCK_GRAMS}) AS gram FROM bw),
dw AS (
  SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\s+') AS w FROM deduped
),
g AS (SELECT doc_id, unnest({_DUCK_GRAMS}) AS gram FROM dw),
contaminated AS (SELECT DISTINCT doc_id FROM g JOIN bench USING (gram)),
train AS (
  SELECT d.doc_id, d.text FROM deduped d
  WHERE d.doc_id NOT IN (SELECT doc_id FROM contaminated)
    AND (((d.doc_id % {SPLIT_PRIME}) * {SPLIT_MULT}) % {SPLIT_PRIME}) % 100 < 80
),
base AS (
  SELECT doc_id,
         ((((doc_id % {SPLIT_PRIME}) * {SPLIT_MULT}) % {SPLIT_PRIME}) % 100) % {PACK_BUCKETS} AS bucket,
         len(regexp_split_to_array(lower(trim(text)), '\s+')) AS n_tokens
  FROM train
),
placed AS (
  SELECT bucket,
         CAST(floor((SUM(n_tokens) OVER (PARTITION BY bucket ORDER BY doc_id
                       ROWS UNBOUNDED PRECEDING) - n_tokens)
                    / {PACK_BUDGET}) AS BIGINT) AS bin,
         n_tokens
  FROM base
)
SELECT bucket, bin, COUNT(*) AS n_docs, CAST(SUM(n_tokens) AS BIGINT) AS total_tokens
FROM placed
GROUP BY bucket, bin
ORDER BY bucket, bin
"""


CORPUS_MIX_WEIGHTED_SQL = f"""
WITH w AS (
  SELECT source, doc_id,
         [{", ".join(str(w) for w in MIX_WEIGHTS)}][(CAST(substr(source, 4, 10) AS INT) % {len(MIX_WEIGHTS)}) + 1] AS weight_pct,
         CASE WHEN (doc_id * {_MIX_MULT} + {_MIX_ADD}) % 100
                   < [{", ".join(str(w) for w in MIX_WEIGHTS)}][(CAST(substr(source, 4, 10) AS INT) % {len(MIX_WEIGHTS)}) + 1]
              THEN 1 ELSE 0 END AS kept
  FROM documents
)
SELECT source, weight_pct, COUNT(*) AS n_docs,
       CAST(SUM(kept) AS BIGINT) AS n_kept,
       round(SUM(kept) / CAST(COUNT(*) AS DOUBLE), 6) AS kept_frac
FROM w
GROUP BY source, weight_pct
ORDER BY source
"""


def concat_positional_supplier_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The `concat` pipeline module driver-visibly: zip supplier and
    customer name columns positionally (each side ordered by its
    unique key), truncating to the shorter stream — the reference
    TODO:74-76 "join without any expression". Runs the
    REAL module through a Pipeline (not the helper directly) so the
    registered row proves the module wiring, the per-input orderN=
    args, and ops.scale.with_position's distributed global-position
    shape (range partition + local row_number + bounded offset table —
    no single-partition sort; tests/test_scale_shapes pins the plan).
    The oracle states the same zip as two ROW_NUMBER() subqueries
    joined on position."""
    from dbitool_spark.pipeline import Pipeline

    sup = catalog.load(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    cus = catalog.load(spark, sf_dir, "customer").select("c_custkey", "c_name")
    p = Pipeline(spark)
    p.add_source_df("sup", sup)
    p.add_source_df("cus", cus)
    p.add(
        "concat",
        **{"in": "sup,cus", "order1": "s_suppkey", "order2": "c_custkey",
           "out": "zipped"},
    )
    return (
        p.stream("zipped")
        .select("pos", "s_name", "c_name")
        .orderBy("pos")
    )


CONCAT_POSITIONAL_SQL = """
WITH s AS (
  SELECT ROW_NUMBER() OVER (ORDER BY s_suppkey) AS pos, s_name FROM supplier
),
c AS (
  SELECT ROW_NUMBER() OVER (ORDER BY c_custkey) AS pos, c_name FROM customer
)
SELECT s.pos AS pos, s_name, c_name
FROM s JOIN c USING (pos)
ORDER BY pos
"""


def split_sample_composite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kind-tagged merge of deterministic_split_documents +
    sample_stratified_documents:
    the two realizations of the multiplicative id-hash partitioning
    family in one row — the 80/10/10 split stats (kind='split', key =
    split name, sum_metric = total chars) and the per-language
    stratified sample membership (kind='sample', key = lang,
    sum_metric = exact id checksum, so the hash proves the membership
    SET). Both are single scan-shaped aggregates; the union adds no
    shuffle beyond the constituents'."""
    split = deterministic_split_documents(spark, sf_dir).select(
        F.lit("split").alias("kind"),
        F.col("split").alias("key"),
        F.col("n_docs").alias("n"),
        F.col("total_chars").alias("sum_metric"),
    )
    sample = sample_stratified_documents(spark, sf_dir).select(
        F.lit("sample").alias("kind"),
        F.col("lang").alias("key"),
        F.col("n_sampled").alias("n"),
        F.col("id_checksum").alias("sum_metric"),
    )
    return split.unionByName(sample).orderBy("kind", "key")


SPLIT_SAMPLE_COMPOSITE_SQL = f"""
SELECT 'split' AS kind, split AS key, n_docs AS n, total_chars AS sum_metric
FROM ({DETERMINISTIC_SPLIT_SQL.strip().removesuffix("ORDER BY split")}) sp
UNION ALL
SELECT 'sample' AS kind, lang AS key, n_sampled AS n, id_checksum AS sum_metric
FROM ({SAMPLE_STRATIFIED_SQL.strip().removesuffix("ORDER BY lang")}) sa
ORDER BY kind, key
"""
