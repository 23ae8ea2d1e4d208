"""Similarity search over embedding columns (array<float>).

Two paths, per the north-star scope (SURVEY.md §7 M5):

- brute-force cosine top-k: exact baseline. The query set must be
  small (it is broadcast); the corpus side streams — one pass, no
  shuffle of the corpus, top-k via per-query window. Cost is
  O(|corpus| * |queries|): correct tool for oracle checks and small
  query batches, wrong tool at 100 TB with many queries.
- LSH-bucketed ANN: deterministic random-hyperplane signatures
  hashed into multiple independent tables; candidates are generated
  only within equal (table, bucket) pairs — bucket join, never
  all-pairs — then exact-ranked. The scale path.

All dot products are pure column expressions (zip_with + aggregate
in double precision): JVM-side, no UDF.
"""

from __future__ import annotations

import hashlib
import struct
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from dbitool_spark.ops.cache import materialize_release


def dot(a: Column, b: Column) -> Column:
    """Dot product of two float arrays, accumulated in double in
    element order (deterministic across runs)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def norm(a: Column) -> Column:
    return F.sqrt(dot(a, a))


def cosine(a: Column, b: Column) -> Column:
    return dot(a, b) / (norm(a) * norm(b))


def brute_force_topk(
    corpus: DataFrame,
    queries: DataFrame,
    *,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str | None = None,
    query_vec_col: str | None = None,
    exclude_self: bool | None = None,
) -> DataFrame:
    """Exact cosine top-k: (query_id, neighbor_id, rank, cos). The
    query side is broadcast (must be small); rank ties break on
    neighbor id for determinism.

    `exclude_self` defaults to auto: self-matches (neighbor_id ==
    query_id) are excluded only when the queries share the corpus id
    space (query_id_col is None — queries drawn from the corpus, where
    a "neighbor" at cos 1.0 is the vector itself). When query ids come
    from a DIFFERENT table via query_id_col, equal ids are coincidence
    between unrelated entities, so nothing is excluded — pass
    exclude_self explicitly to override either way."""
    qid = query_id_col or id_col
    qvec = query_vec_col or vec_col
    if exclude_self is None:
        exclude_self = query_id_col is None
    q = queries.select(F.col(qid).alias("query_id"), F.col(qvec).alias("qv"))
    c = corpus.select(F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("cv"))
    on = F.col("neighbor_id") != F.col("query_id") if exclude_self else F.lit(True)
    scored = (
        c.join(F.broadcast(q), on)
        .withColumn("cos", cosine(F.col("qv"), F.col("cv")))
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", "cos")
    )


def _hyperplanes(n_tables: int, bits: int, dim: int) -> list[list[list[float]]]:
    """Deterministic pseudo-random hyperplanes in [-1, 1]: value =
    sha256(table, bit, dim-index) mapped to a float. No RNG state —
    reproducible across sessions and cluster sizes."""
    planes = []
    for t in range(n_tables):
        table = []
        for b in range(bits):
            vec = []
            for d in range(dim):
                h = hashlib.sha256(struct.pack(">III", t, b, d)).digest()
                (u,) = struct.unpack(">Q", h[:8])
                vec.append((u / 2**64) * 2.0 - 1.0)
            table.append(vec)
        planes.append(table)
    return planes


def _lsh_buckets(
    df: DataFrame, id_col: str, vec_col: str, *, dim: int, n_tables: int, bits: int
) -> DataFrame:
    """(id, vec) -> (id, table, bucket): signature computation as ONE
    Arrow-batched numpy matmul per partition — (rows x dim) @
    (dim x n_tables*bits), sign bits packed per table.

    This is the engine's documented exception to "no Python in the
    hot path": dense linear algebra through per-element JVM lambda
    expressions costs ~dim * tables * bits interpreted evals per row
    (measured ~8s for 5000x64 at 16x4), while one BLAS matmul over an
    Arrow batch is milliseconds. The rest of the LSH pipeline (bucket
    join, cosine rank) stays in the JVM.

    The output id field keeps the INPUT id column's Spark type (the
    mapInPandas schema is built from it, not hardcoded) so string /
    int ids survive the Arrow round-trip; buckets are bigint, and
    bits is capped at 62 so the packed bucket fits int64."""
    if n_tables < 1 or not 1 <= bits <= 62:
        raise ValueError(
            f"invalid LSH shape: need n_tables >= 1 and 1 <= bits <= 62 "
            f"(bucket packs into int64), got {n_tables}x{bits}"
        )
    id_type = df.schema[id_col].dataType.simpleString()
    planes = _hyperplanes(n_tables, bits, dim)
    w = np.array(planes, dtype=np.float64).reshape(n_tables * bits, dim).T  # dim x (t*b)
    weights = [1 << (bits - 1 - b) for b in range(bits)]

    def assign(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if not len(pdf):
                continue
            mat = np.vstack(pdf[vec_col].map(np.asarray))  # rows x dim
            signs = (mat @ w) > 0  # rows x (tables*bits)
            signs = signs.reshape(len(pdf), n_tables, bits)
            buckets = (signs * np.array(weights, dtype=np.int64)).sum(axis=2)  # rows x tables
            out = pd.DataFrame(
                {
                    "id": pdf[id_col].to_numpy().repeat(n_tables),
                    "table": np.tile(np.arange(n_tables), len(pdf)),
                    "bucket": buckets.reshape(-1),
                }
            )
            yield out

    return df.select(F.col(id_col), F.col(vec_col)).mapInPandas(
        assign, schema=f"id {id_type}, table int, bucket long"
    )


def lsh_topk(
    corpus: DataFrame,
    queries: DataFrame,
    *,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    n_tables: int = 16,
    bits: int = 4,
    exclude_self: bool = True,
) -> DataFrame:
    """Approximate cosine top-k via random-hyperplane LSH.

    Queries and corpus share `id_col`'s id space (the common case:
    queries are a subset of the corpus), so self-matches are excluded
    by default; pass exclude_self=False when the query ids are an
    unrelated namespace where equal ids are coincidence.

    Signature per table = `bits` sign bits of hyperplane dot products
    packed into an int bucket id. A corpus vector is a candidate for a
    query iff they share a bucket in at least one table; candidates
    are exact-ranked. P(same bit) = 1 - angle/pi, so multi-table
    OR-ing recovers high recall while each join stays bucket-local —
    at 100 TB the candidate join shuffles on (table, bucket), and
    bucket skew is handled by AQE skew-join.

    Returns (query_id, neighbor_id, rank, cos) like brute_force_topk;
    rank is within retrieved candidates (approximate top-k).

    Tuning: recall ~= 1 - (1 - p^bits)^n_tables with p = 1 - angle/pi.
    The 16x4 default targets corpora whose true neighbors sit at
    modest cosine (~0.3, p ~ 0.6): recall ~0.87 on the test data. For
    high-similarity regimes (near-dup search at cos >= 0.9) use fewer
    tables of MORE bits (e.g. 8x8) — buckets stay selective and the
    candidate join prunes harder.
    """
    c = _lsh_buckets(corpus, id_col, vec_col, dim=dim, n_tables=n_tables, bits=bits)
    q = _lsh_buckets(queries, id_col, vec_col, dim=dim, n_tables=n_tables, bits=bits)
    pairs = (
        c.select(F.col("id").alias("neighbor_id"), "table", "bucket")
        .join(q.select(F.col("id").alias("query_id"), "table", "bucket"), ["table", "bucket"])
        .filter(
            F.col("neighbor_id") != F.col("query_id") if exclude_self else F.lit(True)
        )
        .select("query_id", "neighbor_id")
        .distinct()
    )
    cv = corpus.select(F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("cv"))
    qv = queries.select(F.col(id_col).alias("query_id"), F.col(vec_col).alias("qv"))
    candidates = (
        pairs.join(cv, "neighbor_id")
        .join(F.broadcast(qv), "query_id")
        .withColumn("cos", cosine(F.col("qv"), F.col("cv")))
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos"), F.asc("neighbor_id"))
    return (
        candidates.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", "cos")
    )


def _euclidean_sq(mat: np.ndarray, centroids: np.ndarray) -> np.ndarray:
    """Pairwise squared L2 distances via the matmul identity
    ||a-c||^2 = ||a||^2 + ||c||^2 - 2*a.c — peak memory O(N*C + N*dim)
    and one BLAS gemm, instead of the naive (mat[:,None]-cent[None])**2
    broadcast that materializes an N*C*dim cube (tens of GB per Arrow
    batch at 4096 centroids x 512 dims). Cancellation can produce tiny
    negative values; clamp to 0 so downstream sqrt/argsort are safe."""
    d2 = (
        (mat * mat).sum(axis=1)[:, None]
        + (centroids * centroids).sum(axis=1)[None, :]
        - 2.0 * (mat @ centroids.T)
    )
    return np.maximum(d2, 0.0, out=d2)


def _lloyd_kmeans(
    train: np.ndarray, k: int, *, max_iter: int, seed: int
) -> np.ndarray:
    """Seeded k-means++ init + Lloyd iterations over an in-memory
    sample (bounded by ivf_topk's max_train). Vectorized numpy; stops
    early when assignments are stable."""
    rng = np.random.default_rng(seed)
    n = len(train)
    k = min(k, n)
    # k-means++ seeding
    centers = [train[rng.integers(n)]]
    d2 = ((train - centers[0]) ** 2).sum(axis=1)
    for _ in range(1, k):
        probs = d2 / d2.sum() if d2.sum() > 0 else np.full(n, 1.0 / n)
        centers.append(train[rng.choice(n, p=probs)])
        d2 = np.minimum(d2, ((train - centers[-1]) ** 2).sum(axis=1))
    c = np.vstack(centers)
    assign = None
    for _ in range(max_iter):
        # deliberately NOT _euclidean_sq: the training trajectory is
        # part of the deterministic seed contract (k-means++ draws and
        # per-iteration argmins feed forward), and the gemm identity's
        # different fp rounding could shift it. Bounded by max_train;
        # cap max_train rather than changing the kernel if memory bites
        dist = ((train[:, None, :] - c[None, :, :]) ** 2).sum(axis=2)
        new_assign = dist.argmin(axis=1)
        if assign is not None and (new_assign == assign).all():
            break
        assign = new_assign
        for j in range(k):
            members = train[assign == j]
            if len(members):
                c[j] = members.mean(axis=0)
    return c


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    *,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_centroids: int = 16,
    n_probe: int = 4,
    seed: int = 42,
    max_train: int = 100_000,
    max_iter: int = 10,
    exclude_self: bool = True,
) -> DataFrame:
    """IVF (inverted-file) approximate top-k: k-means partitions the
    corpus into `n_centroids` cells; a query only scans its `n_probe`
    nearest cells. The other classic ANN scale path next to LSH —
    better recall/selectivity on clustered data, at the cost of a
    training pass.

    Scale shape: k-means trains driver-side on a seeded sample capped
    at `max_train` rows — the FAISS IVF recipe: centroid quality
    saturates long before the full corpus, so bounded-sample training
    plus distributed assignment beats running Lloyd's as `max_iter`
    cluster-wide jobs (MLlib) both at 100 TB and at bench scale. Cell
    assignment is one Arrow-batched matmul per partition, and the
    probe is an equi-join on cell id — candidates shuffle on the cell
    key, never all-pairs. Deterministic via the fixed seed.

    Returns (query_id, neighbor_id, rank, cos) within probed cells.
    Self-match exclusion follows lsh_topk's contract: queries share
    id_col's id space by default; exclude_self=False for unrelated
    query id namespaces. The id field keeps the input column's Spark
    type through the mapInPandas cell assignment (schema derived, not
    hardcoded).
    """
    id_type = corpus.schema[id_col].dataType.simpleString()
    sampled = corpus.select(F.col(vec_col).alias("v"))
    n_corpus = sampled.count()
    if n_corpus > max_train:
        sampled = sampled.sample(fraction=max_train / n_corpus, seed=seed)
    train = np.vstack(
        [np.asarray(r.v) for r in sampled.collect()]
    ).astype(np.float64)
    centroids = _lloyd_kmeans(train, n_centroids, max_iter=max_iter, seed=seed)

    def cell_assigner(n_cells: int):
        def assign(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            for pdf in batches:
                if not len(pdf):
                    continue
                mat = np.vstack(pdf["v"].map(np.asarray)).astype(np.float64)
                # nearest centroids by euclidean distance (gemm
                # identity — never the N x C x dim broadcast cube)
                d2 = _euclidean_sq(mat, centroids)
                nearest = np.argsort(d2, axis=1)[:, :n_cells]
                yield pd.DataFrame(
                    {
                        "id": pdf["id"].to_numpy().repeat(n_cells),
                        "cell": nearest.reshape(-1),
                    }
                )

        return assign

    c_cells = corpus.select(
        F.col(id_col).alias("id"), F.col(vec_col).alias("v")
    ).mapInPandas(cell_assigner(1), schema=f"id {id_type}, cell long")
    q_cells = queries.select(
        F.col(id_col).alias("id"), F.col(vec_col).alias("v")
    ).mapInPandas(cell_assigner(n_probe), schema=f"id {id_type}, cell long")

    pairs = (
        c_cells.withColumnRenamed("id", "neighbor_id")
        .join(q_cells.withColumnRenamed("id", "query_id"), "cell")
        .filter(
            F.col("neighbor_id") != F.col("query_id") if exclude_self else F.lit(True)
        )
        .select("query_id", "neighbor_id")
        .distinct()
    )
    cv = corpus.select(F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("cv"))
    qv = queries.select(F.col(id_col).alias("query_id"), F.col(vec_col).alias("qv"))
    candidates = (
        pairs.join(cv, "neighbor_id")
        .join(F.broadcast(qv), "query_id")
        .withColumn("cos", cosine(F.col("qv"), F.col("cv")))
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos"), F.asc("neighbor_id"))
    return (
        candidates.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", "cos")
    )


def kmeans_distributed(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    *,
    k: int = 8,
    iters: int = 2,
    centroid_updates: str = "auto",
) -> DataFrame:
    """DISTRIBUTED Lloyd's k-means over an embedding column — the
    iterative-algorithm family (unlike _lloyd_kmeans above, which
    trains on a bounded driver sample for IVF, this assigns and
    updates over the FULL corpus).

    Per iteration:
    - assignment: the k centroids (a k-row DataFrame built driver-side
      — k*dim doubles, the documented bounded edge of every k-means
      implementation) cross-join the vectors; Spark picks
      BroadcastNestedLoopJoin from the 8-row side on its own, so the
      corpus never shuffles. Squared-L2 via zip_with/aggregate in
      double; argmin = one per-vector window ordered (dist, cid) for
      deterministic ties.
    - update: posexplode to (cid, dim_idx, x) -> groupBy(cid, idx)
      avg — ONE shuffle of corpus*dim rows with map-side partial
      aggregation, the canonical MLlib shape. Empty clusters keep
      their previous centroid (deterministic; matches the oracle's
      COALESCE). How the k-row centroid table is rebuilt is the
      centroid_updates knob: 'driver' collects the k*dim result
      (bounded; keeps the run exactly SQL-expressible for the oracle),
      'cluster' rebuilds it executor-side and localCheckpoints it per
      round — no centroid values ever cross the driver, lineage stays
      flat, so production iteration counts don't accumulate plan depth
      or driver round-trips. 'auto' picks driver for iters<=2 (the
      registered oracle entry) and cluster beyond. Identical math and
      shuffle shape either way — tests/test_llm_ops pins parity.

    Deterministic end to end: seeds are the k smallest ids, no RNG —
    so the whole 2-iteration run is exactly SQL-expressible and the
    DuckDB oracle (plans/llm_ops.KMEANS_EMBEDDINGS_SQL) unrolls it.
    Returns final (cluster_id, n_vecs, inertia) per non-empty cluster.
    """
    from dbitool_spark.ops.scale import rebalance_to_parallelism

    spark = df.sparkSession
    # persisted: every iteration reads vec twice (assignment + update)
    # plus the seed collect and the final assignment — without the
    # persist each action re-scans and re-casts the source (the
    # engine's reader-counted fan-out rule); released before return.
    # Rebalanced first: every assignment pass (the interpreted
    # zip_with distance over corpus x k rows) runs on the persisted
    # frame's partition count, which for a small-file scan is 1-2
    # (no-op at scale; see rebalance_to_parallelism)
    vec = rebalance_to_parallelism(
        df.select(
            F.col(id_col).alias("vec_id"),
            F.col(vec_col).cast("array<double>").alias("v"),
        ),
        "vec_id",
    ).persist()
    try:
        seeds = vec.orderBy("vec_id").limit(k).collect()
        if not seeds:
            raise ValueError("kmeans_distributed: input has no rows")
        if len(seeds) < k:
            raise ValueError(
                f"kmeans_distributed: k={k} exceeds input rows ({len(seeds)}); "
                "pass k <= row count"
            )
    except Exception:
        vec.unpersist()
        raise
    dim = len(seeds[0].v)
    cents: list[tuple[int, list[float]]] = [(i, list(r.v)) for i, r in enumerate(seeds)]

    sq_dist = F.aggregate(
        F.zip_with("v", "c", lambda a, b: (a - b) * (a - b)),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )

    def assign(cdf: DataFrame) -> DataFrame:
        # argmin by (d, cid) as a min-of-struct AGGREGATION, not a
        # row_number window (aggregate before you shuffle): a window
        # would shuffle and sort all corpus*k scored rows per
        # iteration; the grouped min carries one partial struct per
        # vec_id through map-side combine, so the exchange moves
        # |corpus| rows instead of |corpus|*k. Selection equals a
        # window's orderBy("d", "cid") first row: struct ordering is
        # lexicographic (d, then cid — cid is unique per group, so the
        # trailing v is never compared).
        return (
            vec.crossJoin(cdf)
            .withColumn("d", sq_dist)
            .groupBy("vec_id")
            .agg(F.min(F.struct("d", "cid", "v")).alias("m"))
            .select(
                "vec_id",
                F.col("m.cid").alias("cid"),
                F.col("m.d").alias("d"),
                F.col("m.v").alias("v"),
            )
        )

    if centroid_updates not in ("auto", "driver", "cluster"):
        raise ValueError(
            f"centroid_updates must be auto|driver|cluster, got {centroid_updates!r}"
        )
    if centroid_updates == "auto":
        centroid_updates = "driver" if iters <= 2 else "cluster"
    schema = "cid int, c array<double>"
    try:
        if centroid_updates == "driver":
            # driver-update path: k*dim doubles collect per iteration —
            # bounded and exactly SQL-expressible, which is what lets
            # the registered 2-iteration entry unroll as DuckDB CTEs
            for _ in range(iters):
                a = assign(spark.createDataFrame(cents, schema))
                upd = (
                    a.select("cid", F.posexplode("v").alias("idx", "x"))
                    .groupBy("cid", "idx")
                    .agg(F.avg("x").alias("m"))
                    .collect()
                )
                by_cid: dict[int, dict[int, float]] = {}
                for r in upd:
                    by_cid.setdefault(r.cid, {})[r.idx] = r.m
                cents = [
                    (cid, [by_cid[cid][p] for p in range(dim)] if cid in by_cid else old)
                    for cid, old in cents
                ]
            cdf = spark.createDataFrame(cents, schema)
        else:
            # cluster-side update path for production iteration counts:
            # the SAME per-dim avg (identical math, identical shuffle
            # with map-side partial agg), but the k-row centroid table
            # is rebuilt executor-side (collect_list of dim structs per
            # cid, idx-sorted) and localCheckpoint-ed each round — the
            # checkpoint truncates the lineage so iteration N's plan
            # doesn't re-embed iterations 1..N-1, and centroid values
            # never round-trip through the driver. Per iteration the
            # driver only schedules jobs; the treeAggregate-style
            # alternative moves the same corpus*dim rows, so this is
            # the shuffle-minimal shape at any iters.
            cdf = spark.createDataFrame(cents, schema)
            for _ in range(iters):
                a = assign(cdf)
                new = (
                    a.select("cid", F.posexplode("v").alias("idx", "x"))
                    .groupBy("cid", "idx")
                    .agg(F.avg("x").alias("m"))
                    .groupBy("cid")
                    .agg(
                        F.transform(
                            F.array_sort(F.collect_list(F.struct("idx", "m"))),
                            lambda s: s["m"],
                        ).alias("c_new")
                    )
                )
                # empty clusters keep their previous centroid (absent
                # cid on the new side) — same rule as the driver path
                cdf = (
                    cdf.join(new, "cid", "left")
                    .select("cid", F.coalesce("c_new", "c").alias("c"))
                    .localCheckpoint()
                )
    except Exception:
        vec.unpersist()
        raise
    final = assign(cdf)
    result = (
        final.groupBy(F.col("cid").alias("cluster_id"))
        .agg(
            F.count(F.lit(1)).alias("n_vecs"),
            F.round(F.sum("d"), 4).alias("inertia_r"),
        )
        .orderBy("cluster_id")
    )
    return materialize_release(result, vec)


def embedding_near_dup_pairs(
    df: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    threshold: float = 0.95,
    n_tables: int = 8,
    bits: int = 8,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs (id_a < id_b,
    cos >= threshold), LSH-bucketed: high-cosine pairs collide in at
    least one table with high probability, so the candidate join
    stays bucket-local.

    The bucket table is persisted before the self-join (Catalyst does
    not reuse exchanges across self-join aliases, so without it the
    Arrow matmul bucket assignment runs once per side) and released
    before returning: the pair result is eagerly materialized
    (ops.cache.materialize_release) so repeated calls do not
    accumulate executor storage."""
    sig = _lsh_buckets(
        df, id_col, vec_col, dim=dim, n_tables=n_tables, bits=bits
    ).persist()
    left, right = sig.alias("l"), sig.alias("r")
    pairs = (
        left.join(
            right,
            (F.col("l.table") == F.col("r.table"))
            & (F.col("l.bucket") == F.col("r.bucket"))
            & (F.col("l.id") < F.col("r.id")),
        )
        .select(F.col("l.id").alias("id_a"), F.col("r.id").alias("id_b"))
        .distinct()
    )
    # Norms are computed once per vector, not once per candidate pair:
    # higher-order-function lambdas are interpreted per element, so at
    # c candidates the naive cosine costs 3c aggregations of dim terms
    # while this shape costs n + c (n vectors << c candidates).
    normed = df.select(
        F.col(id_col).alias("id"),
        F.col(vec_col).alias("v"),
        norm(F.col(vec_col)).alias("nrm"),
    ).persist()
    va = normed.select(
        F.col("id").alias("id_a"), F.col("v").alias("va"), F.col("nrm").alias("na")
    )
    vb = normed.select(
        F.col("id").alias("id_b"), F.col("v").alias("vb"), F.col("nrm").alias("nb")
    )
    result = (
        pairs.join(va, "id_a")
        .join(vb, "id_b")
        .withColumn("cos", dot(F.col("va"), F.col("vb")) / (F.col("na") * F.col("nb")))
        .filter(F.col("cos") >= threshold)
        .select("id_a", "id_b", "cos")
    )
    return materialize_release(result, sig, normed)


# --- int8 quantization (memory-bound ANN at scale) ---------------------

QUANT_LEVELS = 127


def quantize_int8(
    df: DataFrame,
    vec_col: str,
    *,
    out_col: str = "qvec",
    levels: int = QUANT_LEVELS,
    scale: str = "l2",
) -> DataFrame:
    """Per-vector symmetric int8 quantization: q_i = round(x_i *
    levels / s), integers in [-levels, levels] (all-zero vectors
    quantize to zeros). scale='l2' (default) quantizes the UNIT
    vector (s = ||x||₂), so integer dots approximate levels²·cosine —
    measured recall@5 vs exact cosine is ~0.98 on the test corpus;
    scale='maxabs' (s = max|x_i|) preserves per-element resolution
    instead (the FAISS-SQ shape) and ranks by unnormalized products.
    This is the standard 4x memory cut for embedding stores — at
    100 TB the ANN working set is usually memory-bound, not
    compute-bound, so int8 residency buys more than any kernel tweak.

    Cross-engine determinism by IEEE arithmetic: every step is an
    exactly-rounded double op applied in a fixed order — the squared
    norm accumulates left-to-right in element order in Spark, DuckDB
    (list_sum) and CPython alike (pinned bit-for-bit in pytest),
    sqrt/multiply/divide are exactly rounded, and both engines'
    round() halves away from zero — so the quantized INTEGERS are
    bit-identical across engines and everything computed from them
    (integer dot products, ranks) hashes exactly. One pure column
    projection, no shuffle, no Python."""
    if scale == "l2":
        s = F.sqrt(
            F.aggregate(
                F.transform(
                    F.col(vec_col), lambda x: x.cast("double") * x.cast("double")
                ),
                F.lit(0.0),
                lambda acc, x: acc + x,
            )
        )
    elif scale == "maxabs":
        s = F.array_max(F.transform(F.col(vec_col), lambda x: F.abs(x.cast("double"))))
    else:
        raise ValueError(f"unknown quantization scale {scale!r}")
    q = F.when(s == 0.0, F.transform(F.col(vec_col), lambda x: F.lit(0).cast("long"))).otherwise(
        F.transform(
            F.col(vec_col),
            lambda x: F.round(x.cast("double") * F.lit(float(levels)) / s, 0).cast("long"),
        )
    )
    return df.withColumn(out_col, q)


def int_dot(a: Column, b: Column) -> Column:
    """Integer dot product of two long arrays — exact, associative,
    order-free (unlike float summation): the reason quantized scoring
    can hash bit-identically across engines and partitionings."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )


def quantized_topk(
    corpus: DataFrame,
    queries: DataFrame,
    *,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    scale: str = "l2",
) -> DataFrame:
    """Brute-force top-k by INTEGER dot product over int8-quantized
    vectors: (query_id, neighbor_id, rank, dot). Same scale contract
    as brute_force_topk (small collected query side, one corpus pass,
    per-query window) with a 4x smaller residency and an exact-integer
    score — no float in the hot loop at all. With the default l2
    scale the integer dot approximates levels²·cosine (recall@5 ~0.98
    vs the float cosine top-k, pinned in pytest).

    Whole batches go to vectorized native code: the scoring is one
    Arrow-batched int64 matmul per partition with a batch-local top-k,
    not a broadcast-NLJ + per-element interpreted int_dot lambda over
    |corpus| x |queries| rows. At bench scale the two are within
    noise (1.28s vs 1.24s medians at sf0.1 — fixed overhead
    dominates 30k dot products); the rewrite is for the 100 TB
    design point, where the per-element interpreted lambda costs
    ~dim x |queries| evals per corpus row while one BLAS gemm per
    Arrow batch is milliseconds (the _lsh_buckets precedent, whose
    measured gap was ~8s vs ms at 5000x64). It is EXACT by the same
    argument the operator's docstring already makes: integer
    addition is associative and order-free, so
    the numpy matmul produces bit-identical dots to the left-to-right
    lambda (float kernels like brute_force_topk must NOT do this —
    their summation order is the cross-engine contract). The
    batch-local top-k loses nothing: every global top-k row is a
    member of its own batch's top-k under the same (dot DESC, id ASC)
    order, and the final window re-ranks the surviving candidates
    exactly as before. The quantization itself stays a JVM projection
    (its IEEE bit-for-bit determinism is pinned in pytest); the query
    side collects AFTER quantizing — |queries| rows, the operator's
    documented bounded edge (brute_force_topk broadcasts the same
    frame)."""
    qc = quantize_int8(corpus, vec_col, scale=scale)
    qrows = (
        quantize_int8(queries, vec_col, scale=scale)
        .select(F.col(id_col).alias("query_id"), F.col("qvec").alias("qq"))
        .collect()
    )
    id_type = corpus.schema[id_col].dataType.simpleString()
    out_schema = f"query_id {id_type}, neighbor_id {id_type}, dot long"
    # NULL ids and NULL vectors are dropped up front: the numpy path
    # would pass a NULL id through the != mask and raise on a NULL
    # vector, while SQL scoring drops NULL ids via `!=` and yields a
    # null dot for a NULL vector. No current fixture produces nulls;
    # this pins the SQL semantics.
    c = qc.select(F.col(id_col).alias("nid"), F.col("qvec").alias("cq")).filter(
        F.col("nid").isNotNull() & F.col("cq").isNotNull()
    )
    if not qrows:
        scored = corpus.sparkSession.createDataFrame([], out_schema)
    else:
        qids = [r.query_id for r in qrows]
        qmat = np.array([r.qq for r in qrows], dtype=np.int64)  # Q x dim

        def score(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            for pdf in batches:
                if not len(pdf):
                    continue
                ids = pdf["nid"].to_numpy()
                mat = np.vstack(pdf["cq"].map(np.asarray)).astype(np.int64)
                dots = mat @ qmat.T  # rows x Q, exact int64
                out_q, out_n, out_d = [], [], []
                for qi, qid in enumerate(qids):
                    mask = ids != qid  # the operator's self-exclusion
                    cand_ids, cand_dots = ids[mask], dots[mask, qi]
                    # batch-local top-k by (dot DESC, id ASC): lexsort
                    # keys are last-key-primary, so (ids, -dots)
                    order = np.lexsort((cand_ids, -cand_dots))[:k]
                    out_q.extend([qid] * len(order))
                    out_n.extend(cand_ids[order])
                    out_d.extend(cand_dots[order])
                yield pd.DataFrame(
                    {"query_id": out_q, "neighbor_id": out_n, "dot": out_d}
                )

        scored = c.mapInPandas(score, schema=out_schema)
    w = Window.partitionBy("query_id").orderBy(F.desc("dot"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", "dot")
    )
