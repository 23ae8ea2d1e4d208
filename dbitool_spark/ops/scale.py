"""Scale-shape operators: skew salting and bucketed co-located joins.

These are the two knobs the 100 TB design point needs beyond AQE's
defaults (SURVEY.md §7 M5 "shuffle-partitioned and skew-aware"):

- **Salting** spreads a hot key across `n_salts` synthetic sub-keys.
  For aggregation it is the classic two-phase combine: partial agg on
  (key, salt), final agg on key — the hot key's rows no longer all
  land in one task. For joins, the small side replicates per salt.
  AQE's skew-join split handles sort-merge skew automatically, but
  salting remains the only fix for skewed AGGREGATION and for
  broadcast-ineligible skewed joins, so the engine ships it.
- **Bucketing** pre-shuffles a table once at write time
  (`bucketBy(n, key)` + sortBy): two tables bucketed the same way
  join WITHOUT any exchange — the shuffle is amortized into the
  write, the win for every subsequent co-located join at scale.
"""

from __future__ import annotations

import os
from collections.abc import Callable

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window


#: Logical plan nodes that plan an exchange (a shuffle, a broadcast or
#: a single-partition gather). A Sort plans one only when global and a
#: Repartition only when it shuffles (coalesce does not).
_EXCHANGE_NODES = frozenset({
    "Aggregate", "Join", "Window", "Distinct", "Deduplicate",
    "DeduplicateWithinWatermark", "Intersect", "Except",
    "RepartitionByExpression", "RebalancePartitions", "GlobalLimit",
    "Tail", "Offset", "WindowGroupLimit", "CoGroup", "FlatMapGroupsInPandas",
    "FlatMapCoGroupsInPandas", "FlatMapGroupsInPandasWithState",
    "FlatMapGroupsWithState", "MapGroups",
})


def _exchange_nodes(df: DataFrame) -> list[str]:
    """Names of the nodes of `df`'s analyzed logical plan that plan an
    exchange. Analysis only, on the driver: no job runs."""
    found = []
    stack = [df._jdf.queryExecution().analyzed()]
    while stack:
        node = stack.pop()
        name = node.nodeName()
        if (
            name in _EXCHANGE_NODES
            or (name == "Sort" and getattr(node, "global")())
            or (name == "Repartition" and node.shuffle())
        ):
            found.append(name)
        children = node.children()
        stack.extend(children.apply(i) for i in range(children.size()))
    return found


def rebalance_to_parallelism(df: DataFrame, key: str) -> DataFrame:
    """Hash-rebalance `df` on `key` to the session's default
    parallelism WHEN the frame has fewer input partitions than that —
    a no-op otherwise (guide §2.5 input skew / §6 input split size,
    generalizing the winnow kernel's measured lesson: a small parquet
    file yields 1-2 scan splits and serializes every pre-exchange
    projection and partial aggregation on 1-2 of the session's cores —
    the shingle builds, signature sums, gram explodes and Arrow
    matmuls that dominate the text/embedding operators all run BELOW
    their first exchange).

    Scale behavior: at 100 TB, maxPartitionBytes already yields many
    scan splits, the partition-count probe sees >= parallelism, and
    this is a literal no-op — the exchange exists only in the
    small-input regime where it costs ~MBs and buys the cores back.
    Values are unchanged for every engine operator (aggregates, joins
    and fully-ordered windows are partition-invariant; that invariance
    is what the oracle hash already relies on).

    Contract: `df` must be EXCHANGE-FREE — scans and projections,
    filters and unions of scans. getNumPartitions() on such a frame
    reads the file index driver-side with no job; on a plan that
    already holds an exchange, .rdd under AQE forces
    getFinalPhysicalPlan, which would submit (and discard) the
    upstream shuffle stages. The analyzed plan is checked first
    (driver-side, no job): an aggregate, join, window, global sort,
    shuffling repartition, distinct or limit raises ValueError."""
    bad = _exchange_nodes(df)
    if bad:
        raise ValueError(
            "rebalance_to_parallelism needs an exchange-free frame (scans "
            "plus projections, filters and unions); the plan holds "
            f"{sorted(set(bad))}"
        )
    sc = df.sparkSession.sparkContext
    target = sc.defaultParallelism
    if df.rdd.getNumPartitions() >= target:
        return df
    return df.repartition(target, F.col(key))


def salted(df: DataFrame, n_salts: int = 16, *, mode: str = "row_hash") -> DataFrame:
    """Add a per-row salt column __salt in [0, n_salts).

    mode="row_hash" (default): salt = pmod(xxhash64(whole row), n) —
    no rand(), so retries and resumed stages recompute identical
    salts. LIMITATION: exact-duplicate rows all hash to ONE salt
    bucket, and hot keys in real logs are often exact duplicates — a
    million identical rows still land in a single task.

    mode="spread": mixes spark_partition_id() into the hash, so exact
    duplicates spread across buckets (duplicates of one key rarely sit
    all in one input partition, and even then per-partition re-splits
    under AQE). The salt is then only deterministic per (row,
    partition) — a recomputed partition reproduces its salts, but a
    re-PARTITIONED input may not. That is safe precisely for this
    module's consumers, whose OUTPUT is salt-invariant: salted_agg's
    final re-aggregate collapses the salt (decomposable aggregates),
    and salted_join's result does not depend on which salt a row drew.
    Do not use "spread" where the salt value itself leaks into the
    result."""
    cols = [F.col(c) for c in df.columns]
    if mode == "spread":
        cols.append(F.spark_partition_id())
    elif mode != "row_hash":
        raise ValueError(f"salted mode must be row_hash|spread, got {mode!r}")
    return df.withColumn("__salt", F.pmod(F.xxhash64(*cols), F.lit(n_salts)))


def salted_agg(
    df: DataFrame,
    keys: list[str],
    aggs: Callable[[], list[Column]],
    *,
    n_salts: int = 16,
    salt_mode: str = "row_hash",
) -> DataFrame:
    """Two-phase skew-safe aggregation: stage 1 groups on
    (keys + salt) — a hot key fans out over n_salts tasks — stage 2
    re-aggregates the partials on the true keys (tiny shuffle:
    n_salts rows per key). `aggs` is called twice and must return
    DECOMPOSABLE aggregate columns aliased consistently (sum/count/
    min/max — avg must be expressed as sum+count by the caller).
    salt_mode="spread" for duplicate-heavy hot keys (see salted):
    the final re-aggregate makes the result salt-invariant either
    way."""
    stage1 = salted(df, n_salts, mode=salt_mode).groupBy(*keys, "__salt").agg(*aggs())
    # re-aggregate each partial column by its decomposition rule
    finals = []
    for field in stage1.schema.fields:
        if field.name in keys or field.name == "__salt":
            continue
        name = field.name
        if name.startswith(("sum_", "count_", "n_")):
            finals.append(F.sum(name).alias(name))
        elif name.startswith("min_"):
            finals.append(F.min(name).alias(name))
        elif name.startswith("max_"):
            finals.append(F.max(name).alias(name))
        else:
            raise ValueError(
                f"salted_agg cannot re-combine column {name!r}: use sum_/"
                "count_/n_/min_/max_ prefixes (decomposable aggregates only)"
            )
    return stage1.groupBy(*keys).agg(*finals)


def salted_join(
    skewed: DataFrame,
    small: DataFrame,
    on: str,
    *,
    n_salts: int = 16,
    how: str = "inner",
    salt_mode: str = "row_hash",
) -> DataFrame:
    """Skew-safe equi-join: the skewed side gets a per-row salt, the
    small side is replicated n_salts times (explode), and the join key
    becomes (on, salt) — a hot key spreads over n_salts tasks instead
    of stalling one. Only sensible when `small` is too big to
    broadcast yet small enough to replicate; otherwise rely on AQE
    skew-join.

    how is restricted to the left-preserving family: the replicated
    right side means an UNMATCHED right row would surface once per
    salt under right/full outer — a silently n_salts-times-duplicated
    answer — so those raise. (Matched right rows are fine under every
    allowed type: each left row carries exactly one salt.)"""
    allowed = {
        "inner",
        "left", "leftouter", "left_outer",
        "semi", "leftsemi", "left_semi",
        "anti", "leftanti", "left_anti",
    }
    if how.lower().replace(" ", "") not in allowed:
        raise ValueError(
            f"salted_join does not support how={how!r}: the small side is "
            f"replicated {n_salts}x, so right/full outer joins would emit "
            "each unmatched right row once per salt. Use inner/left/"
            "semi/anti, or swap the sides / use an unsalted join."
        )
    left = salted(skewed, n_salts, mode=salt_mode)
    right = small.withColumn(
        "__salt", F.explode(F.sequence(F.lit(0), F.lit(n_salts - 1)).cast("array<bigint>"))
    )
    return left.join(right, [on, "__salt"], how).drop("__salt")


def with_position(
    df: DataFrame, order_cols: list[str], *, pos_col: str = "pos"
) -> DataFrame:
    """Global 1-based row position under a total order, WITHOUT the
    single-partition sort a bare `row_number().over(Window.orderBy())`
    costs: range-partition on the order columns, row_number within
    each partition, then add cumulative partition-size offsets. The
    only global step is the offset table — one row PER PARTITION, so
    its window is bounded by the cluster's partitioning, not the data
    (the classic distributed zipWithIndex shape, kept declarative so
    Catalyst reuses the range exchange between the count and join
    subtrees). AQE broadcasts the offset table from its runtime size.

    order_cols must be a UNIQUE total order — duplicate keys would
    leave sibling rows' positions nondeterministic across runs."""
    reserved = {pos_col, "__pid", "__ln", "__off"} & set(df.columns)
    if reserved:
        raise ValueError(
            f"with_position: input columns {sorted(reserved)} collide with "
            f"the position machinery (pos_col={pos_col!r} plus internal "
            "__pid/__ln/__off) — rename or project them away first, or pass "
            "a different pos_col"
        )
    cols = [F.col(c) for c in order_cols]
    part = df.repartitionByRange(*cols).withColumn("__pid", F.spark_partition_id())
    w_local = Window.partitionBy("__pid").orderBy(*cols)
    local = part.withColumn("__ln", F.row_number().over(w_local))
    counts = local.groupBy("__pid").agg(F.max("__ln").alias("__n"))
    w_off = Window.orderBy("__pid").rowsBetween(Window.unboundedPreceding, -1)
    offsets = counts.withColumn(
        "__off", F.coalesce(F.sum("__n").over(w_off), F.lit(0))
    ).select("__pid", "__off")
    return (
        local.join(offsets, "__pid")
        .withColumn(pos_col, (F.col("__ln") + F.col("__off")).cast("long"))
        .drop("__pid", "__ln", "__off")
    )


def with_running_total(
    df: DataFrame,
    order_cols: list[str],
    value_col: str,
    *,
    total_col: str = "running_total",
    inclusive: bool = False,
) -> DataFrame:
    """Global prefix sum of `value_col` under a total order, WITHOUT
    the single-partition sort a bare `sum().over(Window.orderBy())`
    costs — the value analogue of with_position (same construction,
    same scale argument): range-partition on the order columns, a
    per-partition window sum, then add cumulative per-partition
    TOTALS. The only global step is the offset table — one row per
    partition, so its window is bounded by the cluster's
    partitioning, not the data; AQE broadcasts it from its runtime
    size. inclusive=False (default) yields the EXCLUSIVE prefix (sum
    of strictly-preceding rows — what packing/allocation needs);
    True includes the row itself.

    order_cols must be a UNIQUE total order — duplicate keys would
    leave sibling rows' prefixes nondeterministic across runs."""
    reserved = {total_col, "__pid", "__ls", "__off"} & set(df.columns)
    if reserved:
        raise ValueError(
            f"with_running_total: input columns {sorted(reserved)} collide "
            f"with the prefix-sum machinery (total_col={total_col!r} plus "
            "internal __pid/__ls/__off) — rename or project them away "
            "first, or pass a different total_col"
        )
    cols = [F.col(c) for c in order_cols]
    part = df.repartitionByRange(*cols).withColumn("__pid", F.spark_partition_id())
    upper = Window.currentRow if inclusive else -1
    w_local = (
        Window.partitionBy("__pid")
        .orderBy(*cols)
        .rowsBetween(Window.unboundedPreceding, upper)
    )
    local = part.withColumn(
        "__ls", F.coalesce(F.sum(value_col).over(w_local), F.lit(0))
    )
    totals = part.groupBy("__pid").agg(F.sum(value_col).alias("__t"))
    w_off = Window.orderBy("__pid").rowsBetween(Window.unboundedPreceding, -1)
    offsets = totals.withColumn(
        "__off", F.coalesce(F.sum("__t").over(w_off), F.lit(0))
    ).select("__pid", "__off")
    return (
        local.join(offsets, "__pid")
        .withColumn(total_col, (F.col("__ls") + F.col("__off")).cast("long"))
        .drop("__pid", "__ls", "__off")
    )


def write_bucketed(
    df: DataFrame,
    table: str,
    bucket_col: str,
    *,
    n_buckets: int = 32,
    sort: bool = True,
    mode: str = "overwrite",
) -> None:
    """Persist `df` as a bucketed (and bucket-sorted) managed table:
    the one-time shuffle that makes every later equi-join/aggregation
    on `bucket_col` exchange-free.

    Overwrite mode is idempotent across PROCESSES, not just sessions:
    a managed table's warehouse directory outlives the in-memory
    catalog that created it, so a fresh session sees
    LOCATION_ALREADY_EXISTS on a name its catalog has never heard of.
    Drop-if-exists clears the catalog entry; the explicit rmtree
    clears the orphaned location (scoped to the session's own
    warehouse dir, never user paths). Gated on mode="overwrite" —
    append/errorifexists/ignore keep their Spark semantics untouched."""
    spark = df.sparkSession
    if mode == "overwrite":
        import shutil
        from urllib.parse import urlparse

        spark.sql(f"DROP TABLE IF EXISTS {table}")
        warehouse = urlparse(spark.conf.get("spark.sql.warehouse.dir")).path
        stale = os.path.join(warehouse, table.lower())
        if os.path.isdir(stale):
            shutil.rmtree(stale, ignore_errors=True)
    writer = df.write.mode(mode).bucketBy(n_buckets, bucket_col)
    if sort:
        writer = writer.sortBy(bucket_col)
    writer.saveAsTable(table)


def bucketed_join(
    spark: SparkSession, left_table: str, right_table: str, on: str, how: str = "inner"
) -> DataFrame:
    """Join two same-bucketed tables: Catalyst sees the matching
    output partitioning and plans a SortMergeJoin with ZERO Exchange
    on either side (verify with .explain — tested).

    The MERGE hint pins that strategy: at 100 TB both sides are far
    over the broadcast threshold so SMJ is what Catalyst picks anyway,
    but at test scale it would broadcast the smaller side — which
    ignores bucketing entirely and would make every plan assertion
    vacuous. Hinting the physical strategy is exactly what bucketing
    is FOR (the partitioning was bought at write time; use it)."""
    return spark.table(left_table).hint("merge").join(
        spark.table(right_table), on, how
    )


# --- broadcast-bounded Bloom membership --------------------------------


def bloom_build(df: DataFrame, col: str, *, m_bits: int, k: int) -> list[int]:
    """Distributed Bloom-filter build over a column: each value sets k
    bit positions (seeded xxhash64 mod m), OR-folded into m/64 packed
    longs with ONE map-side-combinable aggregation. The driver edge is
    bounded BY CONSTRUCTION at m_bits/64 longs — m is a design
    constant chosen for the broadcast budget (m/8 bytes), never a
    function of the data (the memorylimit convention's bounded edge).

    The 100 TB story this enables: a benchmark gram set of 10^9 rows
    is ~50 GB raw — far past broadcast range, so exact stream-static
    decontamination must shuffle the corpus. At 10 bits/key the Bloom
    packs the same membership set into ~1.2 GB, broadcastable, with
    ZERO false negatives (every true contaminated row is still
    caught) and a tunable false-positive rate ~(1-e^(-kn/m))^k that
    only costs harmless extra flags. Seeding: xxhash64(value, i) —
    the tuple-hash form, reproduced exactly by the SQL expression in
    bloom_contains_expr (same arity, same literal type)."""
    pos = F.array(
        *[
            F.pmod(F.xxhash64(F.col(col), F.lit(i)), F.lit(m_bits))
            for i in range(k)
        ]
    )
    n_words = (m_bits + 63) // 64
    rows = (
        df.select(F.explode(pos).alias("p"))
        # p < m_bits <= 2^40 << 2^53: the double division is exact.
        # shiftleft via F.expr — the PySpark wrapper only shifts by a
        # literal; SQL shiftleft shifts by a column (same as the check
        # side in bloom_contains_expr)
        .select(
            (F.col("p") / F.lit(64)).cast("long").alias("w"),
            F.expr(
                "shiftleft(cast(1 as bigint), cast(pmod(p, 64) as int))"
            ).alias("bit"),
        )
        .groupBy("w")
        .agg(F.bit_or("bit").alias("bits"))
        .collect()  # bounded: <= m_bits/64 rows by construction
    )
    arr = [0] * n_words
    for r in rows:
        arr[int(r.w)] = r.bits
    return arr


def bloom_contains_expr(
    value_col: str, bloom_col: str, m_bits: int, k: int
) -> Column:
    """JVM-side membership test against the packed Bloom array (a
    1-row broadcast DataFrame column, NOT a 16k-element plan literal):
    k seeded positions, each checked via element_at + shiftleft mask.
    Built as a SQL expression because PySpark's shiftleft wrapper
    only takes literal shift amounts; SQL shiftleft shifts by a
    column. Stays inside whole-stage codegen — no UDF, no Python."""
    checks = []
    for i in range(k):
        p = f"pmod(xxhash64({value_col}, {i}), {m_bits}L)"
        word = f"element_at({bloom_col}, cast({p} div 64 as int) + 1)"
        mask = f"shiftleft(cast(1 as bigint), cast(pmod({p}, 64) as int))"
        checks.append(f"(({word} & {mask}) != 0)")
    return F.expr(" AND ".join(checks))
