"""Scalar expression surface + remaining set/grouping operators
(SURVEY.md §2.5 rows the r1 verdict graded partial: string/date/array
function layer, intersect/except, cube).

Each query exercises a family of pyspark.sql.functions against the
equivalent DuckDB expressions — all plain projections/aggregations, so
any mismatch isolates a scalar-semantics divergence rather than a
plan bug. Where engine semantics genuinely differ (e.g. Spark substr
vs DuckDB on negative indices), the query pins the common subset.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from dbitool_spark import catalog


def string_functions_part(spark: SparkSession, sf_dir: str) -> DataFrame:
    """String function family over part names: case, substring,
    length, replace, regexp, split/concat, trim/pad."""
    part = catalog.load(spark, sf_dir, "part")
    name = F.col("p_name")
    return part.select(
        "p_partkey",
        F.upper(name).alias("upper_name"),
        F.lower(name).alias("lower_name"),
        F.substring(name, 1, 8).alias("prefix8"),
        F.length(name).alias("name_len"),
        F.regexp_replace(name, r"[aeiou]", "_").alias("devoweled"),
        F.size(F.split(name, " ")).alias("n_words"),
        F.concat_ws("|", F.split(name, " ")).alias("piped"),
        F.lpad(F.col("p_brand"), 12, ".").alias("brand_padded"),
        F.when(name.rlike("^[a-m]"), "first-half").otherwise("second-half").alias("alpha_half"),
    ).orderBy("p_partkey")


STRING_FUNCTIONS_PART_SQL = r"""
SELECT p_partkey,
       upper(p_name) AS upper_name,
       lower(p_name) AS lower_name,
       substring(p_name, 1, 8) AS prefix8,
       length(p_name) AS name_len,
       regexp_replace(p_name, '[aeiou]', '_', 'g') AS devoweled,
       len(string_split(p_name, ' ')) AS n_words,
       array_to_string(string_split(p_name, ' '), '|') AS piped,
       lpad(p_brand, 12, '.') AS brand_padded,
       CASE WHEN regexp_matches(p_name, '^[a-m]') THEN 'first-half' ELSE 'second-half' END AS alpha_half
FROM part
ORDER BY p_partkey
"""


def date_functions_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Date/time function family over order dates: extract parts,
    truncation, date arithmetic, day-of-week, formatting."""
    orders = catalog.load(spark, sf_dir, "orders")
    d = F.col("o_orderdate")
    return orders.select(
        "o_orderkey",
        F.year(d).alias("yr"),
        F.month(d).alias("mo"),
        F.dayofmonth(d).alias("dom"),
        F.quarter(d).alias("qtr"),
        F.dayofweek(d).alias("dow"),  # Sunday=1 in both engines
        F.date_format(d, "yyyy-MM").alias("ym"),
        F.date_format(F.date_trunc("month", d), "yyyy-MM-dd").alias("month_start"),
        F.datediff(F.lit("2002-01-01").cast("timestamp_ntz"), d).alias("days_to_2002"),
        F.date_format(F.date_add(d.cast("date"), 90), "yyyy-MM-dd").alias("plus_90d"),
    ).orderBy("o_orderkey")


DATE_FUNCTIONS_ORDERS_SQL = """
SELECT o_orderkey,
       year(o_orderdate) AS yr,
       month(o_orderdate) AS mo,
       day(o_orderdate) AS dom,
       quarter(o_orderdate) AS qtr,
       dayofweek(o_orderdate) + 1 AS dow,
       strftime(o_orderdate, '%Y-%m') AS ym,
       strftime(date_trunc('month', o_orderdate), '%Y-%m-%d') AS month_start,
       datediff('day', o_orderdate, TIMESTAMP '2002-01-01 00:00:00') AS days_to_2002,
       strftime(CAST(o_orderdate AS DATE) + INTERVAL 90 DAY, '%Y-%m-%d') AS plus_90d
FROM orders
ORDER BY o_orderkey
"""


def array_functions_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Array function family over embedding vectors: size, slice,
    element access, filter/transform counts, min/max aggregation."""
    emb = catalog.load(spark, sf_dir, "embeddings")
    v = F.col("embedding")
    return emb.select(
        "vec_id",
        F.size(v).alias("dim"),
        F.round(F.element_at(v, 1).cast("double"), 6).alias("first_r"),
        F.round(F.element_at(v, -1).cast("double"), 6).alias("last_r"),
        F.size(F.filter(v, lambda x: x > 0)).alias("n_positive"),
        F.round(F.array_max(v).cast("double"), 6).alias("max_r"),
        F.round(F.array_min(v).cast("double"), 6).alias("min_r"),
        F.round(F.aggregate(F.slice(v, 1, 8), F.lit(0.0), lambda a, x: a + x.cast("double")), 6).alias("head8_sum_r"),
    ).orderBy("vec_id")


ARRAY_FUNCTIONS_EMBEDDINGS_SQL = """
SELECT vec_id,
       len(embedding) AS dim,
       round(CAST(embedding[1] AS DOUBLE), 6) AS first_r,
       round(CAST(embedding[-1] AS DOUBLE), 6) AS last_r,
       len(list_filter(embedding, x -> x > 0)) AS n_positive,
       round(CAST(list_max(embedding) AS DOUBLE), 6) AS max_r,
       round(CAST(list_min(embedding) AS DOUBLE), 6) AS min_r,
       round(list_sum(list_transform(embedding[1:8], x -> CAST(x AS DOUBLE))), 6) AS head8_sum_r
FROM embeddings
ORDER BY vec_id
"""


def brand_type_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE grouping sets over part (brand x size-bucket): all four
    grouping combinations in one pass, NULL markers coalesced for
    well-defined hashing (same convention as revenue_rollup)."""
    part = catalog.load(spark, sf_dir, "part")
    # integer division: CAST(double AS INT) truncates in Spark but
    # ROUNDS in DuckDB — `div` sidesteps the divergence entirely
    bucket = F.expr("p_size div 10").alias("size_bucket")
    return (
        part.select("p_brand", bucket, "p_retailprice")
        .cube("p_brand", "size_bucket")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("p_retailprice").cast("decimal(18,2)"))
            .cast("decimal(18,2)")
            .cast("double")
            .alias("sum_price"),
        )
        .select(
            F.coalesce("p_brand", F.lit("ALL")).alias("brand"),
            F.coalesce(F.col("size_bucket").cast("string"), F.lit("ALL")).alias("bucket"),
            "n",
            "sum_price",
        )
        .orderBy("brand", "bucket")
    )


BRAND_TYPE_CUBE_SQL = """
SELECT COALESCE(p_brand, 'ALL') AS brand,
       COALESCE(CAST(size_bucket AS VARCHAR), 'ALL') AS bucket,
       COUNT(*) AS n,
       CAST(CAST(SUM(CAST(p_retailprice AS DECIMAL(18,2))) AS DECIMAL(18,2)) AS DOUBLE) AS sum_price
FROM (SELECT p_brand, p_size // 10 AS size_bucket, p_retailprice FROM part)
GROUP BY CUBE (p_brand, size_bucket)
ORDER BY brand, bucket
"""


def stats_functions_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Statistical aggregate family: sample stddev/variance, exact
    median, Pearson correlation — rounded to 6dp, where both engines'
    double paths agree (verified empirically; raw values can differ in
    final ulps between Welford-style and two-pass implementations)."""
    li = catalog.load(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_returnflag")
        .agg(
            F.round(F.stddev("l_quantity"), 6).alias("sd_qty"),
            F.round(F.var_samp("l_quantity"), 6).alias("var_qty"),
            F.median("l_quantity").alias("med_qty"),
            F.round(F.corr("l_quantity", "l_extendedprice"), 6).alias("corr_qty_price"),
            F.round(F.skewness("l_discount"), 4).alias("skew_disc"),
        )
        .orderBy("l_returnflag")
    )


STATS_FUNCTIONS_LINEITEM_SQL = """
SELECT l_returnflag,
       round(stddev_samp(l_quantity), 6) AS sd_qty,
       round(var_samp(l_quantity), 6) AS var_qty,
       median(l_quantity) AS med_qty,
       round(corr(l_quantity, l_extendedprice), 6) AS corr_qty_price,
       round(skewness(l_discount), 4) AS skew_disc
FROM lineitem
GROUP BY l_returnflag
ORDER BY l_returnflag
"""


def segment_set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """intersect / except set operators: nations having customers in
    BOTH the BUILDING and MACHINERY segments, minus nations hosting
    suppliers with negative account balances. Exercises INTERSECT and
    EXCEPT as first-class distributed set ops (hash shuffles on the
    full row, exactly the SQL semantics)."""
    cust = catalog.load(spark, sf_dir, "customer")
    supp = catalog.load(spark, sf_dir, "supplier")
    building = cust.filter(F.col("c_mktsegment") == "BUILDING").select("c_nationkey")
    machinery = cust.filter(F.col("c_mktsegment") == "MACHINERY").select("c_nationkey")
    negative = supp.filter(F.col("s_acctbal") < 0).select(F.col("s_nationkey").alias("c_nationkey"))
    keys = building.intersect(machinery).subtract(negative)
    nation = catalog.maybe_broadcast("nation", catalog.load(spark, sf_dir, "nation"))
    return (
        keys.join(nation, keys.c_nationkey == nation.n_nationkey)
        .select(F.col("n_nationkey").alias("nationkey"), F.col("n_name").alias("nation"))
        .orderBy("nationkey")
    )


SEGMENT_SET_OPS_SQL = """
WITH keys AS (
  SELECT c_nationkey FROM customer WHERE c_mktsegment = 'BUILDING'
  INTERSECT
  SELECT c_nationkey FROM customer WHERE c_mktsegment = 'MACHINERY'
), minus AS (
  SELECT c_nationkey FROM keys
  EXCEPT
  SELECT DISTINCT s_nationkey FROM supplier WHERE s_acctbal < 0
)
SELECT n_nationkey AS nationkey, n_name AS nation
FROM minus JOIN nation ON c_nationkey = n_nationkey
ORDER BY nationkey
"""


# --- sketches: accuracy gates ----------------------------------------
#
# Approximate aggregates have no value-exact SQL oracle, so like the
# ANN/SimHash recall companions these entries emit the one scalar the
# oracle CAN state exactly: the sketch landed inside its published
# error bound (constant TRUE/1). Both sketches are deterministic for
# fixed data: HLL++ and QuantileSummaries merges are commutative and
# RNG-free, so the pass/fail cannot flap run to run.


def hll_accuracy_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HyperLogLog++ accuracy gate: approx_count_distinct(user_id)
    per event_type at rsd=0.05 must land within 3x the requested
    relative standard deviation of the exact distinct count for EVERY
    group (3 sigma — the practical certainty bound the sketch's
    analysis gives). Scale shape: the sketch aggregates with map-side
    partial merge (fixed-size registers per group), which is the whole
    point — exact distinct at 100 TB shuffles every key, the sketch
    shuffles 2^p registers."""
    from dbitool_spark import catalog

    ev = catalog.load(spark, sf_dir, "events")
    per_type = ev.groupBy("event_type").agg(
        F.approx_count_distinct("user_id", rsd=0.05).alias("approx_users"),
        F.countDistinct("user_id").alias("exact_users"),
    )
    bound = F.abs(F.col("approx_users") - F.col("exact_users")) <= (
        F.lit(3 * 0.05) * F.col("exact_users")
    )
    return per_type.agg(
        F.min(bound.cast("int")).cast("bigint").alias("all_within_bound")
    )


def quantile_sketch_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate-quantile accuracy gate: percentile_approx of
    l_extendedprice at accuracy=1000 carries a rank-error guarantee of
    n/accuracy; the gate checks each approximate percentile's TRUE
    rank sits within that many positions of the target rank. Exact
    ranks come from one count + two conditional counts — no full sort
    anywhere: the sketch is single-pass mergeable state, the check is
    three scanwide aggregates."""
    from dbitool_spark import catalog

    acc = 1000
    li = catalog.load(spark, sf_dir, "lineitem").select(
        F.col("l_extendedprice").cast("double").alias("v")
    )
    approx = li.agg(
        F.percentile_approx("v", [0.5, 0.9], acc).alias("q"),
        F.count(F.lit(1)).alias("n"),
    ).select(
        F.element_at("q", 1).alias("q50"),
        F.element_at("q", 2).alias("q90"),
        "n",
    )
    checked = li.crossJoin(approx).agg(
        F.first("n").alias("n"),
        F.sum((F.col("v") <= F.col("q50")).cast("long")).alias("rank50"),
        F.sum((F.col("v") <= F.col("q90")).cast("long")).alias("rank90"),
    )
    tol = F.col("n") / acc + 1
    ok = (
        (F.abs(F.col("rank50") - F.lit(0.5) * F.col("n")) <= tol)
        & (F.abs(F.col("rank90") - F.lit(0.9) * F.col("n")) <= tol)
    )
    return checked.select(ok.cast("bigint").alias("within_rank_error"))


def sketch_accuracy_gates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """r8 registry merge of hll_accuracy_events +
    quantile_sketch_lineitem (the policy's gate-composite shape: both
    emit a single 1-row boolean gate, so one crossJoin of two 1-row
    frames drives both sketch codepaths in one driver row).
    Also the bench-hygiene fix for the two noisiest sub-half-second
    entries: one row instead of two halves the flap surface."""
    return hll_accuracy_events(spark, sf_dir).crossJoin(
        quantile_sketch_lineitem(spark, sf_dir)
    )


SKETCH_ACCURACY_GATES_SQL = (
    "SELECT CAST(1 AS BIGINT) AS all_within_bound, "
    "CAST(1 AS BIGINT) AS within_rank_error"
)
