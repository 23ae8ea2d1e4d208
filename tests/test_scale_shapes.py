"""Scale-shape assertions: these tests pin the PLANS, not just the
values — forced broadcasts stay off fact tables, filters reach scans,
bucketed joins run exchange-free, salting preserves results."""

from __future__ import annotations

import contextlib
import io

import pytest
from pyspark.sql import functions as F

from dbitool_spark import catalog
from dbitool_spark.ops import dedup, scale, text
from tests.conftest import SF_ORACLE, SF_SMOKE, executed_plans


def _plan(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def test_no_forced_broadcast_on_fact_tables():
    """catalog.maybe_broadcast must refuse hints for anything that
    scales with SF — the r1 scale-killer class."""
    import inspect

    from dbitool_spark.plans import relational

    assert catalog.BROADCASTABLE == {"region", "nation"}
    src = inspect.getsource(relational)
    # every literal broadcast hint in the query pack must go through
    # the gate, never F.broadcast directly
    assert "F.broadcast(" not in src


def test_filters_reach_parquet_scan(spark):
    from dbitool_spark.plans.relational import q3_shipping_priority

    plan = _plan(q3_shipping_priority(spark, SF_SMOKE))
    pushed = [l for l in plan.splitlines() if "PushedFilters" in l]
    assert any("c_mktsegment" in l and "BUILDING" in l for l in pushed)
    assert any("l_shipdate" in l and "GreaterThan" in l for l in pushed)
    assert any("o_orderdate" in l and "LessThan" in l for l in pushed)


def test_salted_agg_matches_plain_agg(spark):
    li = catalog.load(spark, SF_SMOKE, "lineitem")

    def aggs():
        return [
            F.sum(F.col("l_quantity").cast("decimal(18,2)")).alias("sum_qty"),
            F.count(F.lit(1)).alias("n_rows"),
            F.min("l_shipdate").alias("min_ship"),
            F.max("l_shipdate").alias("max_ship"),
        ]

    plain = {
        r.l_returnflag: (r.sum_qty, r.n_rows, r.min_ship, r.max_ship)
        for r in li.groupBy("l_returnflag").agg(*aggs()).collect()
    }
    salted = {
        r.l_returnflag: (r.sum_qty, r.n_rows, r.min_ship, r.max_ship)
        for r in scale.salted_agg(li, ["l_returnflag"], aggs, n_salts=8).collect()
    }
    assert plain == salted


def test_salted_agg_rejects_non_decomposable(spark):
    li = catalog.load(spark, SF_SMOKE, "lineitem")
    with pytest.raises(ValueError, match="decomposable"):
        scale.salted_agg(
            li, ["l_returnflag"], lambda: [F.avg("l_quantity").alias("avg_qty")]
        ).collect()


def test_salted_join_rejects_right_preserving_how(spark):
    """right/full outer would emit each unmatched right row once per
    salt (the small side is replicated n_salts times) — a silent wrong
    answer, so the guard raises up front."""
    li = catalog.load(spark, SF_SMOKE, "lineitem").select("l_orderkey", "l_quantity")
    orders = catalog.load(spark, SF_SMOKE, "orders").select(
        F.col("o_orderkey").alias("l_orderkey"), "o_orderpriority"
    )
    for how in ("right", "full", "full_outer", "rightouter"):
        with pytest.raises(ValueError, match="salted_join does not support"):
            scale.salted_join(li, orders, "l_orderkey", how=how)
    # the left-preserving family still passes through
    n_semi = scale.salted_join(
        li, orders.limit(10), "l_orderkey", n_salts=4, how="left_semi"
    ).count()
    assert n_semi == li.join(orders.limit(10), "l_orderkey", "left_semi").count()


def test_salted_spread_mode_splits_duplicate_hot_key(spark):
    """row_hash salting sends EXACT-duplicate rows to one salt bucket
    (whole-row hash); mode='spread' mixes spark_partition_id so a
    duplicate-heavy hot key fans out — and salted_agg's result is
    salt-invariant either way."""
    dup = (
        spark.range(2000, numPartitions=8)
        .select(F.lit("hot").alias("k"), F.lit(1).alias("x"))
    )
    one_bucket = scale.salted(dup, 16).select("__salt").distinct().count()
    spread = scale.salted(dup, 16, mode="spread").select("__salt").distinct().count()
    assert one_bucket == 1  # the documented row_hash limitation
    assert spread > 1  # duplicates actually fan out

    got = scale.salted_agg(
        dup, ["k"], lambda: [F.sum("x").alias("sum_x")], n_salts=16,
        salt_mode="spread",
    ).collect()
    assert [(r.k, r.sum_x) for r in got] == [("hot", 2000)]

    with pytest.raises(ValueError, match="row_hash|spread"):
        scale.salted(dup, 16, mode="rand")


def test_salted_join_matches_plain_join(spark):
    li = catalog.load(spark, SF_SMOKE, "lineitem").select("l_orderkey", "l_quantity")
    orders = catalog.load(spark, SF_SMOKE, "orders").select(
        F.col("o_orderkey").alias("l_orderkey"), "o_orderpriority"
    )
    plain = (
        li.join(orders, "l_orderkey")
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    fancy = (
        scale.salted_join(li, orders, "l_orderkey", n_salts=4)
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    assert {(r.o_orderpriority, r.n) for r in plain.collect()} == {
        (r.o_orderpriority, r.n) for r in fancy.collect()
    }


def test_with_position_rejects_reserved_columns(spark):
    df = spark.createDataFrame([(1, 2)], "k int, pos int")
    with pytest.raises(ValueError, match="pos"):
        scale.with_position(df, ["k"])
    ok = scale.with_position(df, ["k"], pos_col="zip_pos")
    assert ok.columns == ["k", "pos", "zip_pos"]


def test_with_position_avoids_single_partition_data_sort(spark):
    """The global row position must come from range partitioning +
    per-partition row_number + a bounded offset table — NEVER a bare
    Window.orderBy() that drags the whole dataset through one
    partition. Only the per-partition COUNT table (one row per
    partition) may cross a single-partition exchange."""
    li = catalog.load(spark, SF_SMOKE, "lineitem").select(
        "l_orderkey", "l_linenumber", "l_quantity"
    )
    keyed = li.withColumn(
        "uk", F.col("l_orderkey") * 10 + F.col("l_linenumber")
    )
    pos = scale.with_position(keyed, ["uk"])
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        pos.explain("formatted")
    plan = buf.getvalue()
    assert "rangepartitioning" in plan.lower()  # the data-side shuffle
    assert "__pid" in plan  # row_number window is partition-local
    rows = pos.orderBy("pos").collect()
    assert [r.pos for r in rows] == list(range(1, len(rows) + 1))  # dense 1..N
    uks = [r.uk for r in rows]
    assert uks == sorted(uks)  # position follows the total order


def test_bucketed_join_has_no_exchange(spark):
    """The amortized-shuffle claim, verified on the plan: two tables
    bucketed on the join key sort-merge-join with zero Exchange."""
    import shutil

    orders = catalog.load(spark, SF_SMOKE, "orders")
    li = catalog.load(spark, SF_SMOKE, "lineitem")
    warehouse = spark.conf.get("spark.sql.warehouse.dir").removeprefix("file:")
    for t in ("bt_orders", "bt_lineitem"):
        spark.sql(f"DROP TABLE IF EXISTS {t}")
        shutil.rmtree(f"{warehouse}/{t}", ignore_errors=True)
    scale.write_bucketed(
        orders.select(F.col("o_orderkey").alias("k"), "o_orderpriority"),
        "bt_orders", "k", n_buckets=4,
    )
    scale.write_bucketed(
        li.select(F.col("l_orderkey").alias("k"), "l_quantity"),
        "bt_lineitem", "k", n_buckets=4,
    )
    # at sf0.001 the sides fit the broadcast threshold, which would
    # mask bucketing; disable it to surface the scale-relevant plan
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        joined = scale.bucketed_join(spark, "bt_orders", "bt_lineitem", "k")
        plan = _plan(joined)
        assert "SortMergeJoin" in plan
        assert "Exchange" not in plan, "bucketed join must not shuffle"
        # and it still computes the right thing
        expected = li.join(orders, li.l_orderkey == orders.o_orderkey).count()
        assert joined.count() == expected
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)


def test_partitioned_write_prunes_partitions(spark, tmp_path_factory):
    """Date-partitioned parquet + a date filter must show partition
    pruning in the scan (PartitionFilters), reading only matching
    directories — the 100 TB time-series layout."""
    out = str(tmp_path_factory.mktemp("part_events"))
    ev = catalog.load(spark, SF_SMOKE, "events").withColumn(
        "day", F.date_format("ts_ts", "yyyy-MM-dd")
    )
    ev.write.mode("overwrite").partitionBy("day").parquet(out)
    # partition-column type inference reads the string days back as DATE
    days = sorted(str(r.day) for r in spark.read.parquet(out).select("day").distinct().collect())
    pick = days[len(days) // 2]
    filtered = spark.read.parquet(out).filter(F.col("day") == pick)
    plan = _plan(filtered)
    assert "PartitionFilters" in plan and pick in plan.replace("%3A", ":")
    expected = ev.filter(F.col("day") == pick).count()
    assert filtered.count() == expected


def test_new_relational_filters_reach_scan(spark):
    """q6/q10 shapes: every predicate must appear in PushedFilters —
    the whole point of a scan-side query."""
    from dbitool_spark.plans.relational import (
        q6_forecast_revenue,
        returned_item_revenue,
    )

    p6 = _plan(q6_forecast_revenue(spark, SF_SMOKE))
    pushed6 = [l for l in p6.splitlines() if "PushedFilters" in l]
    assert any(
        "l_shipdate" in l and "l_discount" in l and "l_quantity" in l
        for l in pushed6
    )
    p10 = _plan(returned_item_revenue(spark, SF_SMOKE))
    pushed10 = [l for l in p10.splitlines() if "PushedFilters" in l]
    assert any("l_returnflag" in l and "EqualTo" in l for l in pushed10)
    assert any("o_orderdate" in l for l in pushed10)


def test_nation_trade_flows_prunes_before_fact_shuffle(spark):
    """Q7 shape: the two-nation filter must prune supplier/customer
    BEFORE the lineitem⋈orders fact joins — the n_name predicate
    reaches the nation parquet scan, and no Filter on supp_nation/
    cust_nation sits above a join output (which would mean fact rows
    for all 25 nations were shuffled first, the r4 plan)."""
    from dbitool_spark.plans.relational import nation_trade_flows

    plan = _plan(nation_trade_flows(spark, SF_SMOKE))
    pushed = [l for l in plan.splitlines() if "PushedFilters" in l]
    # nation scans carry the In(n_name, ...) predicate
    assert any("n_name" in l and "In(" in l for l in pushed), pushed
    # the residual pair filter only drops same-nation combos — it must
    # reference both *_nation columns in ONE condition (post-join),
    # while each nation dim is already 2 rows; the plan must not show
    # a lone supp_nation/cust_nation equality filter without the
    # residual OR (that was the all-25-nations shape). Cheap proxy:
    # the broadcast joins against nation happen BELOW the orderkey
    # sort-merge/shuffle join in the formatted plan tree.
    assert "BroadcastHashJoin" in plan


def test_decontaminate_broadcasts_benchmark_side(spark):
    """The benchmark n-gram set is tiny relative to the corpus: the
    join must be a broadcast (corpus side never shuffles for it)."""
    from dbitool_spark.plans.pipeline_ops import decontaminate_documents

    plan = _plan(decontaminate_documents(spark, SF_SMOKE))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_pack_sequences_window_is_per_bucket(spark):
    """Sequence packing must never sort globally: the cumsum window
    partitions by bucket, so the plan shows a hash-partitioned
    exchange on bucket (parallel), not a single-partition sort."""
    from dbitool_spark.plans.pipeline_ops import pack_sequences_documents

    plan = _plan(pack_sequences_documents(spark, SF_SMOKE))
    assert "Window" in plan
    assert "hashpartitioning(bucket" in plan
    # a global-window plan would show Exchange SinglePartition
    assert "Exchange SinglePartition" not in plan


def test_events_after_busy_hours_broadcasts_interval_side(spark):
    """The busy-hour interval set is a tiny filtered aggregate: the
    range join must broadcast it so the full event stream is never
    shuffled on (bucket, type). A SortMergeJoin here would mean the
    event side exchanged — the r5 plan this pin retires."""
    from dbitool_spark.plans.events_ops import events_after_busy_hours

    plan = _plan(events_after_busy_hours(spark, SF_SMOKE))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_supplier_nation_profit_filter_pushed_and_nation_broadcast(spark):
    """Q9 shape: the p_name marker predicate reaches the part scan
    (StringContains pushdown) and nation joins as broadcast."""
    from dbitool_spark.plans.relational import supplier_nation_profit

    plan = _plan(supplier_nation_profit(spark, SF_SMOKE))
    pushed = [l for l in plan.splitlines() if "PushedFilters" in l]
    assert any("p_name" in l and "Contains" in l for l in pushed), pushed
    assert "BroadcastHashJoin" in plan


def test_small_quantity_revenue_no_cartesian(spark):
    """Q17 decorrelation must stay an equi-join on partkey — never a
    nested-loop product — and the brand filter reaches the part scan."""
    from dbitool_spark.plans.relational import small_quantity_revenue

    plan = _plan(small_quantity_revenue(spark, SF_SMOKE))
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    pushed = [l for l in plan.splitlines() if "PushedFilters" in l]
    assert any("p_brand" in l for l in pushed), pushed


def test_top_revenue_suppliers_window_after_aggregate(spark):
    """Q15: the single-partition max window must sit ABOVE the
    per-supplier aggregate (bounded rows), which means the plan has a
    partial+final agg below the window exchange — not a global sort of
    the fact table."""
    from dbitool_spark.plans.relational import top_revenue_suppliers

    plan = _plan(top_revenue_suppliers(spark, SF_SMOKE))
    assert "Window" in plan and "SinglePartition" in plan
    # tree section prints parents first: the Window node must appear
    # ABOVE (before) the per-supplier HashAggregate feeding it
    tree = plan.split("(1) ")[0]
    assert 0 < tree.find("Window") < tree.find("HashAggregate"), tree


def test_kmeans_assignment_broadcasts_centroid_side(spark):
    """The k-means assignment cross-join must resolve to a broadcast
    nested-loop from the 8-row centroid side — the corpus side never
    shuffles for assignment (the scale contract of Lloyd's on Spark).
    Read from the plans the eager call executed."""
    from dbitool_spark.ops.similarity import kmeans_distributed

    emb = catalog.load(spark, SF_SMOKE, "embeddings")
    with executed_plans(spark) as plans:
        kmeans_distributed(emb, "vec_id", "embedding")
    plan = "\n".join(plans)
    assert "BroadcastNestedLoopJoin" in plan
    assert "CartesianProduct" not in plan


def test_ngram_containment_asymmetry(spark):
    """The semantic claim behind the operator: a short doc fully
    quoted inside a long one scores containment 1.0 in the contained
    direction while the reverse stays below threshold — and Jaccard
    at the same threshold would catch NEITHER direction. (Plan shape
    is pinned separately in test_near_dup_lazy_plans_are_bucket_local.)"""
    from dbitool_spark.ops.dedup import ngram_containment_pairs, ngram_jaccard_pairs

    short = "alpha beta gamma delta epsilon zeta"
    long = short + " " + " ".join(f"w{i} x{i} y{i}" for i in range(20))
    df = spark.createDataFrame([(1, short), (2, long)], "doc_id bigint, text string")
    got = {
        (r.id_a, r.id_b): round(r.containment, 6)
        for r in ngram_containment_pairs(df, "doc_id", "text", threshold=0.9).collect()
    }
    assert (1, 2) in got and got[(1, 2)] == 1.0
    assert (2, 1) not in got
    jac = ngram_jaccard_pairs(df, "doc_id", "text", threshold=0.9).collect()
    assert jac == []  # symmetric jaccard is blind to this pair


def test_curation_pipeline_prunes_columns(spark):
    """The five-stage composition still reads only the columns it
    needs from every documents scan (pruning survives composition).
    Read from the plans the eager call executed."""
    from dbitool_spark.plans.pipeline_ops import curation_pipeline_documents

    with executed_plans(spark) as plans:
        curation_pipeline_documents(spark, SF_SMOKE)
    plan = "\n".join(plans)
    read = [l for l in plan.splitlines() if "ReadSchema" in l]
    assert read and all("n_chars" not in l and "lang" not in l for l in read)
    assert "CartesianProduct" not in plan


def test_skewed_user_rollup_is_two_stage(spark):
    """The driver-visible skew entry must actually produce the salted
    two-stage plan: partial agg keyed by (user_id, salt) behind one
    exchange, final agg re-combining behind a second — a hot user key
    fans over n_salts tasks instead of stalling one."""
    from dbitool_spark.plans.events_ops import skewed_user_rollup_events

    plan = _plan(skewed_user_rollup_events(spark, SF_SMOKE))
    n_hash_agg = plan.count("HashAggregate")
    # >= 4 operator ids: partial+final for the salted stage, then
    # partial+final for the recombine stage
    assert n_hash_agg >= 4, plan
    assert plan.count("Exchange") >= 2, plan
    assert "_salt" in plan, plan


def test_partsupp_fixture_shapes(spark):
    """The partsupp fixture derives 4 rows per part with pure
    projection — no shuffle, no driver edge; Q2's correlated min-cost
    subquery must keep its region filter pushed to the region scan."""
    from dbitool_spark.plans import relational

    ps = relational._partsupp(spark, SF_SMOKE)
    n_part = catalog.load(spark, SF_SMOKE, "part").count()
    assert ps.count() == 4 * n_part
    # 4 distinct suppliers per part at every shipped SF (|supplier|>9,
    # not divisible by 3 — the docstring invariant)
    from pyspark.sql import functions as F2

    dup = (
        ps.groupBy("ps_partkey")
        .agg(F2.countDistinct("ps_suppkey").alias("n"))
        .filter("n <> 4")
        .count()
    )
    assert dup == 0
    plan = _plan(relational.q2_min_cost_supplier(spark, SF_SMOKE))
    assert any(
        "PushedFilters" in l and "r_name" in l for l in plan.splitlines()
    ), plan


def _near_dup_family(spark) -> dict:
    """name -> zero-argument callable for the near-dup family: the
    dedup/similarity candidate generators over the planted perturbed
    corpora at sf0.001, plus the registered entries built on them."""
    from functools import partial

    from dbitool_spark.ops import similarity
    from dbitool_spark.plans import llm_ops

    docs = llm_ops._perturbed_corpus(catalog.load(spark, SF_SMOKE, "documents"))
    emb = catalog.load(spark, SF_SMOKE, "embeddings")
    base = emb.select("vec_id", F.col("embedding").cast("array<double>").alias("v"))
    vecs = base.unionAll(llm_ops._perturbed_embeddings(base))
    family = {
        "minhash_near_dup_pairs": lambda: dedup.minhash_near_dup_pairs(
            docs, "doc_id", "text", shingle_k=3, threshold=0.7
        ),
        "simhash_candidates": lambda: dedup.simhash_candidates(
            docs, "doc_id", "text", max_hamming=3
        ),
        "embedding_near_dup_pairs": lambda: similarity.embedding_near_dup_pairs(
            vecs, id_col="vec_id", vec_col="v", dim=64, threshold=0.95,
            n_tables=16, bits=10,
        ),
    }
    for fn in (
        llm_ops.simhash_recall_planted,
        llm_ops.ngram_jaccard_variants_documents,
        llm_ops.ngram_containment_documents,
        llm_ops.top_terms_per_source,
    ):
        family[fn.__name__] = partial(fn, spark, SF_SMOKE)
    return family


def test_near_dup_lazy_plans_are_bucket_local(spark):
    """The plans the near-dup family executes (their results explain()
    as checkpoint scans, so the status store's executed plans are
    read instead). The scale contracts asserted: parquet-rooted (not
    ExistingRDD), and never an all-pairs CartesianProduct — every
    candidate generator joins on bucket/shingle/band keys."""
    for name, make in _near_dup_family(spark).items():
        with executed_plans(spark) as plans:
            make()
        plan = "\n".join(plans)
        assert "Scan parquet" in plan, f"{name} not parquet-rooted"
        assert "CartesianProduct" not in plan, f"{name} all-pairs!"
        assert "BroadcastNestedLoopJoin" not in plan, (
            f"{name} has an unkeyed join"
        )


def test_bloom_membership_and_decontaminate_precision(spark):
    """Bloom machinery (ops/scale): zero false negatives on planted
    members (the load-bearing theorem), false-positive rate sane at
    the design bits/key, and the staged decontaminate entry's flagged
    set stays precise against the exact join at sf0.01 (DuckDB cannot
    evaluate Spark's xxhash64, so precision pins HERE, not in the
    oracle)."""
    from dbitool_spark import catalog
    from dbitool_spark.ops import scale
    from dbitool_spark.ops.dedup import shingles
    from dbitool_spark.plans import pipeline_ops as po
    from tests.conftest import SF_ORACLE

    # planted membership: 1000 members, 2000 non-members
    members = spark.range(1000).select(
        F.concat(F.lit("g"), F.col("id")).alias("v")
    )
    m, k = 1 << 14, 5
    bloom = scale.bloom_build(members, "v", m_bits=m, k=k)
    assert len(bloom) == m // 64
    bdf = spark.createDataFrame([(bloom,)], "bloom array<bigint>")
    probe = spark.range(3000).select(
        F.concat(F.lit("g"), F.col("id")).alias("v")
    )
    flagged = {
        r.v
        for r in probe.crossJoin(F.broadcast(bdf))
        .filter(scale.bloom_contains_expr("v", "bloom", m, k))
        .collect()
    }
    assert {f"g{i}" for i in range(1000)} <= flagged  # NO false negatives
    fp = sum(1 for v in flagged if int(v[1:]) >= 1000)
    assert fp <= 40, f"{fp}/2000 false positives at 16 bits/key"

    # precision of the staged entry's flagged set at sf0.01
    docs = catalog.load(spark, SF_ORACLE, "documents")
    bench = po.bench_gram_set(docs)
    arr = scale.bloom_build(
        bench, "gram", m_bits=po._BLOOM_M_BITS, k=po._BLOOM_K
    )
    adf = spark.createDataFrame([(arr,)], "bloom array<bigint>")
    grams = docs.select(
        "doc_id",
        F.explode(shingles(F.col("text"), po.DECONTAM_NGRAM)).alias("gram"),
    )
    bloom_docs = {
        r.doc_id
        for r in grams.crossJoin(F.broadcast(adf))
        .filter(
            scale.bloom_contains_expr(
                "gram", "bloom", po._BLOOM_M_BITS, po._BLOOM_K
            )
        )
        .select("doc_id")
        .distinct()
        .collect()
    }
    exact_docs = {
        r.doc_id
        for r in grams.join(bench, "gram").select("doc_id").distinct().collect()
    }
    # non-vacuity lives HERE (ADVICE r11): the registered entry and
    # its oracle both return recall=1.0/n_exact=0 on an empty exact
    # set instead of failing the plan, so the fixture must actually
    # exercise the theorem at the test SF
    assert exact_docs, "vacuous fixture: no exactly-contaminated docs at sf0.01"
    assert exact_docs <= bloom_docs  # recall 1.0, the oracle's claim
    precision = len(exact_docs) / len(bloom_docs)
    assert precision >= 0.9, f"bloom doc-level precision {precision:.3f}"


def test_bloom_decontaminate_plan_shape(spark):
    """The staged bloom entry's plan: membership must be
    codegen-resident (no Python stage anywhere) and the bloom side a
    1-row BroadcastNestedLoopJoin — the corpus is never shuffled to
    meet the benchmark."""
    from dbitool_spark.plans import pipeline_ops as po
    from tests.conftest import SF_ORACLE

    df = po.bloom_decontaminate_documents(spark, SF_ORACLE)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    plan = buf.getvalue()
    for marker in ("BatchEvalPython", "ArrowEvalPython", "MapInPandas",
                   "SerializeFromObject"):
        assert marker not in plan, f"bloom plan has {marker}"
    assert "BroadcastNestedLoopJoin" in plan  # the 1-row bloom ride


def test_funnel_fold_semantics_on_constructed_sequences(spark, tmp_path):
    """The funnel fold's ORDER and BAND rules on hand-built streams:
    out-of-order purchases don't count, a qualifying event in the
    wrong time-of-day band doesn't advance, and only strictly-later
    events can complete the next step. Built as a parquet events
    table so the entry runs its real path end to end."""
    import datetime as dt

    from dbitool_spark.plans.events_ops import funnel_steps_events

    def ts(h, m=0):
        return dt.datetime(2024, 1, 1, h, m)

    rows = [
        # user 0: perfect path -> step 3
        (0, 1, "view", ts(6)), (0, 2, "click", ts(9)), (0, 3, "purchase", ts(17)),
        # user 1: purchase BEFORE the click -> stuck at 2
        (1, 4, "view", ts(6)), (1, 5, "purchase", ts(7, 30)), (1, 6, "click", ts(9)),
        # user 2: click outside the 8-16 band -> stuck at 1
        (2, 7, "view", ts(6)), (2, 8, "click", ts(7)), (2, 9, "purchase", ts(17)),
        # user 3: view outside the 0-8 band -> step 0
        (3, 10, "view", ts(9)), (3, 11, "click", ts(10)), (3, 12, "purchase", ts(17)),
        # user 4: same-ts tie broken by event_id (view id 13 < click id
        # 14 at the same instant, click in band) -> the click counts
        (4, 13, "view", ts(7, 59)), (4, 14, "click", ts(7, 59)),
    ]
    # the click in user 4's pair is at hour 7 — outside the click band,
    # so user 4 stops at 1 regardless of the tie-break; flip one that IS
    # in band to pin the tie-break itself:
    rows += [(5, 15, "view", ts(8, 0)), (5, 16, "click", ts(8, 0))]
    # user 5's view is at hour 8 — outside the VIEW band -> step 0

    df = spark.createDataFrame(
        [(u, e, t, when) for u, e, t, when in rows],
        "user_id bigint, event_id bigint, event_type string, ts timestamp_ntz",
    )
    d = str(tmp_path / "events.parquet")
    df.write.parquet(d)
    got = {
        r.user_id: r.funnel_step
        for r in funnel_steps_events(spark, str(tmp_path)).collect()
    }
    assert got == {0: 3, 1: 2, 2: 1, 3: 0, 4: 1, 5: 0}, got


def test_funnel_hot_user_fallback_matches_fold_path(spark, tmp_path):
    """r13 verdict item 3: the hot-user fallback is CODE now — a
    synthetic bot user above hot_user_threshold routes through the
    three-pass conditional-min-after aggregation (O(1) state per row,
    no collect_list array) and its result hash-matches the fold path
    computed with the threshold lifted out of the way. Covers all
    funnel outcomes on the hot side: completed (3), stalled (1), and
    out-of-order (2)."""
    import datetime as dt

    from dbitool_spark.plans.events_ops import funnel_steps_events

    def ts(h, m=0, s=0):
        return dt.datetime(2024, 1, 1, h, m, s)

    rows = []
    eid = 0
    # three HOT users: 40 events each (threshold will be 30)
    # hot user 100: noise + a perfect in-order, in-band path -> 3
    for i in range(37):
        eid += 1
        rows.append((100, eid, "view", ts(9, i % 50)))  # out-of-band noise
    eid += 1; rows.append((100, eid, "view", ts(6)))
    eid += 1; rows.append((100, eid, "click", ts(9)))
    eid += 1; rows.append((100, eid, "purchase", ts(17)))
    # hot user 101: 40 morning views, nothing else -> 1
    for i in range(40):
        eid += 1
        rows.append((101, eid, "view", ts(5, i % 50)))
    # hot user 102: purchase before click -> 2
    eid += 1; rows.append((102, eid, "view", ts(6)))
    eid += 1; rows.append((102, eid, "purchase", ts(7, 30)))
    for i in range(37):
        eid += 1
        rows.append((102, eid, "view", ts(3, i % 50)))
    eid += 1; rows.append((102, eid, "click", ts(9)))
    # one COLD user alongside -> exercises the union of both paths
    eid += 1; rows.append((200, eid, "view", ts(6)))
    eid += 1; rows.append((200, eid, "click", ts(9)))

    df = spark.createDataFrame(
        rows, "user_id bigint, event_id bigint, event_type string, ts timestamp_ntz"
    )
    df.write.parquet(str(tmp_path / "events.parquet"))

    hybrid = funnel_steps_events(spark, str(tmp_path), hot_user_threshold=30)
    fold_only = funnel_steps_events(
        spark, str(tmp_path), hot_user_threshold=10**9
    )
    got = {r.user_id: r.funnel_step for r in hybrid.collect()}
    want = {r.user_id: r.funnel_step for r in fold_only.collect()}
    assert got == want == {100: 3, 101: 1, 102: 2, 200: 2}, (got, want)

    # the hot side genuinely ran the aggregation path: with the
    # threshold at 30, the fold's collect_list only ever sees the cold
    # user's 2 events — assert the routing split from the plan
    plan_hybrid = hybrid._jdf.queryExecution().optimizedPlan().toString()
    assert "collect_list" in plan_hybrid  # cold fold present
    assert plan_hybrid.count("min(") >= 3  # three conditional-min aggs

def test_funnel_hot_broadcast_cap_guard(spark, tmp_path, monkeypatch):
    """ADVICE r14: the hot-user broadcast is guarded inside the plan —
    when the hot set exceeds _FUNNEL_HOT_BROADCAST_CAP the query fails
    with the raise-the-threshold message instead of broadcasting an
    unbounded set; under the cap the guard is invisible."""
    import datetime as dt

    import pytest

    from dbitool_spark.plans import events_ops

    rows = []
    eid = 0
    for u in range(3):  # three users, 4 events each
        for h in (6, 9, 17, 20):
            eid += 1
            rows.append((u, eid, "view", dt.datetime(2024, 1, 1, h)))
    df = spark.createDataFrame(
        rows, "user_id bigint, event_id bigint, event_type string, ts timestamp_ntz"
    )
    df.write.parquet(str(tmp_path / "events.parquet"))

    # cap 1, threshold 2 -> all three users are hot -> guard fires
    monkeypatch.setattr(events_ops, "_FUNNEL_HOT_BROADCAST_CAP", 1)
    with pytest.raises(Exception, match="raise hot_user_threshold"):
        events_ops.funnel_steps_events(
            spark, str(tmp_path), hot_user_threshold=2
        ).collect()

    # same data under the cap: identical results, guard silent
    monkeypatch.setattr(events_ops, "_FUNNEL_HOT_BROADCAST_CAP", 100)
    got = {
        r.user_id: r.funnel_step
        for r in events_ops.funnel_steps_events(
            spark, str(tmp_path), hot_user_threshold=2
        ).collect()
    }
    assert got == {0: 1, 1: 1, 2: 1}, got

def test_simhash_bit0_votes_are_signed_unit(spark):
    """Review finding (verified live): (wh >>> 0) % 2 voted -3 for
    negative-odd hashes because Spark's Remainder keeps the dividend
    sign — bit 0 of nearly every signature was forced to 0. The vote
    is & 1 now; pin that a corpus whose words hash negative-odd can
    set bit 0, and that every per-bit vote for a single word is
    exactly +1 or -1."""
    from dbitool_spark.ops.dedup import simhash_signatures

    # find words whose xxhash64 is negative and odd (the broken class)
    words = [f"w{i}" for i in range(64)]
    hs = {
        r.w: r.h
        for r in spark.createDataFrame([(w,) for w in words], "w string")
        .select("w", F.xxhash64("w").alias("h"))
        .collect()
    }
    neg_odd = [w for w, h in hs.items() if h < 0 and h % 2 != 0]
    assert neg_odd  # the class exists in any sample this size
    w = neg_odd[0]
    sig = simhash_signatures(
        spark.createDataFrame([(1, w)], "doc_id bigint, text string"),
        "doc_id",
        "text",
    ).collect()[0].sig
    # one word, hash odd -> bit-0 vote +1 -> signature bit 0 SET
    assert sig & 1 == 1, (w, hs[w], sig)
    # and the full signature equals the word's own hash bits (single
    # voter: every bit's sign is the hash's bit value)
    assert sig == hs[w]


def test_with_running_total_matches_naive_window(spark):
    """The two-phase distributed scan (range partition + local window
    sums + bounded offset table) must equal the naive global-window
    prefix sum exactly — inclusive and exclusive — and reject
    colliding column names like with_position does."""
    li = catalog.load(spark, SF_SMOKE, "lineitem").select(
        "l_orderkey", "l_linenumber", "l_quantity"
    )
    keyed = li.withColumn(
        "uk", F.col("l_orderkey") * 10 + F.col("l_linenumber")
    ).withColumn("v", F.col("l_quantity").cast("long"))
    for inclusive in (False, True):
        got = {
            r.uk: r.rt
            for r in scale.with_running_total(
                keyed, ["uk"], "v", total_col="rt", inclusive=inclusive
            ).collect()
        }
        rows = sorted(
            keyed.select("uk", "v").collect(), key=lambda r: r.uk
        )
        run, want = 0, {}
        for r in rows:
            if inclusive:
                run += r.v
                want[r.uk] = run
            else:
                want[r.uk] = run
                run += r.v
        assert got == want, inclusive
    with pytest.raises(ValueError, match="collide"):
        scale.with_running_total(
            keyed.withColumn("__pid", F.lit(1)), ["uk"], "v"
        )


def test_global_pack_avoids_single_partition_data_window(spark):
    """with_running_total over per-document token counts (the sequence
    packing prefix sum) must range-partition the corpus and keep every
    data-row window partition-local; only the one-row-per-partition
    offset table may cross a single-partition exchange."""
    from dbitool_spark.ops import text

    docs = catalog.load(spark, SF_SMOKE, "documents")
    toks = docs.select("doc_id", text.token_count(F.col("text")).alias("n_tok"))
    df = scale.with_running_total(
        toks, ["doc_id"], "n_tok", total_col="before", inclusive=False
    )
    plan = _plan(df)
    assert "rangepartitioning" in plan.lower()
    assert "__pid" in plan  # the data-side window is partition-local


def test_scaling_gate_on_ops_no_registry_entry_covers(spark):
    """The scaling gate at sf0.01 -> sf0.1 on three ops or code paths
    no registry entry reaches, with the inputs the old hand-written
    gate used: edit_distance_pairs on each document's first-4-word
    title plus a copy with character 7 deleted; with_running_total (a
    two-phase prefix sum whose only global step is one row per
    partition); and kmeans_distributed at iters=5, whose 'auto' mode
    takes the cluster-side centroid-update path (the registry's kmeans
    leg runs iters=2, the driver path). (At sf0.001 and sf0.01
    `documents` has the same 500 rows, so the pair starts at sf0.01.)

    Both sides are timed the same way: one traced run, after an untimed
    run of the op at sf0.01 has warmed the JIT and the generated-code
    cache. (The bench's warm-up plus timed run per side would put
    edit_distance_join's sf0.1 side alone near 30 s.)

    Every op must be green on both ratios, except the known defect
    below, which is reported as an expected failure whenever it is red:
    on this 31-word corpus edit_distance_pairs' prefix-filter
    candidates grow ~109x for 10x rows (59,228 -> 6,443,006; the
    trigram vocabulary saturates at 642 -> 916), verified inside the
    partitions, so its shuffle ratio stays ~8.6x while its wall ratio
    straddles the 15x line (6-16x depending on how warm the JVM is).
    Its shuffle ratio and row counts are still asserted."""
    import bench
    from dbitool_spark.ops import similarity

    def edit_distance_join(s, d):
        docs = catalog.load(s, d, "documents")
        titles = docs.select(
            F.col("doc_id").alias("id"),
            F.concat_ws(
                " ", F.slice(F.split(F.lower(F.trim("text")), r"\s+"), 1, 4)
            ).alias("name"),
        )
        planted = titles.select(
            (F.col("id") + 1_000_000).alias("id"),
            F.concat(
                F.col("name").substr(F.lit(1), F.lit(6)),
                F.col("name").substr(F.lit(8), F.length("name")),
            ).alias("name"),
        )
        return dedup.edit_distance_pairs(
            titles.unionByName(planted), "id", "name", max_dist=2, q=3
        )

    def global_pack(s, d):
        docs = catalog.load(s, d, "documents")
        toks = docs.select("doc_id", text.token_count(F.col("text")).alias("n_tok"))
        return scale.with_running_total(
            toks, ["doc_id"], "n_tok", total_col="before", inclusive=False
        )

    def kmeans_cluster_updates(s, d):
        emb = catalog.load(s, d, "embeddings")
        return similarity.kmeans_distributed(emb, "vec_id", "embedding", k=8, iters=5)

    fns = {
        "edit_distance_join": edit_distance_join,
        "global_pack": global_pack,
        "kmeans_cluster_updates": kmeans_cluster_updates,
    }
    big_dir = SF_ORACLE.replace("sf0.01", "sf0.1")
    big = {}
    for name, fn in fns.items():
        fn(spark, SF_ORACLE).count()  # warms both timed sides alike
        big[name] = bench._measure(fn, spark, big_dir, 0)
    gate = bench._scaling_gate(spark, fns, SF_ORACLE, big_dir, big, 0)
    assert gate["errors"] == {}, gate
    for name, entry in gate["entries"].items():
        assert entry["shuffle_ratio"] <= bench.SCALING_RED_RATIO, gate
        assert entry["sf0.1"]["rows"] >= entry["sf0.01"]["rows"] > 0, gate
    assert set(gate["red"]) <= {"edit_distance_join"}, gate
    if gate["red"]:
        pytest.xfail(
            "edit_distance_pairs' candidates grow ~109x for 10x rows: wall ratio "
            f"{gate['entries']['edit_distance_join']['wall_ratio']}x"
        )


def test_rebalance_to_parallelism_refuses_exchange_bearing_frames(spark):
    """rebalance_to_parallelism checks its exchange-free contract on the
    analyzed logical plan, driver-side: an aggregate raises before any
    partition count is asked for, while the scan + projection +
    unionAll shape of the perturbed corpus passes without running a
    job and keeps every row."""
    from dbitool_spark import profile
    from dbitool_spark.plans.llm_ops import _perturbed_corpus

    docs = catalog.load(spark, SF_SMOKE, "documents")
    with pytest.raises(ValueError, match=r"exchange-free.*Aggregate"):
        scale.rebalance_to_parallelism(docs.groupBy("doc_id").count(), "doc_id")
    corpus = _perturbed_corpus(docs)
    with profile.counters(spark) as work:
        out = scale.rebalance_to_parallelism(corpus, "doc_id")
    assert work["jobs"] == 0
    assert sorted(map(tuple, out.collect())) == sorted(map(tuple, corpus.collect()))


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
