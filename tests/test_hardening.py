"""Round-5 edge-case hardening: integer-exact range-join bucketing,
as-of NULL-value semantics, reserved-name guards, connected-components
input guards, split-bucket overflow parity, and cache-lifetime /
logging contracts flagged in the r4 review."""

from __future__ import annotations

import json
import os

import duckdb
import pytest
from pyspark.sql import functions as F

from dbitool_spark.ops import dedup
from dbitool_spark.ops.temporal import asof_join, range_join
from tests.conftest import SF_ORACLE, SF_SMOKE


def test_range_join_exact_beyond_double_precision(spark):
    """Bucket ids must be exact integer floor-division: at epoch-nano
    magnitudes (~1.7e18 > 2^53) double division rounds and can land a
    point in the adjacent bucket, silently dropping true matches."""
    base = 1_700_000_000_000_000_000  # epoch nanos, > 2^53
    bucket = 1_000
    # points sit ON bucket boundaries and just beside them — the exact
    # spots where a double-rounded floor(p/bucket) goes wrong
    pts = spark.createDataFrame(
        [(i, base + i * bucket + d) for i in range(8) for d in (-1, 0, 1)],
        "pid bigint, p bigint",
    ).withColumn("pid", F.monotonically_increasing_id())
    iv = spark.createDataFrame(
        [(j, base + j * bucket, base + j * bucket + 2 * bucket - 1) for j in range(8)],
        "iid bigint, lo bigint, hi bigint",
    )
    got = {
        (r.p, r.iid) for r in range_join(pts, iv, "p", "lo", "hi", bucket=bucket).collect()
    }
    naive = {
        (r.p, r.iid)
        for r in pts.crossJoin(iv)
        .filter((F.col("lo") <= F.col("p")) & (F.col("p") <= F.col("hi")))
        .collect()
    }
    assert got == naive and len(got) > 0


def test_range_join_negative_points(spark):
    """Floor (not truncate-toward-zero) semantics for negative time
    axes: -1 belongs to bucket -1, not bucket 0."""
    pts = spark.createDataFrame(
        [(i, v) for i, v in enumerate([-25, -10, -1, 0, 1, 9])],
        "pid bigint, p bigint",
    )
    iv = spark.createDataFrame(
        [(1, -20, -5), (2, -3, 3)], "iid bigint, lo bigint, hi bigint"
    )
    got = {
        (r.p, r.iid) for r in range_join(pts, iv, "p", "lo", "hi", bucket=10).collect()
    }
    naive = {
        (r.p, r.iid)
        for r in pts.crossJoin(iv)
        .filter((F.col("lo") <= F.col("p")) & (F.col("p") <= F.col("hi")))
        .collect()
    }
    assert got == naive and len(got) > 0


def test_asof_join_null_value_from_latest_row(spark):
    """pandas merge_asof semantics: the carried values come from the
    LATEST right row, NULLs included — a NULL value must not resurrect
    an older non-null value (and under `tolerance` the freshness check
    must validate against that same latest row's timestamp)."""
    left = spark.createDataFrame([(1, 10, "x")], "k bigint, t bigint, tag string")
    right = spark.createDataFrame(
        [(1, 5, 50), (1, 8, None)], "k bigint, rt bigint, v bigint"
    )
    [row] = asof_join(left, right, "k", "t", "rt", ["v"]).collect()
    assert row.asof_v is None  # latest right row (rt=8) carries NULL

    # with two value columns: both must come from the same (latest) row
    right2 = spark.createDataFrame(
        [(1, 5, 50, "old"), (1, 8, None, "new")],
        "k bigint, rt bigint, v bigint, s string",
    )
    [row2] = asof_join(left, right2, "k", "t", "rt", ["v", "s"]).collect()
    assert row2.asof_v is None and row2.asof_s == "new"

    # tolerance: rt=8 is within 3 of t=10, so the match is fresh (and
    # still carries the NULL); with tolerance=1 nothing is fresh
    [row3] = asof_join(left, right2, "k", "t", "rt", ["v", "s"], tolerance=3).collect()
    assert row3.asof_v is None and row3.asof_s == "new"
    [row4] = asof_join(left, right2, "k", "t", "rt", ["v", "s"], tolerance=1).collect()
    assert row4.asof_v is None and row4.asof_s is None


def test_temporal_reserved_name_guards(spark):
    left = spark.createDataFrame([(1, 10, 5)], "k bigint, t bigint, __t bigint")
    right = spark.createDataFrame([(1, 5, 50)], "k bigint, rt bigint, v bigint")
    with pytest.raises(ValueError, match="reserved"):
        asof_join(left, right, "k", "t", "rt", ["v"])

    # output collision: left already has asof_v
    left2 = spark.createDataFrame([(1, 10, 5)], "k bigint, t bigint, asof_v bigint")
    with pytest.raises(ValueError, match="asof_"):
        asof_join(left2, right, "k", "t", "rt", ["v"])

    pts = spark.createDataFrame([(1, 3)], "p bigint, __b bigint")
    iv = spark.createDataFrame([(1, 0, 5)], "iid bigint, lo bigint, hi bigint")
    with pytest.raises(ValueError, match="reserved"):
        range_join(pts, iv, "p", "lo", "hi", bucket=10)
    with pytest.raises(ValueError, match="bucket"):
        range_join(iv.select("lo", "hi", F.col("iid").alias("p")), iv, "p", "lo", "hi", bucket=0)


def test_connected_components_null_ids_and_type_guard(spark):
    """NULL endpoints carry no edge semantics and must not crash the
    union-find fast path; heterogeneous endpoint types are an error,
    not a silently wrong schema."""
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (None, 7), (8, None), (10, 11)],
        "id_a bigint, id_b bigint",
    )
    for threshold in (1_000_000, None):  # fast path AND distributed path
        got = {
            (r.id, r.cluster_id)
            for r in dedup.connected_components(
                pairs, local_edge_threshold=threshold
            ).collect()
        }
        assert got == {(1, 1), (2, 1), (3, 1), (10, 10), (11, 10)}

    mixed = spark.createDataFrame([(1, "2")], "id_a bigint, id_b string")
    with pytest.raises(TypeError, match="endpoint types differ"):
        dedup.connected_components(mixed)


def test_split_bucket_overflow_parity_with_duckdb(spark):
    """Ids above ~3.46e9 used to overflow int64 in the multiply —
    Spark wrapped silently while DuckDB raised. The mod-reduce form
    must agree between engines for the full int64 id range."""
    from dbitool_spark.plans.pipeline_ops import SPLIT_MULT, SPLIT_PRIME, _split_bucket

    big_ids = [0, 1, 3_460_000_000, 5_000_000_000, 2**62, 2**63 - 1]
    df = spark.createDataFrame([(i,) for i in big_ids], "doc_id bigint")
    got = {
        r.doc_id: r.b for r in df.select("doc_id", _split_bucket("doc_id").alias("b")).collect()
    }
    con = duckdb.connect()
    for i in big_ids:
        [(expected,)] = con.execute(
            f"SELECT ((({i} % {SPLIT_PRIME}) * {SPLIT_MULT}) % {SPLIT_PRIME}) % 100"
        ).fetchall()
        assert got[i] == expected, f"doc_id={i}: spark {got[i]} != duckdb {expected}"
    con.close()


def test_split_quarantine_leaves_no_cached_frames(spark, tmp_path):
    """r4 verdict item: the quarantine split must not leave a cached
    frame behind in a long-lived session (bounded lifetime via
    localCheckpoint, not .cache())."""
    from dbitool_spark.io import csv_io
    from dbitool_spark.obs import EngineLog, check_errorsize, split_quarantine

    path = os.path.join(str(tmp_path), "bad.csv")
    os.makedirs(path)
    with open(os.path.join(path, "part-00000.csv"), "w") as fh:
        fh.write("a,b\n1,2\nbad,3\n4,5\n")
    df = csv_io.read_csv(
        spark,
        path,
        schema="a int, b int, _corrupt_record string",
        permissive_corrupt_col="_corrupt_record",
    )
    good, bad = split_quarantine(df)
    check_errorsize(bad, errorsize=5, log=EngineLog(level=2))
    assert good.count() == 2
    # no SQL cache anywhere in either branch's plan: the split runs on
    # a localCheckpoint (blocks reclaimed by ContextCleaner when the
    # frames are GC'd), never .cache() (which lingered in the cache
    # registry for the session's lifetime — the r4 leak)
    for frame in (good, bad):
        plan = frame._jdf.queryExecution().optimizedPlan().toString()
        assert "InMemoryRelation" not in plan


def test_pipeline_unpersist_failure_is_logged(spark, monkeypatch, tmp_path):
    """A failed stream release after run() is an observability event:
    it must land in the log stream (level 2), not vanish."""
    from pyspark.sql import DataFrame

    from dbitool_spark import testrow
    from dbitool_spark.io import write_csv
    from dbitool_spark.obs import EngineLog
    from dbitool_spark.pipeline import Pipeline

    src = os.path.join(str(tmp_path), "in.csv")
    write_csv(testrow.dataframe(spark, 5), src, single_file=True)
    out = os.path.join(str(tmp_path), "out.csv")
    out2 = os.path.join(str(tmp_path), "out2.csv")

    def boom(self, blocking=False):
        raise RuntimeError("synthetic unpersist failure")

    # patch the CONCRETE class: pyspark.sql.DataFrame is the abstract
    # base in Spark 4 and the classic subclass overrides unpersist
    concrete = type(testrow.dataframe(spark, 1))
    assert issubclass(concrete, DataFrame)
    monkeypatch.setattr(concrete, "unpersist", boom)
    log = EngineLog(level=2)
    p = Pipeline(spark, log=log)
    # run() only releases frames IT persisted (fan-out streams) —
    # two sinks reading one stream is what makes an unpersist happen
    p.add(f"csvread:in={src}", out="s")
    p.add("csvwrite", **{"in": "s", "out": out})
    p.add("csvwrite", **{"in": "s", "out": out2})
    p.run()
    msgs = [m for (_, mod, m, lvl) in log.rows if "unpersist" in m and "failed" in m]
    assert msgs, f"expected an unpersist-failure log line, got {log.rows}"


def test_simhash_max_hamming_matches_post_filter(spark):
    """r6 perf refactor guard: pushing max_hamming INTO the operator
    (filter before the eager checkpoint) must be semantically identical
    to filtering the full candidate set afterwards — same pairs, same
    hamming values."""
    from dbitool_spark import catalog
    from tests.conftest import SF_SMOKE

    docs = catalog.load(spark, SF_SMOKE, "documents")
    words = F.split(F.lower(F.trim(F.col("text"))), r"\s+")
    perturbed = docs.select(
        (F.col("doc_id") + 1000).alias("doc_id"),
        F.concat_ws(" ", F.slice(words, 1, F.size(words) - 1)).alias("text"),
    )
    corpus = docs.select("doc_id", "text").unionAll(perturbed)
    pushed = dedup.simhash_candidates(corpus, "doc_id", "text", max_hamming=3)
    post = dedup.simhash_candidates(corpus, "doc_id", "text").filter(
        F.col("hamming") <= 3
    )
    got = {(r.id_a, r.id_b, r.hamming) for r in pushed.collect()}
    want = {(r.id_a, r.id_b, r.hamming) for r in post.collect()}
    assert got == want
    # non-vacuity: the perturbed corpus must actually produce pairs
    # within the radius, or the equivalence proves nothing
    assert len(got) > 0


def test_bench_noise_remeasure_stamps_better_median(spark, monkeypatch, tmp_path):
    """An entry that spikes >1.5x vs the previous exclusive record is
    judged by its work counters. Equal jobs and stages: re-measured
    standalone before the sidecar is stamped (min of the two medians,
    both under noise_remeasured). A job-count change: a flagged
    regression with a work change, never re-measured away. No previous
    counters: listed under noise_unverified, not re-measured. Runs the
    real bench.main() against a scratch repo dir with a 4-query
    registry."""
    import bench
    from dbitool_spark.plans import registry as reg

    sf_dir = SF_SMOKE
    calls = {"qa": 0, "qc": 0, "qd": 0}

    def qa(s, d):
        calls["qa"] += 1
        return s.read.parquet(os.path.join(d, "region.parquet"))

    def qb(s, d):
        return s.read.parquet(os.path.join(d, "nation.parquet"))

    def qc(s, d):
        calls["qc"] += 1
        return s.read.parquet(os.path.join(d, "supplier.parquet"))

    def qd(s, d):
        calls["qd"] += 1
        return s.read.parquet(os.path.join(d, "customer.parquet"))

    monkeypatch.setattr(
        reg, "queries", lambda: {"qa": qa, "qb": qb, "qc": qc, "qd": qd}
    )
    monkeypatch.setattr(bench, "_foreign_java_pids", lambda: [])
    monkeypatch.setenv("SPARK_GRAFT_BENCH_REPO_DIR", str(tmp_path))
    monkeypatch.setenv("SPARK_GRAFT_SF_DIR", sf_dir)
    monkeypatch.setenv("SPARK_GRAFT_BENCH_RUNS", "1")
    monkeypatch.setenv("SPARK_GRAFT_BENCH_MAX_LOAD", "9999")

    # fabricated prev record: qa, qc and qd absurdly fast (any real run
    # crosses the 1.5x ratio), qb generous (never flags). qa's prev
    # counters are its live ones -> unchanged work -> re-measure; qd's
    # prev ran one job fewer -> work change; qc has NO prev counters
    # -> unverifiable, never laundered through min().
    _, qa_counters = bench._measure(qa, spark, sf_dir, 0)
    _, qd_counters = bench._measure(qd, spark, sf_dir, 0)
    prev = {
        "sf": 0.001,
        "queries": {"qa": 1e-6, "qb": 999.0, "qc": 1e-6, "qd": 1e-6},
        "counters": {
            "qa": qa_counters,
            "qd": {**qd_counters, "jobs": qd_counters["jobs"] - 1},
        },
    }
    calls.update(qa=0, qd=0)  # the probes above are not part of the budget
    (tmp_path / "BENCH_queries.json").write_text(json.dumps(prev))

    assert bench.main() == 0
    # sf0.001 has no data dir one SF decade below: the gate is skipped
    assert not (tmp_path / "BENCH_scaling.json").exists()

    data = json.loads((tmp_path / "BENCH_queries.json").read_text())
    assert sorted(data["noise_remeasured"]) == ["qa"], data
    first, re_med = data["noise_remeasured"]["qa"]
    assert data["queries"]["qa"] == min(first, re_med)
    # qa really re-ran: warmup + timed + re-warmup + re-timed
    assert calls["qa"] == 4

    # qd: a work change is not re-measured (warmup + timed only) and
    # is flagged as a regression with a work change
    assert calls["qd"] == 2
    # qc: spiked but unverifiable — listed under noise_unverified and
    # NOT re-measured
    assert data["noise_unverified"] == ["qc"]
    assert calls["qc"] == 2

    vs_prev = json.loads((tmp_path / "BENCH_vs_prev.json").read_text())
    assert vs_prev["regressions"] == ["qd"]
    assert vs_prev["regressions_with_plan_change"] == ["qd"]
    # the re-measured blip and the unverifiable one are suppressed
    # (absolute deltas far under the 0.5s gate)
    assert sorted(vs_prev["noise_suppressed"]) == ["qa", "qc"]
    assert vs_prev["noise_remeasured"] == data["noise_remeasured"]
    assert vs_prev["noise_unverified"] == data["noise_unverified"]


def test_bench_last_run_sidecar_stamped_even_on_loaded_run(
    spark, monkeypatch, tmp_path
):
    """r16 verdict item 5 (additions-only harness change): a LOADED run
    must keep refusing to overwrite the exclusive record
    (BENCH_queries.json / BENCH_vs_prev.json — unchanged behavior) while
    still stamping BENCH_last_run.json with this run's per-query
    timings and exclusive=false, so the driver's PERF diff regains
    per-query ground truth on a busy host. An exclusive run stamps the
    record as before AND the last-run sidecar with identical content."""
    import bench
    from dbitool_spark.plans import registry as reg

    sf_dir = SF_SMOKE

    def qa(s, d):
        return s.read.parquet(os.path.join(d, "region.parquet"))

    def qb(s, d):
        return s.read.parquet(os.path.join(d, "nation.parquet"))

    monkeypatch.setattr(reg, "queries", lambda: {"qa": qa, "qb": qb})
    monkeypatch.setenv("SPARK_GRAFT_BENCH_REPO_DIR", str(tmp_path))
    monkeypatch.setenv("SPARK_GRAFT_SF_DIR", sf_dir)
    monkeypatch.setenv("SPARK_GRAFT_BENCH_RUNS", "1")
    monkeypatch.setenv("SPARK_GRAFT_BENCH_MAX_LOAD", "9999")

    # --- loaded run: a foreign JVM at start fails the exclusivity gate
    monkeypatch.setattr(bench, "_foreign_java_pids", lambda: [999999])
    assert bench.main() == 0
    assert not (tmp_path / "BENCH_queries.json").exists()  # refusal intact
    last = json.loads((tmp_path / "BENCH_last_run.json").read_text())
    assert last["exclusive"] is False
    assert set(last["queries"]) == {"qa", "qb"}
    assert all(t > 0 for t in last["queries"].values())

    # --- exclusive run: record stamped as before, last-run identical
    monkeypatch.setattr(bench, "_foreign_java_pids", lambda: [])
    assert bench.main() == 0
    record = json.loads((tmp_path / "BENCH_queries.json").read_text())
    last2 = json.loads((tmp_path / "BENCH_last_run.json").read_text())
    assert record["exclusive"] is True
    assert last2 == record  # same payload object, stamped twice
    # neither run writes the scaling gate: loaded, then no sf0.0001 dir
    assert not (tmp_path / "BENCH_scaling.json").exists()


def test_bench_prev_record_is_the_sidecar_only(tmp_path):
    """vs_prev diffs against the previous run's BENCH_queries.json and
    nothing else: a legacy BENCH_r<NN>.json carrying a "queries" map
    at the same sf must not stand in for a missing sidecar."""
    import bench

    legacy = {"sf": 0.1, "queries": {"qa": 1.0}}
    (tmp_path / "BENCH_r03.json").write_text(json.dumps({"parsed": legacy}))
    (tmp_path / "BENCH_r02.json").write_text(json.dumps(legacy))
    assert bench._load_prev_bench(str(tmp_path), 0.1) is None

    (tmp_path / "BENCH_queries.json").write_text(json.dumps(legacy))
    assert bench._load_prev_bench(str(tmp_path), 0.1) == (
        "BENCH_queries.json(prev-run)", legacy
    )
    assert bench._load_prev_bench(str(tmp_path), 0.01) is None


def test_bench_measure_counters_repeat(spark):
    """The warm-up counters bench stamps per entry, and judges noise
    by, are deterministic: a registry entry's jobs and stages are
    equal across two _measure calls, and the second (warm) call reads
    the same rows. xls_roundtrip_nation's result is checkpoint-backed,
    so explain() shows only the checkpoint scan: there the counters
    are the only work signal."""
    import bench
    from dbitool_spark.plans import registry

    for name in ("q3_shipping_priority", "xls_roundtrip_nation"):
        fn = registry.queries()[name]
        _, first = bench._measure(fn, spark, SF_SMOKE, 1)
        _, second = bench._measure(fn, spark, SF_SMOKE, 1)
        assert first["jobs"] > 0 and first["stages"] > 0, name
        assert first["rows"] > 0 and first["rows"] == second["rows"], name
        assert bench._work(first) == bench._work(second), name
        if name == "q3_shipping_priority":
            assert first["shuffle_bytes"] > 0


def test_bench_scaling_gate_reds_all_pairs_growth_and_errors(
    spark, monkeypatch, tmp_path, capsys
):
    """The scaling gate runs over the registry at the sibling SF one
    decade down (sf0.01 -> sf0.001). A groupBy stays green (shuffle
    tracks rows); a self-join on a 25-value key followed by a pair
    groupBy grows with rows squared and goes red on shuffle bytes; an
    entry that raises only at the smaller SF goes red with its error
    while the others are still gated. stdout stays one JSON line."""
    import bench
    from dbitool_spark.plans import registry as reg

    def groupby(s, d):
        li = s.read.parquet(os.path.join(d, "lineitem.parquet"))
        return li.groupBy("l_orderkey").agg(F.sum("l_quantity"))

    def pairs(s, d):
        cu = s.read.parquet(os.path.join(d, "customer.parquet"))
        cu = cu.select("c_custkey", "c_nationkey")
        a = cu.select(F.col("c_custkey").alias("a"), "c_nationkey")
        b = cu.select(F.col("c_custkey").alias("b"), "c_nationkey")
        return a.join(b, "c_nationkey").groupBy("a", "b").count()

    def fails_small(s, d):
        if d.rstrip("/").endswith("sf0.001"):
            raise ValueError("planted failure at the small SF")
        return s.read.parquet(os.path.join(d, "region.parquet"))

    monkeypatch.setattr(
        reg, "queries",
        lambda: {"groupby": groupby, "pairs": pairs, "fails_small": fails_small},
    )
    monkeypatch.setattr(bench, "_foreign_java_pids", lambda: [])
    monkeypatch.setenv("SPARK_GRAFT_BENCH_REPO_DIR", str(tmp_path))
    monkeypatch.setenv("SPARK_GRAFT_SF_DIR", SF_ORACLE)
    monkeypatch.setenv("SPARK_GRAFT_BENCH_RUNS", "1")
    monkeypatch.setenv("SPARK_GRAFT_BENCH_MAX_LOAD", "9999")

    capsys.readouterr()
    assert bench.main() == 0
    out = capsys.readouterr().out.strip().splitlines()
    assert len(out) == 1 and json.loads(out[0])["n_queries"] == 3

    gate = json.loads((tmp_path / "BENCH_scaling.json").read_text())
    assert gate["sfs"] == ["sf0.001", "sf0.01"]
    assert sorted(gate["red"]) == ["fails_small", "pairs"]
    assert "planted failure" in gate["errors"]["fails_small"]
    assert set(gate["entries"]) == {"groupby", "pairs"}
    green = gate["entries"]["groupby"]
    assert green["shuffle_ratio"] <= bench.SCALING_RED_RATIO
    assert green["wall_ratio"] <= bench.SCALING_RED_RATIO
    assert gate["entries"]["pairs"]["shuffle_ratio"] > bench.SCALING_RED_RATIO
    for point in ("sf0.001", "sf0.01"):
        assert set(green[point]) == {
            "median_s", "rows", "jobs", "stages", "tasks", "shuffle_bytes"
        }
    # the gate's big side is the timing loop's measurement, stamped
    # into the queries sidecar as the entry's counters
    record = json.loads((tmp_path / "BENCH_queries.json").read_text())
    assert record["counters"]["pairs"] == {
        k: v for k, v in gate["entries"]["pairs"]["sf0.01"].items() if k != "median_s"
    }
