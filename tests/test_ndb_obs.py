"""ndb keyed-table semantics + observability layer tests."""

from __future__ import annotations

import os
import shutil
import tempfile

import pytest
from pyspark.sql import functions as F

from dbitool_spark.io import csv_io
from dbitool_spark.ndb import NdbTable
from dbitool_spark.obs import (
    EngineLog,
    ErrorSizeExceeded,
    check_errorsize,
    observed,
    split_quarantine,
)


@pytest.fixture()
def tmpdir():
    d = tempfile.mkdtemp(prefix="dbitool_ndb_")
    yield d
    shutil.rmtree(d, ignore_errors=True)


def test_ndb_upsert_replay_last_write_wins(spark, tmpdir):
    t = NdbTable(spark, os.path.join(tmpdir, "kv"), key="k", n_buckets=2)
    t.upsert(spark.createDataFrame([(1, "a"), (2, "b")], "k int, v string"))
    t.upsert(spark.createDataFrame([(2, "B"), (3, "c")], "k int, v string"))
    got = {r.k: r.v for r in t.replay().collect()}
    assert got == {1: "a", 2: "B", 3: "c"}  # later batch wins on key 2


def test_ndb_within_batch_order(spark, tmpdir):
    t = NdbTable(spark, os.path.join(tmpdir, "kv"), key="k", n_buckets=2)
    t.upsert(
        spark.createDataFrame(
            [(1, 10, "old"), (1, 20, "new")], "k int, version int, v string"
        ),
        order_by="version",
    )
    assert t.replay().filter(F.col("k") == 1).first().v == "new"


def test_ndb_crash_safety_pointer(spark, tmpdir):
    path = os.path.join(tmpdir, "kv")
    t = NdbTable(spark, path, key="k", n_buckets=1)
    t.upsert(spark.createDataFrame([(1, "a")], "k int, v string"))
    # a stray half-written version dir must not affect replay
    os.makedirs(os.path.join(path, "v99-halfwritten"), exist_ok=True)
    assert {r.k for r in t.replay().collect()} == {1}


def test_ndb_lookup_enrichment(spark, tmpdir):
    t = NdbTable(spark, os.path.join(tmpdir, "kv"), key="k", n_buckets=2)
    t.upsert(spark.createDataFrame([(1, "x"), (2, "y")], "k int, name string"))
    stream = spark.createDataFrame([(1, 100), (3, 300)], "k int, amount int")
    out = {r.k: r.name for r in t.lookup(stream, broadcast=True).collect()}
    assert out == {1: "x", 3: None}


def test_ndb_empty_replay_raises(spark, tmpdir):
    t = NdbTable(spark, os.path.join(tmpdir, "kv"), key="k")
    with pytest.raises(ValueError, match="empty"):
        t.replay()


def test_ndb_empty_batch_then_upsert(spark, tmpdir):
    """Regression: the generation counter comes from the committed
    head, not max(_GEN) over rows — an EMPTY upsert batch leaves
    max(_GEN) stale, so a counter read off the rows would recompute
    the same gen and overwrite the live version dir it reads from."""
    t = NdbTable(spark, os.path.join(tmpdir, "kv"), key="k")
    t.upsert(spark.createDataFrame([(1, "a")], "k bigint, v string"))
    t.upsert(spark.createDataFrame([], "k bigint, v string"))  # empty batch
    t.upsert(spark.createDataFrame([(1, "b"), (2, "c")], "k bigint, v string"))
    got = sorted((r.k, r.v) for r in t.replay().collect())
    assert got == [(1, "b"), (2, "c")]


@pytest.mark.parametrize("fold", [True, False])
def test_ndb_empty_first_batch_commits_bucket_layout(spark, tmpdir, fold):
    """An empty batch creating the table commits v0 as ONE zero-row,
    schema-carrying delta file (no bucket dir, no flat data file) and
    replays as 0 rows with the batch's columns; folded, it becomes one
    zero-row file under `__ndb_bucket=0/`. Either way the table then
    upserts, looks up and compacts last-write-wins, and no `current`
    file is ever written."""
    path = os.path.join(tmpdir, "kv")
    t = NdbTable(spark, path, key="k", n_buckets=4)
    t.upsert(spark.createDataFrame([], "k bigint, v string"))
    v0 = os.path.join(path, "v0")
    assert t.versions() == [0]
    names = os.listdir(v0)
    assert sorted(n for n in names if os.path.isdir(os.path.join(v0, n))) == ["_delta"]
    assert os.listdir(os.path.join(v0, "_delta")) == ["000000000000.parquet"]
    # no data file beside it (only _committed/_manifest.json)
    assert not [n for n in names if n != "_delta" and not n.startswith((".", "_"))]
    if fold:
        assert t.compact() == []  # nothing to rewrite: zero rows
        head = t._current_dir()
        dirs = [n for n in os.listdir(head) if os.path.isdir(os.path.join(head, n))]
        assert dirs == ["__ndb_bucket=0"]
    empty = t.replay()
    assert empty.count() == 0
    assert sorted(empty.columns) == ["k", "v"]

    t.upsert(spark.createDataFrame([(1, "a"), (2, "b")], "k bigint, v string"))
    t.upsert(spark.createDataFrame([(2, "B"), (3, "c")], "k bigint, v string"))
    probe = spark.createDataFrame([(1,), (2,), (9,)], "k bigint")
    got = {r.k: r.v for r in t.lookup(probe, how="left").collect()}
    assert got == {1: "a", 2: "B", 9: None}
    t.compact()
    assert {r.k: r.v for r in t.replay().collect()} == {1: "a", 2: "B", 3: "c"}
    assert not os.path.exists(os.path.join(path, "current"))


def test_ndb_version_gc(spark, tmpdir):
    """Superseded version dirs are deleted after each commit
    (keep current + previous as the crash-recovery fallback) — a
    long-running upsert stream must not accumulate one full state
    copy per micro-batch."""
    path = os.path.join(tmpdir, "kv")
    t = NdbTable(spark, path, key="k")
    for i in range(5):
        t.upsert(spark.createDataFrame([(1, f"v{i}")], "k bigint, v string"))
    vdirs = sorted(d for d in os.listdir(path) if d.startswith("v") and d[1:].isdigit())
    assert vdirs == ["v3", "v4"], vdirs
    assert [r.v for r in t.replay().collect()] == ["v4"]


def test_ndb_time_travel_snapshots(spark, tmpdir):
    """keep_versions=K retains the last K generation dirs and
    replay(as_of=g) reads each as the exact historical state — the
    transaction-log facility of the Delta/Iceberg swap on plain
    parquet. Retention past the window GCs oldest-first, and a GC'd
    generation raises (never silently serves a wrong snapshot)."""
    path = os.path.join(tmpdir, "kv")
    t = NdbTable(spark, path, key="k", n_buckets=2, keep_versions=3)
    t.upsert(spark.createDataFrame([(1, "a0"), (2, "b0")], "k bigint, v string"))
    t.upsert(spark.createDataFrame([(2, "b1")], "k bigint, v string"))
    t.upsert(spark.createDataFrame([(3, "c2")], "k bigint, v string"))
    assert t.versions() == [0, 1, 2]
    assert {r.k: r.v for r in t.replay(as_of=0).collect()} == {1: "a0", 2: "b0"}
    assert {r.k: r.v for r in t.replay(as_of=1).collect()} == {1: "a0", 2: "b1"}
    assert {r.k: r.v for r in t.replay(as_of=2).collect()} == {
        1: "a0", 2: "b1", 3: "c2",
    }
    # current-state replay unchanged by the time-travel machinery
    assert {r.k: r.v for r in t.replay().collect()} == {1: "a0", 2: "b1", 3: "c2"}
    # a 4th upsert rolls the window: v0 GCs, v1..v3 retained
    t.upsert(spark.createDataFrame([(1, "a3")], "k bigint, v string"))
    assert t.versions() == [1, 2, 3]
    with pytest.raises(ValueError, match="not retained"):
        t.replay(as_of=0)
    with pytest.raises(ValueError, match="not retained"):
        t.replay(as_of=99)
    # reopened table round-trips the retention window through meta
    t2 = NdbTable(spark, path, key="k")
    assert t2.keep_versions == 3
    assert {r.k: r.v for r in t2.replay(as_of=1).collect()} == {1: "a0", 2: "b1"}


def test_ndb_time_travel_snapshots_share_untouched_bucket_inodes(spark, tmpdir):
    """Retained snapshots cost only their own deltas: an upsert
    rewrites no bucket file and no earlier delta, so every file of the
    previous version hardlinks forward and the SAME inode appears in
    every retained version dir that carries it."""
    from dbitool_spark.ndb import _DELTA

    path = os.path.join(tmpdir, "kv")
    t = NdbTable(spark, path, key="k", n_buckets=8, keep_versions=3)
    t.upsert(
        spark.createDataFrame([(i, f"v{i}") for i in range(64)], "k bigint, v string")
    )
    t.compact()  # fold the first batch into the bucket files
    folded = t._current_dir()
    t.upsert(spark.createDataFrame([(0, "V0")], "k bigint, v string"))
    appended = t._current_dir()
    t.upsert(spark.createDataFrame([(1, "V1")], "k bigint, v string"))
    head = t._current_dir()
    b0 = _bucket_files(folded)
    assert len(b0) == 8, b0.keys()  # 64 keys reach every bucket
    # no bucket file is rewritten by either upsert: all are inode-shared
    assert _bucket_files(appended) == b0
    assert _bucket_files(head) == b0
    # the first upsert's delta carries into the next snapshot by link
    delta = os.path.join(_DELTA, os.listdir(os.path.join(appended, _DELTA))[0])
    assert os.path.samefile(os.path.join(appended, delta), os.path.join(head, delta))
    assert {r.k: r.v for r in t.replay().filter("k < 2").collect()} == {0: "V0", 1: "V1"}


def _bucket_files(vdir):
    """{bucket subdir -> {filename: (inode, size)}} for a version dir."""
    out = {}
    for name in sorted(os.listdir(vdir)):
        sub = os.path.join(vdir, name)
        if name.startswith("__ndb_bucket=") and os.path.isdir(sub):
            out[name] = {
                f: (os.stat(os.path.join(sub, f)).st_ino,
                    os.stat(os.path.join(sub, f)).st_size)
                for f in sorted(os.listdir(sub))
            }
    return out


def test_ndb_partial_rewrite_leaves_untouched_buckets_byte_identical(spark, tmpdir):
    """An upsert rewrites NO bucket: every base file carries over as a
    hardlink and the batch lands as one delta file. The fold that
    follows rewrites ONLY the hash buckets whose keys the delta holds;
    every other bucket's parquet files carry over as hardlinks — same
    inode, therefore byte-identical — and the merged semantics stay
    exactly last-write-wins."""
    path = os.path.join(tmpdir, "kv")
    t = NdbTable(spark, path, key="k", n_buckets=8)
    t.upsert(spark.createDataFrame([(i, f"a{i}") for i in range(64)], "k int, v string"))
    t.compact()
    base = t._current_dir()
    before = _bucket_files(base)
    assert len(before) > 1  # keys actually spread over buckets

    # second batch touches exactly one key -> one delta, no rewrite
    t.upsert(spark.createDataFrame([(7, "NEW")], "k int, v string"))
    appended = t._current_dir()
    assert _bucket_files(appended) == before
    assert len(os.listdir(os.path.join(appended, "_delta"))) == 1

    # the fold rewrites exactly the one bucket the delta touched
    assert len(t.compact()) == 1
    after = _bucket_files(t._current_dir())
    assert set(after) == set(before)  # same bucket set survives
    assert not os.path.exists(os.path.join(t._current_dir(), "_delta"))

    touched = f"__ndb_bucket={spark.range(1).select(F.pmod(F.xxhash64(F.lit(7).cast('int')), F.lit(8)).cast('int')).first()[0]}"
    assert touched in before
    n_linked = 0
    for bname, files in after.items():
        if bname == touched:
            assert files != before[bname]  # the touched bucket rewrote
        else:
            assert files == before[bname], f"{bname} should be hardlinked"
            n_linked += len(files)
    assert n_linked > 0

    got = {r.k: r.v for r in t.replay().collect()}
    assert got[7] == "NEW" and got[0] == "a0" and len(got) == 64


def test_ndb_reopened_table_keeps_layout_and_rejects_wrong_key(spark, tmpdir):
    """meta.json makes the stored bucket count authoritative across
    re-opens (a different constructor n_buckets must not scramble the
    prune), and a wrong key is a hard error."""
    path = os.path.join(tmpdir, "kv")
    NdbTable(spark, path, key="k", n_buckets=4).upsert(
        spark.createDataFrame([(i, i) for i in range(32)], "k int, v int")
    )
    t2 = NdbTable(spark, path, key="k", n_buckets=16)  # wrong default
    assert t2.n_buckets == 4  # stored layout wins
    t2.upsert(spark.createDataFrame([(1, 99)], "k int, v int"))
    got = {r.k: r.v for r in t2.replay().collect()}
    assert got[1] == 99 and len(got) == 32
    with pytest.raises(ValueError, match="keyed by"):
        NdbTable(spark, path, key="other")


def test_ndb_gc_preserves_hardlinked_carryover(spark, tmpdir):
    """Version GC deletes superseded dirs while untouched buckets in
    LIVE versions merely hardlink into them — the inode must outlive
    the rmtree, so state written generations ago and never touched
    since stays readable after many GC cycles."""
    path = os.path.join(tmpdir, "kv")
    t = NdbTable(spark, path, key="k", n_buckets=8)
    t.upsert(spark.createDataFrame([(i, f"a{i}") for i in range(64)], "k int, v string"))
    for j in range(4):  # repeatedly touch ONE key; GC reclaims v0..v2
        t.upsert(spark.createDataFrame([(7, f"n{j}")], "k int, v string"))
    vdirs = sorted(d for d in os.listdir(path) if d.startswith("v") and d[1:].isdigit())
    assert vdirs == ["v3", "v4"]  # older versions gone
    got = {r.k: r.v for r in t.replay().collect()}
    assert len(got) == 64 and got[7] == "n3" and got[0] == "a0"


def test_ndb_prune_false_full_rewrite_matches(spark, tmpdir):
    """Merge-on-read and the fold resolve identically: a table left
    with its deltas pending (every read resolves base + deltas) and one
    folded after every upsert (every read is a plain scan) hold the
    same state — no stale row survives a fold, none is lost by the
    read-side resolution — and a full-table lookup agrees too."""
    pa, pb = os.path.join(tmpdir, "a"), os.path.join(tmpdir, "b")
    ta = NdbTable(spark, pa, key="k", n_buckets=4)
    tb = NdbTable(spark, pb, key="k", n_buckets=4)
    b1 = spark.createDataFrame([(i, f"a{i}") for i in range(20)], "k int, v string")
    b2 = spark.createDataFrame([(5, "NEW"), (99, "x")], "k int, v string")
    ta.upsert(b1)
    ta.upsert(b2)
    tb.upsert(b1)
    tb.compact()
    tb.upsert(b2)
    tb.compact()
    assert len(os.listdir(os.path.join(ta._current_dir(), "_delta"))) == 2
    assert not os.path.exists(os.path.join(tb._current_dir(), "_delta"))
    ga = sorted((r.k, r.v) for r in ta.replay().collect())
    gb = sorted((r.k, r.v) for r in tb.replay().collect())
    assert ga == gb and len(ga) == 21 and dict(ga)[5] == "NEW"
    probe = spark.createDataFrame([(k,) for k in range(100)], "k int")
    la = sorted((r.k, r.v) for r in ta.lookup(probe, how="inner").collect())
    lb = sorted((r.k, r.v) for r in tb.lookup(probe, how="inner").collect())
    assert la == lb == ga


def test_ndb_reserved_columns_rejected(spark, tmpdir):
    t = NdbTable(spark, os.path.join(tmpdir, "kv"), key="k")
    with pytest.raises(ValueError, match="reserved"):
        t.upsert(spark.createDataFrame([(1, 0)], "k int, __ndb_bucket int"))


def test_ndb_key_dtype_drift_rejected(spark, tmpdir):
    """xxhash64 is type-sensitive: the same key value under a drifted
    dtype hashes to a different bucket and the pruned read would
    silently keep TWO rows for one key — drift must raise instead
    (review finding r9)."""
    t = NdbTable(spark, os.path.join(tmpdir, "kv"), key="k")
    t.upsert(spark.createDataFrame([(7, "a")], "k int, v string"))
    with pytest.raises(ValueError, match="dtype drift"):
        t.upsert(spark.createDataFrame([(7, "b")], "k bigint, v string"))
    # the pinned dtype survives a re-open (meta.json)
    t2 = NdbTable(spark, os.path.join(tmpdir, "kv"), key="k")
    with pytest.raises(ValueError, match="dtype drift"):
        t2.upsert(spark.createDataFrame([(7, "c")], "k bigint, v string"))
    t2.upsert(spark.createDataFrame([(7, "d")], "k int, v string"))  # same type ok
    assert {r.v for r in t2.replay().collect()} == {"d"}


def test_observed_counts(spark):
    df = spark.range(100)
    df2, obs = observed(df.filter(F.col("id") < 40), "filtered")
    assert df2.count() == 40
    assert obs.get["rows"] == 40


def test_quarantine_split_and_errorsize(spark, tmpdir):
    path = os.path.join(tmpdir, "bad.csv")
    os.makedirs(path)
    with open(os.path.join(path, "part-00000.csv"), "w") as fh:
        fh.write("a,b\n1,2\n3,4\nnot-an-int,5\nalso bad,6\n9,10\n")
    df = csv_io.read_csv(
        spark,
        path,
        schema="a int, b int, _corrupt_record string",
        permissive_corrupt_col="_corrupt_record",
    )
    good, bad = split_quarantine(df)
    assert good.count() == 3
    assert bad.count() == 2
    log = EngineLog(level=2)
    n = check_errorsize(bad, errorsize=3, log=log, mod="csvread")
    assert n == 2
    with pytest.raises(ErrorSizeExceeded):
        check_errorsize(bad, errorsize=2, log=log, mod="csvread")
    # the log is itself a queryable table (reference log-as-data)
    ldf = log.log_df(spark)
    assert ldf.filter(F.col("msg").startswith("ERROR")).count() >= 2
    assert set(ldf.columns) == {"time", "mod", "msg", "level"}


def test_log_levels(spark):
    log = EngineLog(level=1)
    log.log("m", "level1", 1)
    log.log("m", "level3-dropped", 3)
    log.error("m", "boom")
    msgs = [r.msg for r in log.log_df(spark).collect()]
    assert "level1" in msgs and "ERROR: boom" in msgs
    assert all("level3" not in m for m in msgs)


def test_stream_progress_logger(spark, tmp_path):
    """TODO:24-26 progress relay: a drained file stream must leave
    started/batch-progress/terminated rows in the EngineLog, and
    detach() must stop further capture."""
    import time

    from dbitool_spark import streaming
    from dbitool_spark.io import json_io
    from dbitool_spark.obs import EngineLog, StreamProgressLogger

    src = str(tmp_path / "prog_src")
    json_io.write_ndjson(
        spark.range(100).selectExpr("id", "id * 2 AS v"), src
    )
    log = EngineLog(level=3)
    prog = StreamProgressLogger(spark, log, level=2)
    try:
        stream = streaming.stream_ndjson(spark, src, "id bigint, v bigint")
        streaming.drain_to_memory(stream, "prog_sink_test", output_mode="append")
        # listener events are delivered asynchronously off the bus
        deadline = time.time() + 20
        while time.time() < deadline:
            msgs = [m for _, mod, m, _ in log.rows if mod == "progress"]
            if any("batch=" in m for m in msgs) and any(
                "terminated" in m for m in msgs
            ):
                break
            time.sleep(0.25)
        msgs = [m for _, mod, m, _ in log.rows if mod == "progress"]
        assert any("started" in m for m in msgs)
        assert any("batch=" in m and "rows=" in m for m in msgs)
        assert any("terminated" in m for m in msgs)
    finally:
        prog.detach()
        spark.catalog.dropTempView("prog_sink_test")


@pytest.mark.slow
def test_ndb_bucket_prune_scales_with_touched_fraction(spark, tmpdir):
    """The bucket-prune claim at REALISTIC state size, on the
    merge-on-read commit. State = 2x10^6 keys across 32 buckets (~20 MB
    parquet); batch touches exactly 2 buckets.
    (a) the upsert itself writes ONLY its delta: every base file
        carries over as a hardlink (same inode) and the fresh bytes are
        the one delta file, far below the two touched buckets' size;
    (b) the fold that follows rewrites bytes ~ state*b/n + batch, NOT
        ~ state: freshly written (non-hardlinked) bytes stay under 3x
        the two touched buckets' prior size, and >= 30/32 of the prior
        bytes carry over as hardlinks — THE load-bearing scale
        assertion (deterministic);
    (c) wall-clock tripwire: best-of-2 folds of the 2-bucket batch vs
        best-of-2 folds of an equally-sized batch spread over all 32
        buckets (the full rewrite) must stay under a 1.15x ceiling —
        bytes are the real b/n proof; this only catches the pruned
        fold becoming pathologically slower than the full one;
    (d) the CURVE, not one point: folds touching b in {1, 4, 8} of 32
        buckets must put rewritten bytes on a through-origin linear
        fit in the touched buckets' prior size (each point within 45%
        of the fit, slope in [0.4, 2.5], monotone in b) — the
        O(state*b/n + batch) cost shape asserted as a measured slope.
    Numbers are printed for the bench record."""
    import time

    path = os.path.join(tmpdir, "big_kv")
    n_state = 2_000_000
    t = NdbTable(spark, path, key="k", n_buckets=32)
    base = spark.range(n_state).select(
        F.col("id").cast("long").alias("k"),
        F.concat(F.lit("payload_"), F.col("id")).alias("v"),
    )
    t.upsert(base)
    t.compact()
    before = _bucket_files(t._current_dir())
    assert len(before) == 32
    state_bytes = sum(sz for files in before.values() for (_ino, sz) in files.values())

    # batch keys confined to exactly 2 hash buckets, sampled from the
    # live key range so the fold truly rewrites those buckets
    bucket = F.pmod(F.xxhash64(F.col("k")), F.lit(32)).cast("int")
    batch = (
        spark.range(0, n_state, 97)
        .select(F.col("id").cast("long").alias("k"))
        .filter(bucket.isin(0, 1))
        .withColumn("v", F.lit("UPDATED"))
    )
    n_batch = batch.count()
    assert n_batch > 100  # non-trivial batch

    def fresh_bytes(vdir, prior_inodes):
        """(fresh, linked) data bytes of a version vs prior inodes."""
        fresh = linked = 0
        for dirpath, _dirs, files in os.walk(vdir):
            for fn in files:
                if fn.startswith((".", "_")):
                    continue
                st = os.stat(os.path.join(dirpath, fn))
                if st.st_ino in prior_inodes:
                    linked += st.st_size
                else:
                    fresh += st.st_size
        return fresh, linked

    prev_inodes = {ino for files in before.values() for (ino, _sz) in files.values()}
    touched_dirs = {"__ndb_bucket=0", "__ndb_bucket=1"}
    touched_prior = sum(
        sz for d in touched_dirs for (_ino, sz) in before[d].values()
    )
    # (a) the append: one delta, every base byte linked
    base_data_bytes = fresh_bytes(t._current_dir(), set())[0]
    t.upsert(batch)
    appended = t._current_dir()
    assert _bucket_files(appended) == before
    delta_bytes, linked_bytes = fresh_bytes(appended, prev_inodes)
    assert len(os.listdir(os.path.join(appended, "_delta"))) == 1
    assert linked_bytes == base_data_bytes
    assert delta_bytes < touched_prior / 4, (delta_bytes, touched_prior)

    # (b) the fold: bytes scale with b/n
    t0 = time.monotonic()
    assert t.compact() == [0, 1]
    pruned_s = time.monotonic() - t0
    after = _bucket_files(t._current_dir())
    assert set(after) == set(before)
    rewritten_bytes, linked_bytes = fresh_bytes(t._current_dir(), prev_inodes)
    for bname in after:
        if bname not in touched_dirs:
            assert after[bname] == before[bname], f"{bname} must hardlink"
    assert rewritten_bytes <= 3 * touched_prior, (
        f"rewrote {rewritten_bytes}B vs touched-prior {touched_prior}B "
        f"(state {state_bytes}B) — prune degraded toward full rewrite"
    )
    assert linked_bytes >= state_bytes * 30 / 32 * 0.95

    # (c) wall-clock tripwire: best-of-2 each (first pruned sample is
    # the one measured above), ceiling 1.15x
    t.upsert(batch.withColumn("v", F.lit("UPDATED2")))
    t0 = time.monotonic()
    t.compact()
    pruned_s = min(pruned_s, time.monotonic() - t0)
    spread = spark.range(0, n_state, 97 * 16).select(
        F.col("id").cast("long").alias("k")
    )
    full_s = float("inf")
    for tag in ("FULL3", "FULL4"):
        t.upsert(spread.withColumn("v", F.lit(tag)))
        t0 = time.monotonic()
        assert len(t.compact()) == 32
        full_s = min(full_s, time.monotonic() - t0)
    assert pruned_s < full_s * 1.15, (
        f"pruned fold {pruned_s:.2f}s much slower than full {full_s:.2f}s"
    )
    print(
        f"\nNDB_PRUNE_SCALE state_rows={n_state} state_bytes={state_bytes} "
        f"batch_rows={n_batch} delta_bytes={delta_bytes} "
        f"rewritten_bytes={rewritten_bytes} linked_bytes={linked_bytes} "
        f"pruned_s={pruned_s:.2f} full_s={full_s:.2f}"
    )

    # (d) the b/n SLOPE: sweep b in {1, 4, 8} touched buckets on
    # successive upsert + fold rounds over the same 2M-key state and
    # assert rewritten (non-hardlinked) bytes track a THROUGH-ORIGIN
    # linear fit in the touched buckets' prior size. Also: per-step
    # hardlink carryover of the (32-b) untouched buckets, and monotone
    # growth in b.
    sweep = []  # (b, touched_prior_bytes, rewritten_bytes)
    bucket_sets = {1: (3,), 4: (4, 5, 6, 7), 8: tuple(range(8, 16))}
    for b, bset in bucket_sets.items():
        prior = _bucket_files(t._current_dir())
        prior_inodes = {
            ino for files in prior.values() for (ino, _sz) in files.values()
        }
        state_now = sum(
            sz for files in prior.values() for (_ino, sz) in files.values()
        )
        tp = sum(
            sz
            for i in bset
            for (_ino, sz) in prior[f"__ndb_bucket={i}"].values()
        )
        t.upsert(
            spark.range(0, n_state, 97)
            .select(F.col("id").cast("long").alias("k"))
            .filter(bucket.isin(*bset))
            .withColumn("v", F.lit(f"SWEEP{b}"))
        )
        assert t.compact() == list(bset)
        rw, lk = fresh_bytes(t._current_dir(), prior_inodes)
        assert lk >= state_now * (32 - b) / 32 * 0.95, (b, lk, state_now)
        sweep.append((b, tp, rw))
    slope = sum(tp * rw for _b, tp, rw in sweep) / sum(
        tp * tp for _b, tp, _rw in sweep
    )
    # rewriting a touched bucket costs ~its own size (re-encode of the
    # same rows +- compression drift); a slope drifting high means the
    # fold is rewriting more than it touches
    assert 0.4 <= slope <= 2.5, f"rewrite slope {slope:.2f} off the b/n line"
    for b, tp, rw in sweep:
        assert abs(rw - slope * tp) <= 0.45 * slope * tp, (
            f"b={b}: rewritten {rw}B deviates from linear fit "
            f"{slope:.2f}*{tp}B by >45% — not the b/n shape"
        )
    assert sweep[0][2] < sweep[1][2] < sweep[2][2], sweep
    print(
        "NDB_PRUNE_SLOPE "
        + " ".join(f"b={b}:touched={tp}B:rewritten={rw}B" for b, tp, rw in sweep)
        + f" slope={slope:.3f}"
    )

    # semantics spot-check after all merges
    got = t.replay().filter(F.col("k").isin(0, 97 * 3, 5)).collect()
    m = {r.k: r.v for r in got}
    assert m[5] == "payload_5"


@pytest.mark.slow
def test_ndb_intra_bucket_file_pruning(spark, tmpdir):
    """Row-group/file-level pruning WITHIN a touched bucket, in the
    fold. files_per_bucket=4 writes each bucket as key-range files
    sorted by key (tight parquet min/max footer stats); a delta
    confined to a narrow key range must
    (a) be folded reading only the intersecting files: bytes_read
        strictly under half the touched buckets' prior bytes, with the
        skipped files hardlinked forward (same inode in the new
        version); the upsert before it wrote one delta and linked
        every base file;
    (b) keep exact upsert semantics: updated keys win, every other
        row carries over;
    (c) write sorted files: each data file's footer key range is
        tight and intra-bucket ranges cover disjoint key spans on the
        FIRST fold, before drift;
    (d) a reopened table keeps files_per_bucket from meta."""
    path = os.path.join(tmpdir, "fpb_kv")
    t = NdbTable(spark, path, key="k", n_buckets=8, files_per_bucket=4)
    n_state = 200_000
    base = spark.range(n_state).select(
        F.col("id").cast("long").alias("k"),
        F.concat(F.lit("payload_"), F.col("id")).alias("v"),
    )
    t.upsert(base)
    t.compact()
    v0 = t._current_dir()

    def data_files(vdir):
        out = {}
        for bname in os.listdir(vdir):
            if not bname.startswith("__ndb_bucket="):
                continue
            for fn in os.listdir(os.path.join(vdir, bname)):
                fp = os.path.join(vdir, bname, fn)
                if os.path.isfile(fp) and not fn.startswith((".", "_")):
                    st = os.stat(fp)
                    out[os.path.join(bname, fn)] = (st.st_ino, st.st_size)
        return out

    before = data_files(v0)
    # (c) multiple sorted range files per bucket with sane footer stats
    per_bucket: dict[str, list] = {}
    for rel in before:
        b = rel.split(os.sep)[0]
        rng = NdbTable._file_key_range(os.path.join(v0, rel), "k")
        assert rng is not None and rng[0] <= rng[1]
        per_bucket.setdefault(b, []).append(rng)
    assert all(len(v) >= 2 for v in per_bucket.values()), {
        k: len(v) for k, v in per_bucket.items()
    }
    for ranges in per_bucket.values():
        ranges.sort()
        for (a_lo, a_hi), (b_lo, b_hi) in zip(ranges, ranges[1:]):
            assert a_hi <= b_lo, "first-write range files overlap"

    # (a) narrow-range batch: 1000 consecutive keys
    batch = spark.range(50_000, 51_000).select(
        F.col("id").cast("long").alias("k"), F.lit("UPDATED").alias("v")
    )
    t.upsert(batch)
    assert data_files(t._current_dir()) == before  # the append linked all
    t.compact()
    stats = t.last_prune_stats
    touched_prior = stats["bytes_read"] + stats["bytes_carried"]
    assert stats["files_carried"] > 0
    assert stats["bytes_read"] < 0.5 * touched_prior, stats
    after = data_files(t._current_dir())
    carried_inodes = {ino for (ino, _sz) in before.values()} & {
        ino for (ino, _sz) in after.values()
    }
    assert len(carried_inodes) >= stats["files_carried"]
    print(f"NDB_INTRA_BUCKET_PRUNE {stats} touched_prior={touched_prior}B")

    # (b) semantics: every batch key updated, everything else intact
    rp = t.replay()
    assert rp.count() == n_state
    assert (
        rp.filter((F.col("k") >= 50_000) & (F.col("k") < 51_000))
        .filter(F.col("v") == "UPDATED")
        .count()
        == 1000
    )
    assert rp.filter(F.col("k") == 123).collect()[0].v == "payload_123"

    # (d) reopen: layout from meta, not the constructor default
    t2 = NdbTable(spark, path, key="k")
    assert t2.files_per_bucket == 4


def test_ndb_compact_coalesces_file_growth(spark, tmpdir):
    """compact() on a delta-free head — the OPTIMIZE analog. Two
    claims:
    (1) the fold invariant: range-intersection selection +
        range-partitioned rewrite PRESERVES intra-bucket range
        disjointness (no bucket ever holds overlapping files), so
        pruning never degrades by overlap — what grows is the file
        count (~files_per_bucket new files per touched bucket per
        fold);
    (2) compact() coalesces exactly the grown buckets back to ~fpb
        sorted range files, hardlinks untouched buckets by inode,
        preserves every row, and is idempotent."""
    path = os.path.join(tmpdir, "cpt_kv")
    t = NdbTable(spark, path, key="k", n_buckets=4, files_per_bucket=3)
    base = spark.range(40_000).select(
        F.col("id").alias("k"), (F.col("id") * 2).alias("v")
    )
    t.upsert(base)
    t.compact()
    # three narrow upserts (updates + some brand-new keys), each folded,
    # grow files
    for lo in (1_000, 9_000, 41_000):
        t.upsert(
            spark.range(lo, lo + 500).select(
                F.col("id").alias("k"), F.lit(-1).cast("long").alias("v")
            )
        )
        assert t.compact(), "the fold rewrote nothing"

    def ranges_by_bucket(vdir):
        out = {}
        for bname in os.listdir(vdir):
            if not bname.startswith("__ndb_bucket="):
                continue
            rs = []
            for fn in sorted(os.listdir(os.path.join(vdir, bname))):
                fp = os.path.join(vdir, bname, fn)
                if os.path.isfile(fp) and not fn.startswith((".", "_")):
                    rs.append(NdbTable._file_key_range(fp, "k"))
            out[bname] = sorted(rs)
        return out

    def overlapping(out):
        bad = []
        for b, rs in out.items():
            for (a_lo, a_hi), (b_lo, b_hi) in zip(rs, rs[1:]):
                if a_hi > b_lo:
                    bad.append(b)
                    break
        return bad

    cur = t._current_dir()
    drifted = ranges_by_bucket(cur)
    # claim (1): never overlapping, but file counts grew past fpb
    assert overlapping(drifted) == [], drifted
    assert any(len(rs) > 3 + 1 for rs in drifted.values()), {
        b: len(rs) for b, rs in drifted.items()
    }

    def inodes(vdir):
        out = {}
        for bname in os.listdir(vdir):
            if not bname.startswith("__ndb_bucket="):
                continue
            for fn in os.listdir(os.path.join(vdir, bname)):
                fp = os.path.join(vdir, bname, fn)
                if os.path.isfile(fp) and not fn.startswith((".", "_")):
                    out.setdefault(bname, set()).add(os.stat(fp).st_ino)
        return out

    before_inodes = inodes(cur)
    rewritten = t.compact()
    assert rewritten, "nothing compacted"
    cur2 = t._current_dir()
    assert cur2 != cur
    after = ranges_by_bucket(cur2)
    assert overlapping(after) == [], after
    # coalesced: every rewritten bucket is back to AT MOST fpb files —
    # deterministic by construction (the ntile-slot rewrite)
    for b in after:
        if int(b.split("=", 1)[1]) in set(rewritten):
            assert len(after[b]) <= 3, (b, len(after[b]))
    # untouched buckets carried by inode
    after_inodes = inodes(cur2)
    untouched = [
        b for b in before_inodes
        if int(b.split("=", 1)[1]) not in set(rewritten)
    ]
    for b in untouched:
        assert before_inodes[b] == after_inodes[b], b
    # every row survives, values exact
    rp = t.replay()
    assert rp.count() == 40_500  # 40k base + 500 new keys at 41k
    assert rp.filter((F.col("k") == 1_100) & (F.col("v") == -1)).count() == 1
    assert rp.filter((F.col("k") == 41_100) & (F.col("v") == -1)).count() == 1
    assert rp.filter((F.col("k") == 30_000) & (F.col("v") == 60_000)).count() == 1
    # idempotent: a coalesced state has nothing to rewrite
    assert t.compact() == []


def test_ndb_range_pruned_replay_prunes_within_buckets(spark):
    """The staged driver entry actually exercises the intra-bucket
    path: the marker batch's contiguous id range hashes across EVERY
    bucket (bucket pruning can't help), yet under half the touched
    buckets' bytes are read — the rest hardlink forward — and the
    result is byte-stable across repeated calls in one process."""
    from dbitool_spark.plans import state_ops

    df1 = state_ops.ndb_range_pruned_replay(spark, "/root/testdata/sf0.01")
    r1 = sorted(map(tuple, df1.collect()))
    stats = dict(state_ops._LAST_RANGE_PRUNE_STATS)
    assert stats, "pruned path never engaged"
    assert stats["touched_buckets"] == 8  # range keys hash everywhere
    assert stats["files_carried"] > 0
    frac = stats["bytes_read"] / (stats["bytes_read"] + stats["bytes_carried"])
    assert frac < 0.5, stats
    touched = [t for t in r1 if 100 <= t[0] < 130]
    assert touched and all(t[1] == -1 and t[2] == "touched" for t in touched)

    df2 = state_ops.ndb_range_pruned_replay(spark, "/root/testdata/sf0.01")
    assert sorted(map(tuple, df2.collect())) == r1


def test_ndb_merge_upsert_rules(spark, tmpdir):
    """merge_upsert: per-column combine rules (sum/min/max/last/first)
    fold a pre-aggregated batch into the stored row per key — the
    MERGE-with-aggregation primitive behind continuous aggregates."""
    t = NdbTable(spark, os.path.join(tmpdir, "kv"), key="k", n_buckets=2)
    schema = "k bigint, n bigint, lo bigint, hi bigint, tag string, origin string"
    t.merge_upsert(
        spark.createDataFrame([(1, 10, 5, 5, "a", "first")], schema),
        combine={"n": "sum", "lo": "min", "hi": "max", "tag": "last", "origin": "first"},
    )
    t.merge_upsert(
        spark.createDataFrame(
            [(1, 7, 3, 9, "b", "second"), (2, 1, 1, 1, "x", "x0")], schema
        ),
        combine={"n": "sum", "lo": "min", "hi": "max", "tag": "last", "origin": "first"},
    )
    got = {r.k: r for r in t.replay().collect()}
    assert (got[1].n, got[1].lo, got[1].hi) == (17, 3, 9)
    assert got[1].tag == "b"        # last: batch wins
    assert got[1].origin == "first"  # first: stored wins
    assert (got[2].n, got[2].lo, got[2].hi) == (1, 1, 1)
    # NULL is the sum identity and never poisons the fold
    t.merge_upsert(
        spark.createDataFrame([(1, None, None, None, None, None)], schema),
        combine={"n": "sum", "lo": "min", "hi": "max", "tag": "last", "origin": "first"},
    )
    r1 = {r.k: r for r in t.replay().collect()}[1]
    assert (r1.n, r1.lo, r1.hi, r1.tag, r1.origin) == (17, 3, 9, "b", "first")


def test_ndb_merge_upsert_rejects_bad_input(spark, tmpdir):
    t = NdbTable(spark, os.path.join(tmpdir, "kv"), key="k", n_buckets=2)
    df = spark.createDataFrame([(1, 1), (1, 2)], "k bigint, n bigint")
    with pytest.raises(ValueError, match="duplicate keys"):
        t.merge_upsert(df, combine={"n": "sum"})
    ok = spark.createDataFrame([(1, 1)], "k bigint, n bigint")
    with pytest.raises(ValueError, match="unknown combine"):
        t.merge_upsert(ok, combine={"n": "avg"})
    with pytest.raises(ValueError, match="cannot carry"):
        t.merge_upsert(ok, combine={"k": "sum"})


def test_ndb_merge_upsert_matches_batch_groupby(spark, tmpdir):
    """Additive merges over arbitrary batch splits equal one batch
    GROUP BY — micro-batch-boundary invariance at the table level,
    and decimal sums keep their declared precision across merges."""
    import decimal

    rows = [(i % 7, 1, decimal.Decimal(f"{i}.25")) for i in range(40)]
    schema = "k bigint, n bigint, v decimal(18,6)"
    t = NdbTable(spark, os.path.join(tmpdir, "kv"), key="k", n_buckets=4)
    for lo, hi in ((0, 13), (13, 14), (14, 40)):  # lopsided splits
        batch = (
            spark.createDataFrame(rows[lo:hi], schema)
            .groupBy("k")
            .agg(
                F.sum("n").alias("n"),
                F.sum("v").cast("decimal(18,6)").alias("v"),
            )
        )
        t.merge_upsert(batch, combine={"n": "sum", "v": "sum"})
    got = {r.k: (r.n, r.v) for r in t.replay().collect()}
    expect = {}
    for k, n, v in rows:
        pn, pv = expect.get(k, (0, decimal.Decimal(0)))
        expect[k] = (pn + n, pv + v)
    assert got == expect
    assert dict(t.replay().dtypes)["v"] == "decimal(18,6)"


def test_ndb_writer_lock_blocks_live_foreign_owner(spark, tmpdir):
    """The advisory single-writer guard: a lock held by a LIVE foreign
    process (here: pid 1 with its true kernel start time) makes
    upsert raise instead of racing the other writer's commit; a STALE lock
    (dead pid, or a live pid whose start time mismatches — i.e. PID
    reuse) is stolen silently; single_writer=False bypasses the guard
    entirely."""
    from dbitool_spark.ndb import NdbTable, _proc_start_ticks

    path = os.path.join(tmpdir, "kv")
    t = NdbTable(spark, path, key="k", n_buckets=2)
    df = spark.createDataFrame([(1, "a")], "k bigint, v string")
    t.upsert(df)  # creates the table; lock released after

    lock = os.path.join(path, ".writer_lock")
    start1 = _proc_start_ticks(1)
    if start1 is not None and start1 >= 0:
        with open(lock, "w") as fh:
            fh.write(f"1 {start1}")  # live foreign owner
        with pytest.raises(RuntimeError, match="locked by live writer"):
            t.upsert(df)
        # override hatch
        t2 = NdbTable(spark, path, key="k", single_writer=False)
        t2.upsert(spark.createDataFrame([(2, "b")], "k bigint, v string"))
        os.unlink(lock)

    # dead owner: impossible pid -> stolen, upsert proceeds
    with open(lock, "w") as fh:
        fh.write("99999999 12345")
    t.upsert(spark.createDataFrame([(3, "c")], "k bigint, v string"))
    assert not os.path.exists(lock)  # released after the write

    # PID-reuse: live pid, WRONG start stamp -> provably not the
    # original owner -> stolen
    if start1 is not None and start1 >= 0:
        with open(lock, "w") as fh:
            fh.write(f"1 {start1 + 777}")
        t.upsert(spark.createDataFrame([(4, "d")], "k bigint, v string"))
    got = {r.k for r in t.replay().collect()}
    assert 3 in got and 1 in got


def test_ndb_schema_drift_is_a_loud_error_by_default(spark, tmpdir):
    t = NdbTable(spark, os.path.join(tmpdir, "kv"), key="k", n_buckets=2)
    t.upsert(spark.createDataFrame([(1, "a")], "k bigint, v string"))
    with pytest.raises(ValueError, match="schema drift.*evolve_schema"):
        t.upsert(
            spark.createDataFrame([(2, "b", 9)], "k bigint, v string, extra bigint")
        )


def test_ndb_schema_evolution_add_and_drop_columns(spark, tmpdir):
    """evolve_schema=True: a batch may ADD columns (old rows read NULL
    there — including rows living in HARDLINKED old-schema files of
    untouched buckets, which is why evolved reads merge parquet
    footers) or DROP columns (new rows read NULL in the dropped ones);
    last-write-wins semantics are unchanged, meta round-trips the
    evolved flag so a plain reopen still reads mixed-schema dirs, and
    merge_upsert folds never-seen columns against NULL."""
    path = os.path.join(tmpdir, "kv")
    t = NdbTable(spark, path, key="k", n_buckets=4, evolve_schema=True)
    # keys 0..15 spread over buckets; the evolving batch touches ONE
    # key so most buckets hardlink forward with the OLD schema
    t.upsert(
        spark.createDataFrame([(i, f"v{i}") for i in range(16)], "k bigint, v string")
    )
    t.upsert(
        spark.createDataFrame([(0, "V0", 42)], "k bigint, v string, extra bigint")
    )
    got = {r.k: (r.v, r.extra) for r in t.replay().collect()}
    assert got[0] == ("V0", 42)
    assert got[5] == ("v5", None)  # old row in a hardlinked file
    assert len(got) == 16

    # DROP: a narrower batch still merges; its row reads NULL extras
    t.upsert(spark.createDataFrame([(1, "V1")], "k bigint, v string"))
    got = {r.k: (r.v, r.extra) for r in t.replay().collect()}
    assert got[1] == ("V1", None)
    assert got[0] == ("V0", 42)

    # reopen WITHOUT the flag: reads still mergeSchema (meta), and a
    # further drifting write is refused (evolution is per-instance
    # opt-in, not a permanent table property)
    t2 = NdbTable(spark, path, key="k")
    assert {r.k: r.extra for r in t2.replay().collect()}[0] == 42
    with pytest.raises(ValueError, match="schema drift"):
        t2.upsert(spark.createDataFrame([(2, "x", 1, 2)],
                  "k bigint, v string, extra bigint, more bigint"))

    # merge_upsert on the evolved table: a column the stored state has
    # never seen folds against NULL
    t3 = NdbTable(spark, path, key="k", evolve_schema=True)
    t3.merge_upsert(
        spark.createDataFrame([(0, "V0b", 8, 100)],
                              "k bigint, v string, extra bigint, n bigint"),
        combine={"extra": "sum", "n": "sum", "v": "last"},
    )
    got = {r.k: (r.v, r.extra, r.n) for r in t3.replay().collect()}
    assert got[0] == ("V0b", 50, 100)
    assert got[5] == ("v5", None, None)


def test_ndb_compact_holds_writer_lock(spark, tmpdir):
    """compact() takes the same advisory writer guard as upsert(): a
    live foreign owner's lock makes it raise instead of racing the
    other writer's commit, and a dead owner's lock is stolen so
    maintenance still proceeds."""
    from dbitool_spark.ndb import _proc_start_ticks

    path = os.path.join(tmpdir, "kv")
    t = NdbTable(spark, path, key="k", n_buckets=2, files_per_bucket=2)
    t.upsert(spark.createDataFrame([(1, "a"), (2, "b")], "k bigint, v string"))

    lock = os.path.join(path, ".writer_lock")
    start1 = _proc_start_ticks(1)
    if start1 is not None and start1 >= 0:
        with open(lock, "w") as fh:
            fh.write(f"1 {start1}")  # live foreign owner
        with pytest.raises(RuntimeError, match="locked by live writer"):
            t.compact()
        os.unlink(lock)

    # dead owner: stolen, compact proceeds and releases
    with open(lock, "w") as fh:
        fh.write("99999999 12345")
    t.compact()  # selection may be empty; the lock path still runs
    assert not os.path.exists(lock)


def test_ndb_unverifiable_lock_stamp_is_not_stealable(spark, tmpdir):
    """A lock stamped with the no-self-identity sentinel (writer on a
    platform without readable /proc) must be treated as ALIVE — the
    pre-fix 'pid 0' stamp read as PID-recycled and made every such
    lock silently stealable, degrading the guard to a no-op."""
    from dbitool_spark.ndb import _NO_SELF_IDENTITY

    path = os.path.join(tmpdir, "kv")
    t = NdbTable(spark, path, key="k", n_buckets=2)
    df = spark.createDataFrame([(1, "a")], "k bigint, v string")
    t.upsert(df)

    lock = os.path.join(path, ".writer_lock")
    with open(lock, "w") as fh:
        fh.write(f"424242 {_NO_SELF_IDENTITY}")  # foreign, unverifiable
    with pytest.raises(RuntimeError, match="unverifiable identity"):
        t.upsert(df)
    os.unlink(lock)


def test_ndb_keep_versions_widens_on_reopen(spark, tmpdir):
    """Reopening with a LARGER keep_versions widens the retention
    window (the remediation replay(as_of)'s error message prescribes —
    ADVICE r12: meta used to override the constructor arg silently);
    reopening with the default never narrows what meta recorded."""
    path = os.path.join(tmpdir, "kv")
    t = NdbTable(spark, path, key="k", n_buckets=2)  # default window 2
    for i in range(3):
        t.upsert(spark.createDataFrame([(1, f"v{i}")], "k bigint, v string"))
    assert t.versions() == [1, 2]

    wide = NdbTable(spark, path, key="k", keep_versions=4)
    assert wide.keep_versions == 4
    for i in range(3, 6):
        wide.upsert(spark.createDataFrame([(1, f"v{i}")], "k bigint, v string"))
    assert wide.versions() == [2, 3, 4, 5]
    assert [r.v for r in wide.replay(as_of=2).collect()] == ["v2"]

    # a default reopen keeps the widened window from meta (no narrow)
    again = NdbTable(spark, path, key="k")
    assert again.keep_versions == 4


def test_ndb_compact_selects_fpb_plus_one_file_buckets(spark, tmpdir):
    """The coalesce threshold is exactly files_per_bucket: a bucket
    left at fpb+1 files by a fold straddle is selected and coalesced,
    not skipped forever — and compact stays idempotent because the
    ntile rewrite converges to <= fpb."""
    path = os.path.join(tmpdir, "kv")
    t = NdbTable(spark, path, key="k", n_buckets=1, files_per_bucket=2)
    t.upsert(
        spark.range(1_000).select(F.col("id").alias("k"), F.col("id").alias("v"))
    )
    assert t.compact() == [0]  # the fold writes the base
    # one narrow update, folded, adds files: bucket ends above fpb
    t.upsert(
        spark.range(10, 20).select(
            F.col("id").alias("k"), F.lit(-1).cast("long").alias("v")
        )
    )
    assert t.compact() == [0]
    cur = t._current_dir()
    bdir = next(
        os.path.join(cur, d) for d in os.listdir(cur)
        if d.startswith("__ndb_bucket=")
    )
    n_files = len(
        [f for f in os.listdir(bdir)
         if os.path.isfile(os.path.join(bdir, f)) and not f.startswith((".", "_"))]
    )
    if n_files <= 2:  # straddle didn't materialize at this size: force it
        t.upsert(
            spark.range(500, 505).select(
                F.col("id").alias("k"), F.lit(-2).cast("long").alias("v")
            )
        )
        assert t.compact() == [0]
    assert t.compact() == [0]
    assert t.compact() == []  # converged: idempotent at <= fpb files
    assert t.replay().count() == 1_000


def test_ndb_lifecycle_merge_evolve_compact_time_travel(spark, tmpdir):
    """The long-lived-table LIFECYCLE (r12 verdict item 7) — the
    composition a 100 TB pipeline actually runs, not just the pieces:
    six merge_upsert batches with a schema evolution (added column)
    mid-stream, a compact() after the growth, time travel across the
    evolution boundary, and the final state checked row-for-row
    against an independently-computed expectation."""
    path = os.path.join(tmpdir, "kv")
    t = NdbTable(
        spark, path, key="k", n_buckets=4, files_per_bucket=2,
        keep_versions=8, evolve_schema=True,
    )
    # batches 0-2: (k, total=1) partials folded additively
    for g in range(3):
        t.merge_upsert(
            spark.range(g * 10, g * 10 + 25).select(
                F.col("id").alias("k"), F.lit(1).cast("long").alias("total")
            ),
            combine={"total": "sum"},
        )
    # mid-stream EVOLUTION: batches 3-5 add a max-folded 'seen' column
    for g in range(3, 6):
        t.merge_upsert(
            spark.range(g * 10, g * 10 + 25).select(
                F.col("id").alias("k"),
                F.lit(1).cast("long").alias("total"),
                F.lit(g).cast("long").alias("seen"),
            ),
            combine={"total": "sum", "seen": "max"},
        )
    assert t.versions() == [0, 1, 2, 3, 4, 5]

    # independent expectation
    def batch_keys(g):
        return set(range(g * 10, g * 10 + 25))

    exp_total = {}
    exp_seen = {}
    for g in range(6):
        for k in batch_keys(g):
            exp_total[k] = exp_total.get(k, 0) + 1
            if g >= 3:
                exp_seen[k] = max(exp_seen.get(k, g), g)

    # compact after the growth; data must be IDENTICAL before/after
    pre = {(r.k, r.total, r.seen) for r in t.replay().collect()}
    rewritten = t.compact()
    assert rewritten, "lifecycle growth left nothing to compact"
    got = {(r.k, r.total, r.seen) for r in t.replay().collect()}
    assert got == pre
    assert got == {
        (k, exp_total[k], exp_seen.get(k)) for k in exp_total
    }

    # TIME TRAVEL across the evolution boundary: a pre-evolution
    # snapshot has no 'seen' column and only batches 0-2's totals
    old = t.replay(as_of=2)
    assert "seen" not in old.columns
    exp_old = {}
    for g in range(3):
        for k in batch_keys(g):
            exp_old[k] = exp_old.get(k, 0) + 1
    assert {(r.k, r.total) for r in old.collect()} == set(exp_old.items())
    # ... and a post-evolution snapshot (pre-compact) matches final
    assert {
        (r.k, r.total, r.seen) for r in t.replay(as_of=5).collect()
    } == got


def test_ndb_commit_conflict_loser_raises_and_cleans_staging(spark, tmpdir):
    """Optimistic-concurrency CAS: when another writer committed the
    generation first (its v{gen} dir carries the marker), the loser's
    _commit_version raises NdbWriteConflict, removes its staging dir,
    and leaves the winner's commit untouched; the loser's RETRY on
    fresh state lands on the next generation."""
    import shutil as _sh

    from dbitool_spark.ndb import NdbWriteConflict

    path = os.path.join(tmpdir, "kv")
    t = NdbTable(spark, path, key="k", n_buckets=2)
    t.upsert(spark.createDataFrame([(1, "a")], "k bigint, v string"))  # v0

    # interloper commits v1 (valid state: clone of v0 + marker)
    v0, v1 = os.path.join(path, "v0"), os.path.join(path, "v1")
    _sh.copytree(v0, v1)

    # this writer had staged its own v1 (raced, lost)
    staging = t._staging_dir(1)
    os.makedirs(staging)
    with pytest.raises(NdbWriteConflict, match="committed by another writer"):
        t._commit_version(staging, 1)
    assert not os.path.exists(staging)  # loser cleaned up
    assert os.path.exists(os.path.join(v1, "_committed"))  # winner intact

    # marker authority: current gen is the interloper's commit, and a
    # fresh upsert lands on v2 merged against it
    assert t._current_gen() == 1
    t.upsert(spark.createDataFrame([(2, "b")], "k bigint, v string"))
    assert t._current_gen() == 2
    assert {r.k: r.v for r in t.replay().collect()} == {1: "a", 2: "b"}


def test_ndb_markerless_dir_above_head_conflicts_untouched(spark, tmpdir):
    """A non-empty markerless v{head+1} dir is no writer's output (a
    committed dir always carries its in-dir marker, and GC only
    removes generations at or below the retained window): it is
    never a snapshot, the commit that collides with it raises
    NdbWriteConflict, and the dir is left byte-identical."""
    from dbitool_spark.ndb import NdbWriteConflict

    path = os.path.join(tmpdir, "kv")
    t = NdbTable(spark, path, key="k", n_buckets=2)
    t.upsert(spark.createDataFrame([(1, "a")], "k bigint, v string"))  # v0

    foreign = os.path.join(path, "v1")
    os.makedirs(foreign)
    junk = os.path.join(foreign, "junk.parquet")
    with open(junk, "w") as fh:
        fh.write("not parquet")
    before = (os.listdir(foreign), os.stat(junk).st_ino, open(junk).read())
    # ignored as a snapshot and as the current gen
    assert t._current_gen() == 0
    assert t.versions() == [0]

    with pytest.raises(NdbWriteConflict, match="committed by another writer"):
        t.upsert(spark.createDataFrame([(2, "b")], "k bigint, v string"))
    assert (os.listdir(foreign), os.stat(junk).st_ino, open(junk).read()) == before
    assert t.versions() == [0]
    assert not [n for n in os.listdir(path) if n.startswith(".stage")]
    assert {r.k for r in t.replay().collect()} == {1}


def test_ndb_dead_writer_staging_is_reclaimed(spark, tmpdir):
    """A crashed writer's unpublished staging dir is GC'd on the next
    successful write (dead pid), while a live foreign writer's staging
    is left alone."""
    path = os.path.join(tmpdir, "kv")
    t = NdbTable(spark, path, key="k", n_buckets=2)
    t.upsert(spark.createDataFrame([(1, "a")], "k bigint, v string"))

    dead = os.path.join(path, ".stage-v9-pid99999999")
    live = os.path.join(path, ".stage-v9-pid1")  # pid 1 is alive
    os.makedirs(dead)
    os.makedirs(live)
    t.upsert(spark.createDataFrame([(2, "b")], "k bigint, v string"))
    assert not os.path.exists(dead)
    assert os.path.exists(live)
    os.rmdir(live)


def test_ndb_conflict_loser_keeps_no_phantom_schema_state(spark, tmpdir):
    """A conflict loser must not retain in-memory schema evolution it
    never committed (review finding): after a lost race on a batch
    that ADDED a column, the instance still accepts the original
    schema without a drift error and meta never records the ghost
    COLUMN. (The monotone `evolved` flag is the one deliberate
    exception since r15 — it persists BEFORE the commit so a crash
    between commit and meta can't leave a mixed-schema version read
    without mergeSchema; a phantom True costs one harmless extra
    mergeSchema and is asserted as such here.)"""
    import json as _json

    from dbitool_spark.ndb import NdbWriteConflict

    path = os.path.join(tmpdir, "kv")
    t = NdbTable(spark, path, key="k", n_buckets=2, evolve_schema=True)
    t.upsert(spark.createDataFrame([(1, "a")], "k bigint, v string"))

    real = t._commit_version

    def lose_once(staging, gen, _state={"fired": False}):
        if not _state["fired"]:
            _state["fired"] = True
            import shutil as _sh

            _sh.rmtree(staging, ignore_errors=True)
            raise NdbWriteConflict("simulated race loss")
        return real(staging, gen)

    t._commit_version = lose_once
    with pytest.raises(NdbWriteConflict):
        t.upsert(
            spark.createDataFrame(
                [(2, "b", 7)], "k bigint, v string, extra bigint"
            )
        )
    # no phantom COLUMN on the instance or in meta; the monotone
    # evolved flag is phantom-True by design (harmless mergeSchema)
    assert t._evolved is True
    assert t._columns == ["k", "v"]
    t.upsert(spark.createDataFrame([(3, "c")], "k bigint, v string"))
    with open(os.path.join(path, "meta.json")) as fh:
        meta = _json.load(fh)
    assert meta["evolved"] is True
    assert meta["columns"] == ["k", "v"]
    assert {r.k for r in t.replay().collect()} == {1, 3}


def test_ndb_stale_publish_across_gcd_window_conflicts(spark, tmpdir):
    """The ADVICE r13 protocol hole, pre-rename half: a writer stalled
    across >= keep_versions newer commits targets a v{gen} slot GC
    already vacated. The pre-rename guard must conflict it (staging
    cleaned) and the table head must be untouched."""
    from dbitool_spark.ndb import NdbWriteConflict

    path = os.path.join(tmpdir, "kv")
    t = NdbTable(spark, path, key="k", n_buckets=2)  # keep_versions=2
    for i in range(5):  # commits v0..v4; GC leaves {v3, v4}
        t.upsert(spark.createDataFrame([(1, f"x{i}")], "k bigint, v string"))
    assert t.versions() == [3, 4]

    # the stalled writer: staged a v1 build long ago, publishes now
    staging = t._staging_dir(1)
    os.makedirs(staging)
    with pytest.raises(NdbWriteConflict, match="read stale"):
        t._commit_version(staging, 1)
    assert not os.path.exists(staging)  # loser cleaned up
    assert not os.path.exists(os.path.join(path, "v1"))  # nothing published
    assert t._current_gen() == 4
    assert t.versions() == [3, 4]
    assert [r.v for r in t.replay().collect()] == ["x4"]


def test_ndb_stale_publish_post_rename_guard_unpublishes(spark, tmpdir):
    """The ADVICE r13 protocol hole, post-rename half: if a stale
    publish slips the pre-rename check (simulated by blinding that
    one read), the post-rename check must detect the committed head
    above it, unpublish the stale dir, and conflict — never GC the
    newer committed generations."""
    from dbitool_spark.ndb import NdbWriteConflict

    path = os.path.join(tmpdir, "kv")
    t = NdbTable(spark, path, key="k", n_buckets=2)
    for i in range(5):
        t.upsert(spark.createDataFrame([(1, f"x{i}")], "k bigint, v string"))
    assert t.versions() == [3, 4]

    real = t._committed_gens
    calls = {"n": 0}

    def blind_first(*a):
        calls["n"] += 1
        return [] if calls["n"] == 1 else real()

    staging = t._staging_dir(1)
    os.makedirs(staging)
    t._committed_gens = blind_first
    try:
        with pytest.raises(NdbWriteConflict, match="below the committed head"):
            t._commit_version(staging, 1)
    finally:
        t._committed_gens = real
    assert not os.path.exists(os.path.join(path, "v1"))  # unpublished
    assert not os.path.exists(staging)
    for leftover in os.listdir(path):
        assert ".stale.pid" not in leftover  # grave reclaimed
    assert t._current_gen() == 4
    assert [r.v for r in t.replay().collect()] == ["x4"]


def test_ndb_gc_clamp_never_deletes_newer_committed_heads(spark, tmpdir):
    """_gc_versions defense in depth (ADVICE r13): whatever keep set a
    stale writer computes, committed generations ABOVE the published
    floor survive."""
    path = os.path.join(tmpdir, "kv")
    t = NdbTable(spark, path, key="k", n_buckets=2, keep_versions=4)
    for i in range(4):  # v0..v3 all retained
        t.upsert(spark.createDataFrame([(1, f"x{i}")], "k bigint, v string"))
    assert t.versions() == [0, 1, 2, 3]

    # a stale writer that thought v1 was the head would GC with this:
    t._gc_versions(keep={"v0", "v1"})
    # v2/v3 are committed and above the floor (v1): clamped, retained
    assert os.path.exists(os.path.join(path, "v2", "_committed"))
    assert os.path.exists(os.path.join(path, "v3", "_committed"))
    assert [r.v for r in t.replay().collect()] == ["x3"]


def test_ndb_orphaned_graves_swept_displaced_commits_kept(spark, tmpdir):
    """Grave-dir hygiene: stale-publish and unlogged-remnant graves
    whose mover is dead are reclaimed by the GC sweep (a marker inside
    one means nothing: it never held a live commit); a live mover's
    grave is left alone."""
    path = os.path.join(tmpdir, "kv")
    t = NdbTable(spark, path, key="k", n_buckets=2)
    t.upsert(spark.createDataFrame([(1, "a")], "k bigint, v string"))

    dead_grave = os.path.join(path, "v9.unlogged.pid99999999")
    live_grave = os.path.join(path, "v8.stale.pid1")  # pid 1 is alive
    stale_grave = os.path.join(path, "v6.stale.pid99999997")
    for d in (dead_grave, live_grave, stale_grave):
        os.makedirs(d)
    open(os.path.join(stale_grave, "_committed"), "w").close()

    t.upsert(spark.createDataFrame([(2, "b")], "k bigint, v string"))
    assert not os.path.exists(dead_grave)  # swept
    assert not os.path.exists(stale_grave)  # stale publishes sweep too
    assert os.path.exists(live_grave)  # live owner: untouched
    shutil.rmtree(live_grave)


def test_ndb_keep_versions_explicit_narrowing_honored(spark, tmpdir):
    """ADVICE r13: an EXPLICIT smaller keep_versions on reopen narrows
    the window (the old max(meta, arg) silently ignored it); the
    default still keeps meta's recorded value and the floor stays 2."""
    path = os.path.join(tmpdir, "kv")
    t = NdbTable(spark, path, key="k", n_buckets=2, keep_versions=5)
    for i in range(5):
        t.upsert(spark.createDataFrame([(1, f"x{i}")], "k bigint, v string"))
    assert t.versions() == [0, 1, 2, 3, 4]

    narrow = NdbTable(spark, path, key="k", keep_versions=2)
    assert narrow.keep_versions == 2  # explicit arg wins both directions
    narrow.upsert(spark.createDataFrame([(1, "x5")], "k bigint, v string"))
    assert narrow.versions() == [4, 5]  # window narrowed

    again = NdbTable(spark, path, key="k")  # default: meta's value
    assert again.keep_versions == 2
    floor = NdbTable(spark, path, key="k", keep_versions=1)
    assert floor.keep_versions == 2  # floor holds


@pytest.mark.slow
@pytest.mark.parametrize("backend", ["posix", "sqlite"])
def test_ndb_multiwriter_occ_real_process_race(spark, tmpdir, backend):
    """Brief r13→r14 item 4: the commit protocol's value claim is
    MULTI-WRITER safety, so prove it under a genuine cross-process
    race — N writer processes (own JVMs), advisory lock DISABLED,
    racing upserts through a start barrier, retrying on
    NdbWriteConflict. Invariants: every writer eventually lands its
    row (no lost update), total commits == total successful upserts
    (exactly one commit per generation, none overwritten), every
    retained version dir is readable (no torn state), and every
    loser saw NdbWriteConflict (never silent corruption).

    Parameterized over the commit-backend seam (r15): the same race
    must hold with authority in the POSIX rename-CAS AND in the
    sqlite log service — sqlite's cross-process ACID locking is
    exactly what the log-backend class claims to provide."""
    import json as _json
    import subprocess
    import sys
    import time as _time

    n_writers = 3
    path = os.path.join(tmpdir, "kv")
    go = os.path.join(tmpdir, "GO")
    backend_db = (
        os.path.join(tmpdir, "commits.sqlite") if backend == "sqlite" else ""
    )

    child_src = r"""
import json, os, sys, time
wid, table_path, go_path, out_path, ready_path, backend_db = sys.argv[1:7]
wid = int(wid)
from pyspark.sql import SparkSession
spark = (
    SparkSession.builder.master("local[2]")
    .appName(f"ndb-racer-{wid}")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.shuffle.partitions", "2")
    .getOrCreate()
)
from dbitool_spark.ndb import NdbTable, NdbWriteConflict, SqliteCommitBackend
be = SqliteCommitBackend(backend_db) if backend_db else None
t = NdbTable(
    spark, table_path, key="k", n_buckets=2, single_writer=False,
    commit_backend=be,
)
open(ready_path, "w").close()
while not os.path.exists(go_path):
    time.sleep(0.01)
conflicts = 0
attempts = 0
df = spark.createDataFrame([(wid, f"writer{wid}")], "k bigint, v string")
while True:
    attempts += 1
    try:
        t.upsert(df)
        break
    except NdbWriteConflict:
        conflicts += 1
        if conflicts > 25:
            raise
with open(out_path, "w") as fh:
    json.dump({"wid": wid, "conflicts": conflicts, "attempts": attempts}, fh)
spark.stop()
"""
    procs = []
    outs = []
    readys = []
    for w in range(n_writers):
        out = os.path.join(tmpdir, f"out{w}.json")
        ready = os.path.join(tmpdir, f"ready{w}")
        outs.append(out)
        readys.append(ready)
        procs.append(
            subprocess.Popen(
                [
                    sys.executable, "-c", child_src,
                    str(w), path, go, out, ready, backend_db,
                ],
                cwd="/root/repo",
                stdout=subprocess.DEVNULL,
                stderr=subprocess.DEVNULL,
            )
        )
    deadline = _time.time() + 240
    while not all(os.path.exists(r) for r in readys):
        assert _time.time() < deadline, "writers never became ready"
        assert all(p.poll() is None for p in procs), "a writer died pre-barrier"
        _time.sleep(0.05)
    open(go, "w").close()  # drop the barrier: all three race now
    for p in procs:
        assert p.wait(timeout=300) == 0, "a writer exited non-zero"

    results = [_json.load(open(o)) for o in outs]
    total_success = len(results)  # each child exits 0 only after landing
    assert total_success == n_writers

    # no lost update: every writer's row is in the final state —
    # verified through the SAME backend the racers used (for sqlite,
    # authority comes from the log; the in-dir markers, which
    # _commit_version writes regardless, must agree)
    from dbitool_spark.ndb import PosixCommitBackend, SqliteCommitBackend

    be = SqliteCommitBackend(backend_db) if backend_db else None
    t = NdbTable(
        spark, path, key="k", n_buckets=2, single_writer=False,
        commit_backend=be,
    )
    got = {r.k: r.v for r in t.replay().collect()}
    assert got == {w: f"writer{w}" for w in range(n_writers)}
    if backend_db:
        assert sorted(t._committed_gens()) == sorted(
            PosixCommitBackend().committed_gens(path)
        )  # log and markers agree

    # exactly one commit per generation, contiguous from v0: the head
    # generation index == total successful upserts - 1 (a gen written
    # twice or skipped breaks this), and every commit carries a marker
    assert t._current_gen() == n_writers - 1
    committed = sorted(t._committed_gens())
    assert committed == list(range(max(0, n_writers - t.keep_versions), n_writers))

    # no torn state: every retained snapshot is readable end to end
    for g in t.versions():
        assert t.replay(as_of=g).count() >= 1

    # conflicts: with a start barrier the three-way race nearly always
    # produces losers; assert the MECHANISM (loser -> NdbWriteConflict
    # -> retry -> success) whenever any retry happened
    total_attempts = sum(r["attempts"] for r in results)
    total_conflicts = sum(r["conflicts"] for r in results)
    assert total_attempts == total_success + total_conflicts


@pytest.mark.slow
def test_ndb_compact_vs_upsert_occ_process_race(spark, tmpdir):
    """Maintenance ops are in the same OCC envelope: a compact() and
    an upsert() racing from two PROCESSES with the advisory lock
    DISABLED both publish through _commit_version, so one wins each
    generation and the loser retries — never a lost update or a torn
    state. Seeds a files_per_bucket=2 table with file growth so the
    compaction has genuine work."""
    import json as _json
    import subprocess
    import sys
    import time as _time

    path = os.path.join(tmpdir, "kv")
    go = os.path.join(tmpdir, "GO")

    # seed: overlapping-range upserts grow intra-bucket files
    t = NdbTable(
        spark, path, key="k", n_buckets=2, files_per_bucket=2,
        single_writer=False,
    )
    for i in range(4):
        t.upsert(
            spark.createDataFrame(
                [(j, f"seed{i}") for j in range(i * 10, i * 10 + 30)],
                "k bigint, v string",
            )
        )

    child_src = r"""
import json, os, sys, time
role, table_path, go_path, out_path, ready_path = sys.argv[1:6]
from pyspark.sql import SparkSession
spark = (
    SparkSession.builder.master("local[2]")
    .appName(f"ndb-{role}")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.shuffle.partitions", "2")
    .getOrCreate()
)
from dbitool_spark.ndb import NdbTable, NdbWriteConflict
t = NdbTable(spark, table_path, key="k", n_buckets=2, files_per_bucket=2,
             single_writer=False)
open(ready_path, "w").close()
while not os.path.exists(go_path):
    time.sleep(0.01)
conflicts = 0
while True:
    try:
        if role == "compactor":
            t.compact()
        else:
            t.upsert(spark.createDataFrame(
                [(999, "racer"), (5, "racer5")], "k bigint, v string"))
        break
    except NdbWriteConflict:
        conflicts += 1
        if conflicts > 25:
            raise
with open(out_path, "w") as fh:
    json.dump({"role": role, "conflicts": conflicts}, fh)
spark.stop()
"""
    procs, outs, readys = [], [], []
    for role in ("compactor", "upserter"):
        out = os.path.join(tmpdir, f"out_{role}.json")
        ready = os.path.join(tmpdir, f"ready_{role}")
        outs.append(out)
        readys.append(ready)
        procs.append(
            subprocess.Popen(
                [sys.executable, "-c", child_src, role, path, go, out, ready],
                cwd="/root/repo",
                stdout=subprocess.DEVNULL,
                stderr=subprocess.DEVNULL,
            )
        )
    deadline = _time.time() + 240
    while not all(os.path.exists(r) for r in readys):
        assert _time.time() < deadline, "racers never became ready"
        assert all(p.poll() is None for p in procs), "a racer died pre-barrier"
        _time.sleep(0.05)
    open(go, "w").close()
    for p in procs:
        assert p.wait(timeout=300) == 0, "a racer exited non-zero"

    results = [_json.load(open(o)) for o in outs]
    # no lost update in either direction: the upsert's rows are in the
    # final state AND every seeded key survived the compaction race
    t2 = NdbTable(spark, path, key="k", n_buckets=2, files_per_bucket=2,
                  single_writer=False)
    got = {r.k: r.v for r in t2.replay().collect()}
    assert got[999] == "racer" and got[5] == "racer5"
    assert set(got) == set(range(60)) | {999}
    for k in set(range(60)) - {5}:
        assert got[k] == "seed3" if k >= 30 else got[k].startswith("seed")
    # both racers finished; commits are marker-authoritative and the
    # retained snapshots are all readable
    for g in t2.versions():
        assert t2.replay(as_of=g).count() >= 1


def test_ndb_manifest_written_and_reused(spark, tmpdir):
    """The per-version manifest (Delta-checkpoint analog): every data
    file — the delta an upsert writes and the base files a fold writes
    — gets a range entry, carried files inherit entries by relpath
    without re-probing, and the fold's file selection consults the
    manifest instead of parquet footers (probes hit only freshly
    written files)."""
    import json as _json

    path = os.path.join(tmpdir, "kv")
    t = NdbTable(spark, path, key="k", n_buckets=2, files_per_bucket=2)
    t.upsert(
        spark.createDataFrame(
            [(j, "a") for j in range(40)], "k bigint, v string"
        )
    )

    def data_files(vdir):
        return sorted(
            os.path.relpath(os.path.join(dp, fn), vdir)
            for dp, _, fns in os.walk(vdir)
            for fn in fns
            if not fn.startswith((".", "_"))
        )

    def manifest(vdir):
        with open(os.path.join(vdir, "_manifest.json")) as fh:
            return _json.load(fh)

    # the append: one entry, for the one delta file, with its count
    man0 = manifest(os.path.join(path, "v0"))
    assert list(man0) == ["_delta/000000000000.parquet"]
    assert man0["_delta/000000000000.parquet"] == {"r": [0, 39], "n": 40}

    t.compact()  # the fold: one entry per base file
    v1 = t._current_dir()
    man = manifest(v1)
    # one entry per data file, each with a sane [lo, hi]
    assert sorted(man) == data_files(v1) and len(man) >= 2
    for ent in man.values():
        # {"r": [lo, hi] | None, "n": rows} — the row count rides
        # along in the same footer read
        assert set(ent) == {"r", "n"} and ent["n"] >= 1
        assert ent["r"] is None or (
            len(ent["r"]) == 2 and ent["r"][0] <= ent["r"][1]
        )

    # second upsert + fold: the selection must consult the manifest,
    # probing zero STORED files (probes happen only in _write_manifest,
    # for fresh files in the staging dirs)
    probes = []
    real = NdbTable._file_key_range

    def counting(p, key):
        probes.append(p)
        return real(p, key)

    t._file_key_range = staticmethod(counting)
    try:
        t.upsert(
            spark.createDataFrame([(1, "b"), (2, "b")], "k bigint, v string")
        )
        t.compact()
    finally:
        t._file_key_range = staticmethod(real)
    assert all("/.stage-v" in p for p in probes), probes

    # the fold's manifest carried v1's untouched entries verbatim
    man3 = manifest(t._current_dir())
    carried = set(man) & set(man3)
    assert carried  # hardlinked files share relpaths across versions
    for rel in carried:
        assert man3[rel] == man[rel]
    assert {r.k for r in t.replay().collect()} == set(range(40))


def test_ndb_manifest_fallback_and_compact_equivalence(spark, tmpdir):
    """Deleting the manifest (a pre-manifest version) must change
    NOTHING except the probe path: the fold (compact) still selects
    identically off parquet footers and rebuilds the manifest for its
    new version."""
    path = os.path.join(tmpdir, "kv")
    t = NdbTable(spark, path, key="k", n_buckets=2, files_per_bucket=2)
    for i in range(3):  # grow intra-bucket files so compact has work
        t.upsert(
            spark.createDataFrame(
                [(j, f"g{i}") for j in range(i * 5, i * 5 + 20)],
                "k bigint, v string",
            )
        )
    cur = t._current_dir()
    os.unlink(os.path.join(cur, "_manifest.json"))  # simulate legacy

    rewritten = t.compact()
    assert rewritten  # the growth above is genuinely compactable
    cur2 = t._current_dir()
    assert os.path.exists(os.path.join(cur2, "_manifest.json"))
    got = {r.k: r.v for r in t.replay().collect()}
    want = {j: ("g2" if 10 <= j < 30 else ("g1" if 5 <= j else "g0"))
            for j in range(30)}
    # last-write-wins: g2 covers 10..29, g1 covered 5..24, g0 0..19
    want = {}
    for i in range(3):
        for j in range(i * 5, i * 5 + 20):
            want[j] = f"g{i}"
    assert got == want


def test_ndb_history_audit(spark, tmpdir):
    """history() — the DESCRIBE HISTORY analog: one row per retained
    generation with publish time, file and pending-delta counts, total
    vs exclusive (hardlink-aware) bytes, head flag, and manifest
    presence. n_rows is the VISIBLE row count: unknown (None) while
    deltas are pending — a delta row may replace another row, so
    their counts do not add up — and exact once folded."""
    path = os.path.join(tmpdir, "kv")
    t = NdbTable(spark, path, key="k", n_buckets=4, keep_versions=3)
    for i in range(3):
        t.upsert(
            spark.createDataFrame(
                [(i, f"v{i}")], "k bigint, v string"  # one bucket touched
            )
        )
    t.upsert(spark.createDataFrame([(0, "again")], "k bigint, v string"))
    h = t.history()
    assert [r["generation"] for r in h] == [1, 2, 3]
    assert [r["is_current"] for r in h] == [False, False, True]
    assert all(r["has_manifest"] for r in h)
    assert [r["n_deltas"] for r in h] == [2, 3, 4]
    assert [r["n_files"] for r in h] == [2, 3, 4]
    assert all(r["total_bytes"] > 0 for r in h)
    # four delta rows but three visible keys: never summed
    assert [r["n_rows"] for r in h] == [None, None, None]
    # publish order is monotone in the marker mtimes
    times = [r["committed_at"] for r in h]
    assert all(t is not None for t in times) and times == sorted(times)
    # hardlink awareness: v2 shares its delta files with v1/v3, so its
    # exclusive bytes are strictly below its total
    assert h[1]["exclusive_bytes"] < h[1]["total_bytes"]

    # the fold: no delta pending, the manifest counts are the rows
    t.compact()
    head = t.history()[-1]
    assert head["is_current"] and head["n_deltas"] == 0
    assert head["n_rows"] == 3


def test_ndb_manifest_reused_relpath_reprobed(spark, tmpdir):
    """ADVICE r14: _write_manifest must NOT inherit a previous
    version's entry for a relpath whose staged file is a DIFFERENT
    inode (fresh content under a reused name) — inheriting would carry
    a stale key range and mis-prune the next upsert. Same-inode
    (hardlink carry) entries inherit verbatim; different-inode entries
    are re-probed."""
    import json as _json

    path = os.path.join(tmpdir, "kv")
    t = NdbTable(spark, path, key="k", n_buckets=1)
    t.upsert(spark.createDataFrame([(1, "a"), (2, "a")], "k bigint, v string"))
    v0 = t._current_dir()
    with open(os.path.join(v0, "_manifest.json")) as fh:
        man0 = _json.load(fh)
    (rel,) = [r for r in man0]  # n_buckets=1 -> exactly one data file

    # build a fake staging dir that REUSES the relpath with different
    # content (keys 10..11, not 1..2) via a real parquet copy
    stage = os.path.join(tmpdir, "stage")
    os.makedirs(os.path.dirname(os.path.join(stage, rel)), exist_ok=True)
    import pyarrow as pa
    import pyarrow.parquet as pq

    pq.write_table(
        pa.table({"k": [10, 11], "v": ["b", "b"]}),
        os.path.join(stage, rel),
    )
    t._write_manifest(stage, v0)
    with open(os.path.join(stage, "_manifest.json")) as fh:
        man1 = _json.load(fh)
    assert man1[rel]["r"] == [10, 11], man1  # re-probed, NOT inherited
    assert man1[rel]["n"] == 2

    # and the hardlink-carry path still inherits verbatim
    stage2 = os.path.join(tmpdir, "stage2")
    os.makedirs(os.path.dirname(os.path.join(stage2, rel)), exist_ok=True)
    os.link(os.path.join(v0, rel), os.path.join(stage2, rel))
    t._write_manifest(stage2, v0)
    with open(os.path.join(stage2, "_manifest.json")) as fh:
        man2 = _json.load(fh)
    assert man2[rel] == man0[rel]


def test_ndb_manifest_v1_entries_still_read(spark, tmpdir):
    """A manifest not in the {"r", "n"} entry shape (here bare
    [lo, hi] / null entries) is ignored like a missing one: history()
    reports n_rows=None rather than guessing, the next upsert falls
    back to footer probes (no error), and its version's manifest is
    written fresh in the one shape."""
    import json as _json

    path = os.path.join(tmpdir, "kv")
    t = NdbTable(spark, path, key="k", n_buckets=2, files_per_bucket=2)
    t.upsert(
        spark.createDataFrame(
            [(j, "a") for j in range(20)], "k bigint, v string"
        )
    )
    v0 = t._current_dir()
    man_path = os.path.join(v0, "_manifest.json")
    with open(man_path) as fh:
        man = _json.load(fh)
    # rewrite as v1: strip the row counts down to bare ranges
    v1_man = {rel: ent["r"] for rel, ent in man.items()}
    with open(man_path, "w") as fh:
        fh.write(_json.dumps(v1_man))

    h0 = [r for r in t.history() if r["is_current"]][0]
    assert h0["n_rows"] is None  # v1 entries carry no counts

    # the next upsert probes footers instead (no error), and its
    # version's manifest is back in the {"r", "n"} shape
    t.upsert(spark.createDataFrame([(1, "b")], "k bigint, v string"))
    cur = t._current_dir()
    with open(os.path.join(cur, "_manifest.json")) as fh:
        man_new = _json.load(fh)
    shapes = {type(e).__name__ for e in man_new.values()}
    assert "dict" in shapes  # the rewritten bucket's fresh file is v2
    assert {r.k for r in t.replay().collect()} == set(range(20))

def test_ndb_commit_backend_seam_log_service(spark, tmpdir):
    """The CommitBackend seam (r15): a mock LOG-SERVICE backend — the
    shape of the documented Delta/Iceberg swap — derives commit
    authority from its own record instead of filesystem markers, and
    the whole table engine (upsert, pruning, retention, replay) runs
    unchanged through it."""
    from dbitool_spark.ndb import CommitBackend

    class LogServiceBackend(CommitBackend):
        # authority lives HERE, not in _committed markers; data
        # placement still uses the local rename (the mock's "store")
        def __init__(self):
            self.log: dict[str, set[int]] = {}
            self.cas_calls = 0

        def committed_gens(self, table_path):
            return sorted(self.log.get(table_path, set()))

        def rename_cas(self, staging, final):
            self.cas_calls += 1
            table_path, vname = os.path.split(final)
            gen = int(vname[1:])
            gens = self.log.setdefault(table_path, set())
            if gen in gens:
                return False  # conditional put failed
            os.rename(staging, final)
            gens.add(gen)
            return True

    backend = LogServiceBackend()
    path = os.path.join(tmpdir, "kv")
    t = NdbTable(spark, path, key="k", n_buckets=2, commit_backend=backend)
    t.upsert(spark.createDataFrame([(1, "a"), (2, "a")], "k bigint, v string"))
    t.upsert(spark.createDataFrame([(2, "b"), (3, "b")], "k bigint, v string"))
    assert backend.cas_calls == 2
    assert backend.committed_gens(path) == [0, 1]
    got = {r.k: r.v for r in t.replay().collect()}
    assert got == {1: "a", 2: "b", 3: "b"}

    # the conflict path: a CAS loss surfaces as NdbWriteConflict with
    # the staging dir cleaned, and a retry through a re-read succeeds
    from dbitool_spark.ndb import NdbWriteConflict

    class ConflictOnce(LogServiceBackend):
        def __init__(self, inner):
            super().__init__()
            self.log = inner.log
            self.tripped = False

        def rename_cas(self, staging, final):
            if not self.tripped:
                self.tripped = True
                return False  # simulate losing the conditional put
            return super().rename_cas(staging, final)

    t2 = NdbTable(
        spark, path, key="k", n_buckets=2,
        commit_backend=ConflictOnce(backend),
    )
    with pytest.raises(NdbWriteConflict):
        t2.upsert(spark.createDataFrame([(4, "c")], "k bigint, v string"))
    assert not [n for n in os.listdir(path) if n.startswith(".stage")]
    t2.upsert(spark.createDataFrame([(4, "c")], "k bigint, v string"))
    assert {r.k: r.v for r in t2.replay().collect()} == {
        1: "a", 2: "b", 3: "b", 4: "c",
    }

def _broadcast_bound_session(spark, bound: int):
    """A child of `spark` whose spark.sql.autoBroadcastJoinThreshold is
    `bound` bytes (-1: off); the shared session's conf never changes."""
    child = spark.newSession()
    child.conf.set("spark.sql.autoBroadcastJoinThreshold", str(bound))
    return child


def test_ndb_lookup_broadcast_sized_table_skips_probe_pass(spark, tmpdir):
    """A table whose data files fit the session's broadcast bound is
    resolved whole, so lookup skips the probe pass (two jobs and a
    probe scan); the join broadcasts the table, so the only exchange
    left is the deltas' own key window, and a table with at most one
    delta shuffles nothing. last_lookup_stats says why no bucket was
    probed, and the results equal the unpruned join's. A bound between
    two tables' sizes sends the larger one down the pruned path."""
    from dbitool_spark import profile

    def make(name, n, deltas):
        t = NdbTable(spark, os.path.join(tmpdir, name), key="k", n_buckets=8)
        for g in range(deltas):
            t.upsert(
                spark.createDataFrame(
                    [(i, f"{name}{g}_{i}") for i in range(g, n, g + 1)],
                    "k bigint, v string",
                )
            )
        return t

    def rows(df):
        return sorted(tuple(r) for r in df.collect())

    off = _broadcast_bound_session(spark, -1)
    t = make("small", 300, 3)  # delta-only: three pending deltas
    bound = t._broadcast_bound()
    assert not t._bucket_dirs(t._current_dir())
    size = NdbTable._data_bytes(t._current_dir())
    assert 0 < size <= bound
    t_off = NdbTable(off, t.path, key="k")
    keys = [(k,) for k in (0, 2, 3, 149, 299, 5000)]
    probe = spark.createDataFrame(keys, "k bigint")
    probe_off = off.createDataFrame(keys, "k bigint")

    with profile.counters(spark) as gated:
        got = rows(t.lookup(probe))
    assert t.last_lookup_stats == {"table_bytes": size, "broadcast_threshold": bound}
    with profile.counters(spark) as pruned:
        assert rows(t_off.lookup(probe_off)) == got
    assert t_off.last_lookup_stats["buckets_probed"] >= 1
    assert gated["jobs"] <= pruned["jobs"] - 2, (gated, pruned)
    assert dict(got) == {0: "small0_0", 2: "small2_2", 3: "small1_3",
                         149: "small2_149", 299: "small2_299", 5000: None}

    # a folded base under one pending delta: no window, and the delta
    # keys, the table and the probe all join by broadcast
    base = make("base", 300, 1)
    base.compact()
    base.upsert(spark.createDataFrame([(3, "new3"), (777, "new777")], "k bigint, v string"))
    assert base._bucket_dirs(base._current_dir())
    base_off = NdbTable(off, base.path, key="k")
    with profile.counters(spark) as gated:
        got = rows(base.lookup(probe))
    assert "table_bytes" in base.last_lookup_stats
    with profile.counters(off) as pruned:
        assert rows(base_off.lookup(probe_off)) == got
    assert gated["jobs"] <= pruned["jobs"] - 2, (gated, pruned)
    assert gated["shuffle_bytes"] == 0 < pruned["shuffle_bytes"], (gated, pruned)
    for table in (t, base):
        for how in ("left", "inner", "left_semi", "left_anti"):
            gated_rows = rows(table.lookup(probe, how=how))
            assert "table_bytes" in table.last_lookup_stats
            assert gated_rows == rows(table.lookup(probe, how=how, prune=False)), how
            assert table.last_lookup_stats == {}
    assert dict(rows(base.lookup(probe, how="inner"))) == {
        0: "base0_0", 2: "base0_2", 3: "new3", 149: "base0_149", 299: "base0_299",
    }
    # the fallbacks still record no selection under the bound
    table_rows = t.lookup(probe, how="right").count()
    assert t.last_lookup_stats == {} and table_rows == 300
    t.lookup(spark.createDataFrame([(3,)], "k int"))
    assert t.last_lookup_stats == {}

    # a bound between two tables' sizes: the larger one is pruned
    big = make("big", 3_000, 2)
    big_size = NdbTable._data_bytes(big._current_dir())
    assert size < big_size
    mid = _broadcast_bound_session(spark, (size + big_size) // 2)
    probe_mid = mid.createDataFrame(keys, "k bigint")
    for path, gated_path in ((t.path, True), (big.path, False)):
        tm = NdbTable(mid, path, key="k")
        got = rows(tm.lookup(probe_mid))
        assert ("table_bytes" in tm.last_lookup_stats) is gated_path
        assert ("buckets_probed" in tm.last_lookup_stats) is not gated_path
        assert got == rows(tm.lookup(probe_mid, prune=False))


def test_ndb_lookup_bucket_pruned(spark, tmpdir):
    """lookup() bucket-prunes the table side for left/inner/semi joins:
    a small probe touches few buckets, the base scan carries a
    partition filter on the bucket column, the bucket and key-range
    filters reach the delta scan too (before the last-write-wins
    resolution), and the result is identical to the unpruned join.
    Right joins need unmatched table rows and fall back to the full
    replay. The table is far below the default broadcast bound, so it
    lives in a session with broadcasting off."""
    import contextlib
    import io as _io

    spark = _broadcast_bound_session(spark, -1)
    path = os.path.join(tmpdir, "kv")
    t = NdbTable(spark, path, key="k", n_buckets=16)
    t.upsert(
        spark.createDataFrame(
            [(i, f"name{i}") for i in range(200)], "k bigint, name string"
        )
    )
    t.compact()  # base in bucket dirs ...
    t.upsert(  # ... plus one pending delta over it
        spark.createDataFrame([(7, "NEW7"), (150, "NEW150")], "k bigint, name string")
    )
    probe = spark.createDataFrame([(3, "x"), (7, "y"), (999, "z")], "k bigint, tag string")

    pruned = t.lookup(probe, how="left")
    stats = dict(t.last_lookup_stats)
    assert 0 < stats["buckets_probed"] <= 3  # 3 keys -> <= 3 buckets
    assert stats["buckets_pruned"] >= 13
    assert stats["key_range"] == [3, 999]  # probe min/max rode the same pass
    full = t.lookup(probe, how="left", prune=False)
    assert t.last_lookup_stats == {}  # fallback records no selection
    key = lambda r: (r["k"], r["tag"], r["name"])  # noqa: E731
    assert sorted(map(key, pruned.collect())) == sorted(map(key, full.collect()))
    # the delta's write wins, and the missing key emits its NULL row
    got = {r["k"]: r["name"] for r in pruned.collect()}
    assert got == {3: "name3", 7: "NEW7", 999: None}

    # the prune is REAL partition pruning, not a post-scan filter
    buf = _io.StringIO()
    with contextlib.redirect_stdout(buf):
        pruned.explain("formatted")
    plan = buf.getvalue()
    assert "PartitionFilters" in plan and "__ndb_bucket" in plan
    # the key-range prune reached the parquet scans as a pushed filter
    # (row-group skipping on range-sorted files comes free from it):
    # the base scan and both reads of the delta
    assert "PushedFilters" in plan
    assert plan.count("GreaterThanOrEqual(k") >= 3, plan
    assert plan.count("In(__ndb_bucket") >= 2, plan

    # inner join agrees too; right join falls back to the full table
    inner_p = t.lookup(probe, how="inner").collect()
    inner_f = t.lookup(probe, how="inner", prune=False).collect()
    assert sorted(map(key, inner_p)) == sorted(map(key, inner_f))
    right = t.lookup(probe, how="right")
    assert t.last_lookup_stats == {}
    assert right.count() == 200  # every table row survives a right join


def test_ndb_sqlite_commit_backend_end_to_end(spark, tmpdir):
    """SqliteCommitBackend — the REAL log-service implementation of
    the seam: commit authority in an ACID sqlite table, data dirs on
    the filesystem. Full lifecycle (upsert / replay / time travel /
    conflict) plus a threaded CAS race where exactly one writer per
    generation wins."""
    import threading

    from dbitool_spark.ndb import NdbWriteConflict, SqliteCommitBackend

    db = os.path.join(tmpdir, "commits.sqlite")
    path = os.path.join(tmpdir, "kv")
    be = SqliteCommitBackend(db)
    t = NdbTable(
        spark, path, key="k", n_buckets=2, keep_versions=3, commit_backend=be
    )
    for i in range(3):
        t.upsert(
            spark.createDataFrame(
                [(j, f"g{i}") for j in range(i, i + 3)], "k bigint, v string"
            )
        )
    assert be.committed_gens(path) == [0, 1, 2]
    assert {r.k: r.v for r in t.replay().collect()} == {
        0: "g0", 1: "g1", 2: "g2", 3: "g2", 4: "g2",
    }
    # time travel still reads retained snapshots (log-derived head)
    assert {r.k for r in t.replay(as_of=0).collect()} == {0, 1, 2}

    # retention GC trims the LOG too (backend.forget): a 4th upsert
    # retires v0's dir AND its commit row — a long-running stream
    # must not grow one log row per micro-batch forever
    t.upsert(spark.createDataFrame([(5, "g3")], "k bigint, v string"))
    assert be.committed_gens(path) == [1, 2, 3]
    assert t.versions() == [1, 2, 3]

    # a second instance over a FRESH backend handle sees the same head
    t2 = NdbTable(
        spark, path, key="k", n_buckets=2, keep_versions=3,
        commit_backend=SqliteCommitBackend(db),
    )
    assert t2._current_gen() == 3

    # direct CAS: second publisher of the same generation loses
    s_a = os.path.join(path, ".stage-v9-a"); os.makedirs(s_a)
    s_b = os.path.join(path, ".stage-v9-b"); os.makedirs(s_b)
    assert be.rename_cas(s_a, os.path.join(path, "v9")) is True
    assert be.rename_cas(s_b, os.path.join(path, "v9")) is False
    shutil.rmtree(os.path.join(path, "v9")); shutil.rmtree(s_b)
    with be._conn() as con:  # undo the probe row: keep the head at 2
        con.execute(
            "DELETE FROM commits WHERE table_path = ? AND gen = 9",
            (os.path.abspath(path),),
        )

    # protocol-level conflict: a writer whose target is at/below the
    # LOG's head conflicts before publishing anything
    stale = t._staging_dir(2)
    os.makedirs(stale, exist_ok=True)
    with pytest.raises(NdbWriteConflict):
        t._commit_version(stale, 2)

    # threaded CAS race: 4 racers per generation, exactly one winner
    wins = []
    lock = threading.Lock()

    def racer(i):
        s = os.path.join(path, f".stage-v5-r{i}")
        os.makedirs(s, exist_ok=True)
        ok = be.rename_cas(s, os.path.join(path, "v5"))
        with lock:
            wins.append(ok)
        if not ok:
            shutil.rmtree(s, ignore_errors=True)

    threads = [threading.Thread(target=racer, args=(i,)) for i in range(4)]
    for th in threads: th.start()
    for th in threads: th.join()
    assert sorted(wins) == [False, False, False, True]
    assert os.path.isdir(os.path.join(path, "v5"))

def test_ndb_lookup_dtype_drift_falls_back(spark, tmpdir):
    """Review finding: the bucket hash is type-sensitive, so a probe
    whose key dtype differs from the stored one must NOT prune (it
    would hash into the wrong buckets and silently miss matches) —
    it falls back to the full replay, where join coercion is fine.
    Broadcasting is off in the table's session, so the matched dtype
    takes the pruned path."""
    spark = _broadcast_bound_session(spark, -1)
    path = os.path.join(tmpdir, "kv")
    t = NdbTable(spark, path, key="k", n_buckets=8)
    t.upsert(
        spark.createDataFrame(
            [(i, f"n{i}") for i in range(50)], "k bigint, v string"
        )
    )
    probe_int = spark.createDataFrame([(3,), (7,)], "k int")
    got = t.lookup(probe_int, how="inner")
    assert t.last_lookup_stats == {}  # no prune recorded: fell back
    assert {(r.k, r.v) for r in got.collect()} == {(3, "n3"), (7, "n7")}

    # matched dtype still prunes — and so do the alias spellings
    probe = spark.createDataFrame([(3,), (7,)], "k bigint")
    for how in ("left_outer", "left_anti"):
        res = t.lookup(probe, how=how)
        assert t.last_lookup_stats["buckets_probed"] >= 1
        n = res.count()
        assert n == (2 if how == "left_outer" else 0)


def test_ndb_file_stats_corrupt_footer_safe(tmpdir):
    """Review finding: a corrupt/truncated parquet footer must degrade
    to the safe over-read (None stats), never raise — pyarrow's
    ArrowInvalid subclasses ValueError and the probe catches it."""
    bad = os.path.join(tmpdir, "garbage.parquet")
    with open(bad, "wb") as fh:
        fh.write(b"not a parquet file at all")
    assert NdbTable._file_stats(bad, "k") == (None, None)
    assert NdbTable._file_key_range(bad, "k") is None


def test_ndb_sqlite_backend_heals_unlogged_dir(spark, tmpdir):
    """Review finding: a writer that crashed between its data rename
    and its log COMMIT leaves a marker-carrying but UNLOGGED v{gen}
    dir; the next writer's rename_cas (insert accepted => the log
    says the slot is uncommitted) must clear it and publish —
    self-healing, not a permanent wedge."""
    from dbitool_spark.ndb import SqliteCommitBackend

    db = os.path.join(tmpdir, "commits.sqlite")
    path = os.path.join(tmpdir, "kv")
    be = SqliteCommitBackend(db)
    t = NdbTable(spark, path, key="k", n_buckets=2, commit_backend=be)
    t.upsert(spark.createDataFrame([(1, "a")], "k bigint, v string"))
    # simulate the crash remnant: v1 dir with a marker tagged by THIS
    # log instance (what the table layer writes under this sqlite
    # backend), NO log row
    remnant = os.path.join(path, "v1")
    os.makedirs(remnant)
    with open(os.path.join(remnant, "_committed"), "w") as fh:
        fh.write(be.marker_tag)
    assert be.committed_gens(path) == [0]  # the log is the authority

    t.upsert(spark.createDataFrame([(2, "b")], "k bigint, v string"))
    assert be.committed_gens(path) == [0, 1]
    assert {r.k: r.v for r in t.replay().collect()} == {1: "a", 2: "b"}


def test_ndb_sqlite_backend_refuses_posix_committed_dir(spark, tmpdir):
    """ADVICE r15: a generation marker-committed under the POSIX
    protocol (backend switched mid-life — the marker content says
    "posix", or is a legacy EMPTY marker) that the sqlite log never
    recorded is GENUINE DATA, not crash debris; rename_cas must
    refuse with a migration error instead of destroying it, and the
    refused dir must survive untouched."""
    from dbitool_spark.ndb import SqliteCommitBackend

    db = os.path.join(tmpdir, "commits.sqlite")
    path = os.path.join(tmpdir, "kv")
    be = SqliteCommitBackend(db)
    t = NdbTable(spark, path, key="k", n_buckets=2, commit_backend=be)
    t.upsert(spark.createDataFrame([(1, "a")], "k bigint, v string"))
    # explicit posix tag, legacy empty marker, and a FOREIGN sqlite
    # log's instance tag (two logs misconfigured onto one table) —
    # all three are someone else's committed data, never own debris
    for content in ("posix", "", "log:/somewhere/else/commits.sqlite"):
        remnant = os.path.join(path, "v1")
        os.makedirs(remnant, exist_ok=True)
        sentinel = os.path.join(remnant, "data.parquet")
        open(sentinel, "w").write("precious")
        with open(os.path.join(remnant, "_committed"), "w") as fh:
            fh.write(content)
        with pytest.raises(RuntimeError, match="migration conflict"):
            t.upsert(spark.createDataFrame([(2, "b")], "k bigint, v string"))
        # the marker-committed generation survived, nothing was logged
        assert os.path.exists(sentinel), "committed data was destroyed"
        assert be.committed_gens(path) == [0]
        shutil.rmtree(remnant)
        # the raise contract leaves staging intact for inspection —
        # clear it so the next iteration stages cleanly
        for name in os.listdir(path):
            if name.startswith(".stage-"):
                shutil.rmtree(os.path.join(path, name))
    # operator resolution: import the generation into the log, after
    # which the same backend reads it as committed
    os.makedirs(os.path.join(path, "v1"))
    with open(os.path.join(path, "v1", "_committed"), "w") as fh:
        fh.write("posix")
    import sqlite3 as _sq

    con = _sq.connect(db)
    con.execute(
        "INSERT INTO commits (table_path, gen, committed_at) VALUES (?, 1, 0)",
        (os.path.abspath(path),),
    )
    con.commit()
    con.close()
    assert be.committed_gens(path) == [0, 1]


def test_ndb_stale_publish_guard_forgets_log_row(spark, tmpdir):
    """Review finding: guard (b)'s unpublish must retire the commit
    record too — under a log backend the row was committed by
    rename_cas, and keeping it would leave the log claiming a
    generation whose data was deleted."""
    from dbitool_spark.ndb import NdbWriteConflict, SqliteCommitBackend

    db = os.path.join(tmpdir, "commits.sqlite")
    path = os.path.join(tmpdir, "kv")
    be = SqliteCommitBackend(db)
    t = NdbTable(spark, path, key="k", n_buckets=2, commit_backend=be)
    t.upsert(spark.createDataFrame([(1, "a")], "k bigint, v string"))

    # force guard (b): the pre-check sees a stale head, the
    # post-rename re-list sees a newer committed generation
    calls = {"n": 0}
    real = t._committed_gens

    def staged_gens():
        calls["n"] += 1
        return [0] if calls["n"] == 1 else [0, 5]

    t._committed_gens = staged_gens
    staging = t._staging_dir(1)
    os.makedirs(staging)
    try:
        with pytest.raises(NdbWriteConflict, match="below the committed head"):
            t._commit_version(staging, 1)
    finally:
        t._committed_gens = real
    assert not os.path.exists(os.path.join(path, "v1"))  # unpublished
    assert be.committed_gens(path) == [0]  # and the log row retired

def test_ndb_stale_writer_sees_foreign_evolution(spark, tmpdir):
    """Review finding: a writer instance opened BEFORE another
    handle's schema evolution must re-read meta under the lock — its
    un-evolved batch then raises the loud drift error (or, with
    evolve_schema=True, merges WITH mergeSchema so the evolved
    column's stored values survive) instead of silently rewriting
    touched buckets without the column and regressing meta."""
    path = os.path.join(tmpdir, "kv")
    stale = NdbTable(spark, path, key="k", n_buckets=2)  # cached pre-evolution
    stale.upsert(spark.createDataFrame([(1, "a"), (2, "a")], "k bigint, v string"))

    evolver = NdbTable(spark, path, key="k", n_buckets=2, evolve_schema=True)
    evolver.upsert(
        spark.createDataFrame([(3, "b", 30)], "k bigint, v string, c bigint")
    )
    # stale handle, old-schema batch: must raise, never silently drop c
    with pytest.raises(ValueError, match="schema drift"):
        stale.upsert(spark.createDataFrame([(1, "z")], "k bigint, v string"))

    # a stale-but-evolve_schema handle merges with mergeSchema: key 3
    # keeps its c value even though this writer's batch lacks c and
    # its cached snapshot predates the evolution
    stale2 = NdbTable(spark, path, key="k", n_buckets=2, evolve_schema=True)
    stale2._evolved = False  # simulate a snapshot taken pre-evolution
    stale2._columns = ["k", "v"]
    stale2.upsert(spark.createDataFrame([(1, "z")], "k bigint, v string"))
    got = {r.k: (r.v, r.c) for r in stale2.replay().collect()}
    assert got == {1: ("z", None), 2: ("a", None), 3: ("b", 30)}


def test_ndb_evolved_flag_persists_before_commit(spark, tmpdir):
    """Review finding: the monotone evolved flag reaches meta BEFORE
    the version commit, so a crash (or conflict) between commit and
    the post-commit meta write can never leave a committed
    mixed-schema version that future opens read without mergeSchema.
    A phantom evolved=True is one harmless extra mergeSchema."""
    import json as _json

    from dbitool_spark.ndb import NdbWriteConflict

    path = os.path.join(tmpdir, "kv")
    t = NdbTable(spark, path, key="k", n_buckets=2, evolve_schema=True)
    t.upsert(spark.createDataFrame([(1, "a")], "k bigint, v string"))

    def boom(staging, gen):
        shutil.rmtree(staging, ignore_errors=True)
        raise NdbWriteConflict("synthetic: crashed/conflicted at commit")

    real = t._commit_version
    t._commit_version = boom
    try:
        with pytest.raises(NdbWriteConflict):
            t.upsert(
                spark.createDataFrame([(2, "b", 9)], "k bigint, v string, c bigint")
            )
    finally:
        t._commit_version = real
    with open(os.path.join(path, "meta.json")) as fh:
        assert _json.load(fh)["evolved"] is True  # flag landed pre-commit
    # the phantom flag is harmless: fresh open reads fine, retry works
    t2 = NdbTable(spark, path, key="k", n_buckets=2, evolve_schema=True)
    t2.upsert(spark.createDataFrame([(2, "b", 9)], "k bigint, v string, c bigint"))
    got = {r.k: (r.v, r.c) for r in t2.replay().collect()}
    assert got == {1: ("a", None), 2: ("b", 9)}


def test_ndb_binary_key_range_prune_safe(spark, tmpdir):
    """Review finding: footer stats for a BINARY key come back as
    decoded str while the batch range collects as bytearray — the
    domain gate must route such keys to the safe over-read instead of
    a TypeError (or a tz-offset mis-carry for timestamps)."""
    path = os.path.join(tmpdir, "kv")
    t = NdbTable(spark, path, key="k", n_buckets=2, files_per_bucket=2)
    rows1 = [(bytearray([i, i]), f"a{i}") for i in range(8)]
    rows2 = [(bytearray([i, i]), f"b{i}") for i in range(4)]
    t.upsert(spark.createDataFrame(rows1, "k binary, v string"))
    t.upsert(spark.createDataFrame(rows2, "k binary, v string"))  # was TypeError
    got = {bytes(r.k): r.v for r in t.replay().collect()}
    want = {bytes([i, i]): ("b" if i < 4 else "a") + str(i) for i in range(8)}
    assert got == want


def test_ndb_merge_upsert_rejects_unknown_combine_column(spark, tmpdir):
    """Review finding: a typo'd combine column silently fell back to
    'last' and overwrote the accumulated sum — now a loud error."""
    path = os.path.join(tmpdir, "kv")
    t = NdbTable(spark, path, key="k", n_buckets=2)
    df = spark.createDataFrame([(1, 5)], "k bigint, amount bigint")
    with pytest.raises(ValueError, match="not in the batch"):
        t.merge_upsert(df, combine={"amout": "sum"})  # typo'd name


def test_ndb_rejects_engine_internal_column_names(spark, tmpdir):
    """Review finding: __rn/__slot/__old_* are engine-internal —
    a user column with one of those names was silently destroyed."""
    path = os.path.join(tmpdir, "kv")
    t = NdbTable(spark, path, key="k", n_buckets=2)
    for schema in ("k bigint, __rn bigint", "k bigint, __slot bigint",
                   "k bigint, __old_v string"):
        with pytest.raises(ValueError, match="reserved by ndb"):
            t.upsert(spark.createDataFrame([(1, None)], schema))


def test_ndb_two_sqlite_logs_misconfigured_refuse(spark, tmpdir):
    """End-to-end instance-tag scenario: a table written under log A,
    then opened with a DIFFERENT sqlite log B (the misconfiguration
    the instance tag exists for). B's log knows none of the table's
    committed generations, so B would number its commits from v0
    underneath them, silently interleaving two commit authorities
    (whose retention GC would then destroy each other's data).
    verify_table refuses at OPEN. A's data survives; A itself still
    works."""
    from dbitool_spark.ndb import SqliteCommitBackend

    path = os.path.join(tmpdir, "kv")
    be_a = SqliteCommitBackend(os.path.join(tmpdir, "log_a.sqlite"))
    t_a = NdbTable(spark, path, key="k", n_buckets=2, commit_backend=be_a)
    t_a.upsert(spark.createDataFrame([(1, "a")], "k bigint, v string"))

    be_b = SqliteCommitBackend(os.path.join(tmpdir, "log_b.sqlite"))
    # the refusal fires at OPEN (verify_table), before any gen
    # arithmetic can interleave B's generations with A's
    with pytest.raises(RuntimeError, match="migration conflict"):
        NdbTable(
            spark, path, key="k", n_buckets=2,
            commit_backend=be_b, single_writer=False,
        )
    # A's committed generation survived and A still reads + writes
    assert {r.k: r.v for r in t_a.replay().collect()} == {1: "a"}
    t_a.upsert(spark.createDataFrame([(3, "c")], "k bigint, v string"))
    assert {r.k: r.v for r in t_a.replay().collect()} == {1: "a", 3: "c"}


def test_ndb_append_commit_counters(spark, tmpdir):
    """The merge-on-read commit, counted with
    dbitool_spark.profile.counters: three Zipf-keyed upserts into a
    fresh table never read the stored state — each is one shuffle job
    (the within-batch resolution) plus its one-task write job — and
    each commit adds exactly one data file, its delta. The pruned
    lookup that follows resolves only the probed buckets: its shuffle
    bytes stay a fraction of the unpruned lookup's, which resolves the
    whole table, and it returns each probed key's last write.
    Broadcasting is off in the table's session: the table is far below
    the default bound, which would skip the pruning."""
    import random

    from dbitool_spark import profile
    from dbitool_spark.ndb import _DELTA

    spark = _broadcast_bound_session(spark, -1)
    rng = random.Random(7)
    n_keys = 2_000
    weights = [1.0 / (i + 1) for i in range(n_keys)]
    latest: dict[int, tuple[str, int]] = {}
    batches = []
    seq = 0
    for _ in range(3):
        rows = []
        for k in rng.choices(range(n_keys), weights, k=1_000):
            seq += 1
            rows.append((k, f"v{seq}", seq))
            latest[k] = (f"v{seq}", seq)
        batches.append(spark.createDataFrame(rows, "k bigint, v string, seq bigint"))

    t = NdbTable(spark, os.path.join(tmpdir, "kv"), key="k")  # 32 buckets

    def data_files():
        head = t._current_dir()
        return sorted(
            os.path.relpath(os.path.join(dp, fn), head)
            for dp, _, fns in os.walk(head)
            for fn in fns
            if not fn.startswith((".", "_"))
        )

    files = []
    with profile.counters(spark) as up:
        for df in batches:
            t.upsert(df, order_by="seq")
            files.append(data_files())
    assert up["jobs"] == 6, up
    assert up["tasks"] == 3 * (spark.sparkContext.defaultParallelism + 1), up
    for g, names in enumerate(files):
        assert names == [f"{_DELTA}/{i:012d}.parquet" for i in range(g + 1)]

    # probe three stored keys: the hottest (rewritten by every batch)
    # and two from the Zipf tail
    tail = sorted(latest)[-2:]
    probe = spark.createDataFrame([(k,) for k in [0, *tail]], "k bigint")
    with profile.counters(spark) as pruned:
        got = {r.k: (r.v, r.seq) for r in t.lookup(probe).collect()}
    assert t.last_lookup_stats["buckets_probed"] <= 3
    assert got == {k: latest[k] for k in [0, *tail]}
    assert pruned["jobs"] <= 6, pruned
    with profile.counters(spark) as full:
        t.lookup(probe, prune=False).collect()
    assert 0 < pruned["shuffle_bytes"] * 3 < full["shuffle_bytes"], (pruned, full)


def test_ndb_base_scan_skips_delta_dir(spark, tmpdir):
    """Pending deltas live in `v{gen}/_delta/`, which Spark's file index
    skips (underscore prefix): a plain scan of the version dir sees the
    base bucket files only, while replay() resolves the delta over
    them."""
    path = os.path.join(tmpdir, "kv")
    t = NdbTable(spark, path, key="k", n_buckets=4)
    t.upsert(spark.createDataFrame([(i, "base") for i in range(10)], "k bigint, v string"))
    t.compact()
    t.upsert(spark.createDataFrame([(1, "new"), (99, "new")], "k bigint, v string"))
    head = t._current_dir()
    assert os.listdir(os.path.join(head, "_delta"))
    raw = spark.read.parquet(head)
    assert raw.count() == 10 and {r.v for r in raw.collect()} == {"base"}
    got = {r.k: r.v for r in t.replay().collect()}
    assert len(got) == 11 and got[1] == got[99] == "new" and got[0] == "base"


def test_ndb_upsert_folds_past_the_delta_bound(spark, tmpdir):
    """An upsert that leaves more than _FOLD_AFTER deltas in its version
    folds them in one further commit: the head then holds no delta,
    reads the same, and the next upsert starts a fresh delta run."""
    from dbitool_spark.ndb import _FOLD_AFTER

    path = os.path.join(tmpdir, "kv")
    t = NdbTable(spark, path, key="k", n_buckets=4)
    for i in range(_FOLD_AFTER):
        t.upsert(spark.createDataFrame([(i % 3, f"v{i}")], "k bigint, v string"))
    assert len(t._delta_files(t._current_dir())) == _FOLD_AFTER
    assert t._current_gen() == _FOLD_AFTER - 1
    t.upsert(spark.createDataFrame([(7, "last")], "k bigint, v string"))
    assert t._current_gen() == _FOLD_AFTER + 1  # the append, then the fold
    assert t._delta_files(t._current_dir()) == []
    want = {i % 3: f"v{i}" for i in range(_FOLD_AFTER)} | {7: "last"}
    assert {r.k: r.v for r in t.replay().collect()} == want
    t.upsert(spark.createDataFrame([(0, "after")], "k bigint, v string"))
    assert len(t._delta_files(t._current_dir())) == 1
    assert {r.k: r.v for r in t.replay().collect()} == want | {0: "after"}
