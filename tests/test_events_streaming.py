"""Events analytics + Structured Streaming analogue tests. The
streaming tests assert batch-equivalence: the same windowed plan over
the same rows must produce the batch answer after an availableNow
drain."""

from __future__ import annotations

import os
import shutil
import tempfile

import pytest
from pyspark.sql import functions as F

from dbitool_spark import catalog, streaming
from dbitool_spark.io import json_io
from tests.conftest import SF_SMOKE


@pytest.fixture()
def tmpdir():
    d = tempfile.mkdtemp(prefix="dbitool_stream_")
    yield d
    shutil.rmtree(d, ignore_errors=True)


def test_sessionization_gap_semantics(spark):
    """Hand-built timeline: gaps over 30min split sessions."""
    from dbitool_spark.plans.events_ops import user_sessions  # noqa: F401 (shape)

    minute = 60 * 1_000_000
    rows = [
        (1, 1, 0 * minute),
        (1, 2, 10 * minute),   # same session (10m gap)
        (1, 3, 50 * minute),   # new session (40m gap)
        (2, 4, 0 * minute),    # user 2: single session
    ]
    df = spark.createDataFrame(rows, "user_id bigint, event_id bigint, ts_us bigint")
    # reuse the plan body via a temp view + the same logic inline
    from pyspark.sql.window import Window

    w = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
    gap = 30 * minute
    marked = df.withColumn(
        "new_session",
        F.when((F.col("ts_us") - F.lag("ts_us").over(w)) > gap, 1).otherwise(
            F.when(F.lag("ts_us").over(w).isNull(), 1).otherwise(0)
        ),
    )
    sessions = marked.withColumn(
        "session_id",
        F.sum("new_session").over(w.rowsBetween(Window.unboundedPreceding, 0)),
    )
    got = {
        (r.user_id, r.session_id): r.n
        for r in sessions.groupBy("user_id", "session_id").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    assert got == {(1, 1): 2, (1, 2): 1, (2, 1): 1}


def test_streaming_windowed_counts_match_batch(spark, tmpdir):
    """NDJSON events drained through a windowed streaming plan ==
    the same aggregation computed in batch."""
    ev = catalog.load(spark, SF_SMOKE, "events").select(
        "event_id", "event_type", F.col("ts_ts").alias("ts")
    )
    src = os.path.join(tmpdir, "src")
    json_io.write_ndjson(ev, src)

    schema = "event_id bigint, event_type string, ts timestamp"
    stream = streaming.stream_ndjson(spark, src, schema)
    windowed = streaming.windowed_counts(
        stream, "ts", window="1 hour", watermark="0 seconds", group_cols=["event_type"]
    )
    name = "win_counts_test"
    # complete mode: append would hold back the final (still-open)
    # window, since the watermark only reaches the max event time
    q = streaming.drain_to_memory(windowed, name, output_mode="complete")
    assert not q.isActive

    got = {
        (r.window_start, r.event_type): r.n
        for r in spark.table(name).collect()
    }
    batch = {
        (r.win, r.event_type): r.n
        for r in spark.read.schema(schema).json(src)
        .groupBy(F.date_trunc("hour", "ts").alias("win"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    assert got == batch
    assert sum(got.values()) == ev.count()


def test_streaming_backpressure_option(spark, tmpdir):
    ev = catalog.load(spark, SF_SMOKE, "events").select("event_id")
    src = os.path.join(tmpdir, "src")
    json_io.write_ndjson(ev, src)
    stream = streaming.stream_ndjson(
        spark, src, "event_id bigint", max_files_per_trigger=1
    )
    assert stream.isStreaming


def test_drain_to_parquet_checkpointed(spark, tmpdir):
    ev = catalog.load(spark, SF_SMOKE, "events").select("event_id", "event_type")
    src = os.path.join(tmpdir, "src")
    json_io.write_ndjson(ev, src)
    out = os.path.join(tmpdir, "out")
    ckpt = os.path.join(tmpdir, "ckpt")
    stream = streaming.stream_ndjson(spark, src, "event_id bigint, event_type string")
    streaming.drain_to_parquet(stream, out, ckpt)
    assert spark.read.parquet(out).count() == ev.count()
    # second drain with the same checkpoint is a no-op (exactly-once)
    stream2 = streaming.stream_ndjson(spark, src, "event_id bigint, event_type string")
    streaming.drain_to_parquet(stream2, out, ckpt)
    assert spark.read.parquet(out).count() == ev.count()


def test_stream_sessionization_matches_batch(spark, tmpdir):
    """session_window sessionization drained availableNow must equal
    the batch lag+cumsum plan (plans.events_ops.user_sessions):
    identical per-user session counts and event totals."""
    from dbitool_spark.plans.events_ops import user_sessions

    ev = catalog.load(spark, SF_SMOKE, "events").select(
        "user_id", F.col("ts_ts").alias("ts")
    )
    src = os.path.join(tmpdir, "src")
    json_io.write_ndjson(ev, src)

    stream = streaming.stream_ndjson(spark, src, "user_id bigint, ts timestamp")
    sessions = streaming.stream_user_sessions(stream, "ts", "user_id")
    # complete mode: the watermark stops at max event time, so append
    # would hold back every user's final (still-open) session
    q = streaming.drain_to_memory(sessions, "sess_test", output_mode="complete")
    assert not q.isActive

    got = {
        (r.user_id,): (r.n_sessions, r.n_events)
        for r in spark.table("sess_test")
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_sessions"),
            F.sum("n_events").alias("n_events"),
        )
        .collect()
    }
    batch = {
        (r.user_id,): (r.n_sessions, r.n_events)
        for r in user_sessions(spark, SF_SMOKE).collect()
    }
    assert got == batch


def test_stream_dedup_state_timeout_reemits(spark, tmpdir):
    """ProcessingTimeTimeout expiry must reclaim per-key state (the
    bounded-memory contract) and restore re-emit-after-expiry: a key
    seen again after its dedup scope expired emits again.

    Runs under ONE continuous processing-time trigger — the operator's
    deployment shape: timers only fire on later triggers, and an
    availableNow drain never self-terminates with a pending
    processing-time timer (stream_dedup_first_wins docstring)."""
    import json
    import time

    src = os.path.join(tmpdir, "src")
    os.makedirs(src)
    out = os.path.join(tmpdir, "out")
    ckpt = os.path.join(tmpdir, "ckpt")

    def write_batch(name, rows):
        with open(os.path.join(src, name), "w") as fh:
            for uid, eid in rows:
                fh.write(json.dumps({"user_id": uid, "event_id": eid}) + "\n")

    def wait_rows(n, timeout=120):
        deadline = time.time() + timeout
        while time.time() < deadline:
            try:
                if spark.read.parquet(out).count() >= n:
                    return
            except Exception:
                pass  # sink dir not created yet
            time.sleep(0.5)
        raise AssertionError(f"sink never reached {n} rows")

    stream = streaming.stream_ndjson(spark, src, "user_id bigint, event_id bigint")
    deduped = streaming.stream_dedup_first_wins(
        stream, ["user_id"], state_timeout_ms=500
    )
    q = streaming.start_parquet_stream(deduped, out, ckpt)
    try:
        write_batch("b1.json", [(1, 100), (1, 101)])
        wait_rows(1)  # user 1 emits once; state armed with 500ms timer
        time.sleep(2.0)  # empty triggers run past the timer -> state removed
        write_batch("b2.json", [(2, 200)])
        wait_rows(2)  # user 2 emits (and proves post-expiry batches flow)
        write_batch("b3.json", [(1, 300)])
        wait_rows(3)  # user 1 re-emits: its dedup scope expired
    finally:
        q.stop()

    got = spark.read.parquet(out)
    assert got.filter(F.col("user_id") == 1).count() == 2
    assert got.count() == 3


def test_drain_expiry_stops_query_and_raises(spark, tmpdir):
    """An availableNow drain that can never finish — a pending
    processing-time timer (stream_dedup_first_wins docstring) — must
    raise TimeoutError and leave its query stopped, not leaked."""
    src = os.path.join(tmpdir, "src")
    json_io.write_ndjson(
        spark.range(20).selectExpr("id AS user_id", "id AS event_id"), src
    )
    stream = streaming.stream_ndjson(spark, src, "user_id bigint, event_id bigint")
    deduped = streaming.stream_dedup_first_wins(
        stream, ["user_id"], state_timeout_ms=600_000
    )
    name = "drain_expiry_test"
    try:
        with pytest.raises(TimeoutError, match="PARTIAL"):
            streaming.drain_to_memory(deduped, name, timeout_sec=3)
        assert [q.name for q in spark.streams.active if q.name == name] == []
    finally:
        spark.catalog.dropTempView(name)


def test_drain_state_partitions_scoped_to_child_session(spark, monkeypatch):
    """Registry drains run their stateful queries with
    session.STATE_PARTITIONS shuffle partitions (read from each query's
    progress), while the caller's spark.sql.shuffle.partitions never
    changes — also while streaming_hourly_composite drains its two
    legs concurrently."""
    from pyspark.errors import AnalysisException

    from dbitool_spark.plans import state_ops
    from dbitool_spark.session import STATE_PARTITIONS

    key = "spark.sql.shuffle.partitions"
    seen = []  # (caller conf before, after, state partitions) per drain
    drain = streaming.drain_to_memory

    def spy(df, name, **kwargs):
        before = spark.conf.get(key)
        q = drain(df, name, **kwargs)
        parts = {
            op.numShufflePartitions
            for p in q.recentProgress
            for op in p.stateOperators
        }
        seen.append((before, spark.conf.get(key), parts))
        return q

    monkeypatch.setattr(streaming, "drain_to_memory", spy)
    prev = spark.conf.get(key)
    caller = "3"
    assert int(caller) != STATE_PARTITIONS
    spark.conf.set(key, caller)
    try:
        ev = catalog.load(spark, SF_SMOKE, "events").select("user_id", "event_type")
        sink = state_ops._drain_streaming_entry(
            spark,
            SF_SMOKE,
            prefix="stream_parts_",
            source_df=ev,
            schema="user_id bigint, event_type string",
            plan=lambda stream: stream.dropDuplicates(["user_id", "event_type"]),
            output_mode="append",
        )
        assert sink.count() == ev.distinct().count()
        with pytest.raises(AnalysisException):
            spark.table("stream_parts")  # the sink view lives in the child
        state_ops.streaming_hourly_composite(spark, SF_SMOKE)
        assert spark.conf.get(key) == caller
    finally:
        spark.conf.set(key, prev)
    assert len(seen) == 3
    for before, after, parts in seen:
        assert before == after == caller
        assert parts == {STATE_PARTITIONS}


def test_drain_session_applies_runtime_confs():
    """newSession() copies only the confs a session was built with. A
    parent whose UTC time zone and nanosAsLong were set at runtime
    must still give a drain session with both, since oracle parity
    depends on UTC. Runs in a fresh process: the test session was built
    with these confs, so its children inherit them either way."""
    import ast
    import subprocess
    import sys

    child_src = r"""
from pyspark.sql import SparkSession
from dbitool_spark.session import drain_session
spark = (
    SparkSession.builder.master("local[1]")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.session.timeZone", "America/New_York")
    .getOrCreate()
)
spark.conf.set("spark.sql.session.timeZone", "UTC")
spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
keys = ("spark.sql.session.timeZone", "spark.sql.legacy.parquet.nanosAsLong")
bare, child = spark.newSession(), drain_session(spark)
print(repr(([bare.conf.get(k) for k in keys], [child.conf.get(k) for k in keys])))
spark.stop()
"""
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    env = dict(os.environ, PYTHONPATH=os.pathsep.join(
        filter(None, [repo, os.environ.get("PYTHONPATH")])
    ))
    out = subprocess.run(
        [sys.executable, "-c", child_src],
        cwd=repo, env=env, capture_output=True, text=True, timeout=300,
    )
    assert out.returncode == 0, out.stderr[-2000:]
    bare, child = ast.literal_eval(out.stdout.strip().splitlines()[-1])
    assert bare == ["America/New_York", "false"]  # the runtime sets are lost
    assert child == ["UTC", "true"]


def test_stream_dedup_first_wins(spark, tmpdir):
    """Stateful streaming dedup: duplicated keys across the input emit
    exactly once (applyInPandasWithState custom operator)."""
    ev = catalog.load(spark, SF_SMOKE, "events").select("user_id", "event_id")
    src = os.path.join(tmpdir, "src")
    # write twice into the same dir -> every user appears in >=2 files
    json_io.write_ndjson(ev, src)
    json_io.write_ndjson(ev.limit(200), os.path.join(src, "again"))
    stream = streaming.stream_ndjson(spark, src + "/*", "user_id bigint, event_id bigint")
    deduped = streaming.stream_dedup_first_wins(stream, ["user_id"])
    q = streaming.drain_to_memory(deduped, "dedup_test", output_mode="append")
    assert not q.isActive
    out = spark.table("dedup_test")
    n_users = ev.select("user_id").distinct().count()
    assert out.count() == n_users
    assert out.select("user_id").distinct().count() == n_users


def test_stream_static_decontamination_matches_batch(spark, tmpdir):
    """Stream-static anti-join decontamination: streaming documents
    sharing an 8-gram with the static benchmark set are dropped;
    the availableNow drain must equal the batch anti-join."""
    from dbitool_spark.ops.dedup import shingles
    from dbitool_spark.plans.pipeline_ops import BENCH_MOD, DECONTAM_NGRAM

    docs = catalog.load(spark, SF_SMOKE, "documents").select("doc_id", "text")
    src = os.path.join(tmpdir, "src")
    json_io.write_ndjson(docs, src)

    # static benchmark gram set: perturbed copies of the sampled docs
    words = F.split(F.lower(F.trim(F.col("text"))), r"\s+")
    bench = (
        docs.filter(F.col("doc_id") % BENCH_MOD == 0)
        .select(
            F.explode(
                shingles(
                    F.concat_ws(" ", F.slice(words, 1, F.size(words) - 1)),
                    DECONTAM_NGRAM,
                )
            ).alias("gram")
        )
        .distinct()
    )

    stream = streaming.stream_ndjson(spark, src, "doc_id bigint, text string")
    clean = streaming.stream_static_filter_contaminated(stream, bench)
    q = streaming.drain_to_memory(clean, "decontam_stream", output_mode="append")
    assert not q.isActive

    got = {r.doc_id for r in spark.table("decontam_stream").collect()}
    batch_clean = {
        r.doc_id
        for r in streaming.stream_static_filter_contaminated(docs, bench).collect()
    }
    assert got == batch_clean
    # the sampled docs are contaminated by construction -> dropped
    assert all(d % BENCH_MOD != 0 for d in got)
    assert len(got) < docs.count()


def test_stream_upsert_ndb_last_write_wins(spark, tmpdir):
    """foreachBatch ndb sink: streaming upserts keyed by user_id must
    replay to the same rows as a batch last-write-wins over all input
    (later batches beat earlier ones per the table's generation
    precedence; order_by breaks ties within a batch)."""
    import json as _json

    from dbitool_spark.ndb import NdbTable

    src = os.path.join(tmpdir, "src")
    os.makedirs(src)
    rows_b1 = [(1, 100, "a"), (2, 200, "b"), (1, 101, "c")]
    rows_b2 = [(2, 250, "d"), (3, 300, "e")]
    for name, rows in [("b1.json", rows_b1), ("b2.json", rows_b2)]:
        with open(os.path.join(src, name), "w") as fh:
            for uid, eid, v in rows:
                fh.write(_json.dumps({"user_id": uid, "event_id": eid, "v": v}) + "\n")

    table = NdbTable(spark, os.path.join(tmpdir, "kv"), key="user_id", n_buckets=4)
    stream = streaming.stream_ndjson(
        spark, src, "user_id bigint, event_id bigint, v string",
        max_files_per_trigger=1,  # forces >=2 micro-batches
    )
    q = streaming.stream_upsert_ndb(
        stream, table, checkpoint=os.path.join(tmpdir, "ckpt"),
        order_by=["event_id"],
    )
    assert not q.isActive

    got = {
        (r.user_id): (r.event_id, r.v) for r in table.replay().collect()
    }
    # user 1: only in batch-ish file b1 -> max event_id wins (101, c)
    # user 2: appears in both -> the later file's row wins (250, d)
    # user 3: only b2 -> (300, e)
    assert got[1] == (101, "c")
    assert got[2] == (250, "d")
    assert got[3] == (300, "e")


def test_stream_stream_interval_join_matches_batch(spark, tmpdir):
    """Watermarked stream-stream interval self-join == the identical
    batch join: same matched pairs, exact boundary semantics (a click
    exactly `upper` before the purchase is IN; one microsecond earlier
    is OUT). Replay watermark covers the whole span, so state eviction
    cannot drop a late file — exactly-once against the batch answer."""
    base = 1_700_000_000_000_000  # epoch micros
    MIN = 60 * 1_000_000
    rows = [
        # (event_id, user_id, type, ts_us)
        (1, 1, "click", base),
        (2, 1, "purchase", base + 30 * MIN),      # in: 30 min after click 1
        (3, 1, "purchase", base + 120 * MIN),     # in: exactly at upper bound
        (4, 1, "purchase", base + 120 * MIN + 1), # out: 1 us past the bound
        (5, 2, "click", base),
        (6, 3, "purchase", base + MIN),           # out: different user
        (7, 2, "purchase", base - 1),             # out: purchase precedes click
    ]
    src = os.path.join(tmpdir, "ssj")
    schema = "event_id bigint, user_id bigint, event_type string, ts_us bigint"
    ev = spark.createDataFrame(rows, schema)
    json_io.write_ndjson(ev, src)

    def plan(df):
        typed = df.withColumn("ts", F.timestamp_micros(F.col("ts_us")))
        clicks = typed.filter(F.col("event_type") == "click").select(
            F.col("event_id").alias("click_id"), "user_id",
            F.col("ts").alias("click_ts"),
        )
        purchases = typed.filter(F.col("event_type") == "purchase").select(
            F.col("event_id").alias("purchase_id"), "user_id",
            F.col("ts").alias("purchase_ts"),
        )
        return streaming.interval_join(
            clicks, purchases, on=["user_id"],
            left_time_col="click_ts", right_time_col="purchase_ts",
            lower="0 seconds", upper="120 minutes",
            left_watermark="10 days", right_watermark="10 days",
        )

    stream = streaming.stream_ndjson(spark, src, schema, max_files_per_trigger=1)
    name = "ssj_test"
    q = streaming.drain_to_memory(plan(stream), name, output_mode="append")
    assert not q.isActive
    got = {
        (r.user_id, r.click_id, r.purchase_id)
        for r in spark.table(name).collect()
    }
    # the SAME plan over the batch frame (interval_join works on both)
    batch = {
        (r.user_id, r.click_id, r.purchase_id)
        for r in plan(spark.read.schema(schema).json(src)).collect()
    }
    assert got == batch == {(1, 1, 2), (1, 1, 3)}
    # output columns: equality key once, both time columns preserved
    assert set(spark.table(name).columns) == {
        "click_id", "user_id", "click_ts", "purchase_id", "purchase_ts"
    }


def _publish_ordered_files(spark, rows, tmpdir, sub):
    """One NDJSON file per row-group with STRICTLY INCREASING mtimes —
    FileStreamSource orders by modification time with an unspecified
    tie-break, so same-second writes from a tight loop would make
    batch order (and any arrival-order assertion) flaky; explicit
    utime stamps pin it."""
    src = os.path.join(tmpdir, sub)
    os.makedirs(src)
    import json as _json

    base = 1_700_000_000
    for i, group in enumerate(rows):
        p = os.path.join(src, f"part-{i:05d}.json")
        with open(p, "w") as fh:
            for doc_id, text in group:
                fh.write(_json.dumps({"doc_id": doc_id, "text": text}) + "\n")
        os.utime(p, (base + i * 10, base + i * 10))
    return src


_NEAR_A = "the quick brown fox jumps over the lazy dog again and again today"
_NEAR_B = "the quick brown fox jumps over the lazy dog again and again"  # near-dup of A
_FAR = "completely unrelated text about distributed query engines and shuffles"
_THIRD = "yet another corpus sample covering parquet footers statistics and pruning"


def test_stream_near_dup_lsh_arrival_flags(spark, tmpdir):
    """First arrival wins: the first doc of a near-dup pair is clean,
    the later one is flagged — across batches AND within a batch
    (smaller id wins in-batch)."""
    from dbitool_spark.ndb import NdbTable

    src = _publish_ordered_files(
        spark,
        [
            [(1, _NEAR_A), (2, _FAR)],           # batch 1
            [(3, _NEAR_B)],                       # batch 2: dup of 1
            # batch 3: identical in-batch pair on a THIRD, fresh text
            # (anything shingle-close to docs 1/2 would cross-batch dup)
            [(4, _THIRD), (5, _THIRD)],
        ],
        tmpdir,
        "src",
    )
    stream = streaming.stream_ndjson(
        spark, src, "doc_id long, text string", max_files_per_trigger=1
    )
    index = NdbTable(spark, os.path.join(tmpdir, "idx"), key="bucket", n_buckets=4)
    flags_dir = os.path.join(tmpdir, "flags")
    streaming.stream_near_dup_lsh(
        stream, "doc_id", "text",
        index=index, flags_dir=flags_dir,
        checkpoint=os.path.join(tmpdir, "ckpt"),
    )
    flags = {r.doc_id: r.is_dup for r in spark.read.parquet(flags_dir).collect()}
    assert flags == {1: False, 2: False, 3: True, 4: False, 5: True}


def test_stream_near_dup_lsh_index_is_order_insensitive(spark, tmpdir):
    """Arrival flags are first-arrival-wins, but the INDEX converges to
    the batch bucket minima regardless of arrival order: feed the
    near-dup pair larger-id first and check (a) the arrival flag goes
    to the later-but-smaller id, (b) the final index still matches the
    batch rule exactly."""
    from dbitool_spark.ndb import NdbTable
    from dbitool_spark.ops import dedup

    src = _publish_ordered_files(
        spark,
        [[(9, _NEAR_A)], [(1, _NEAR_B)], [(5, _FAR)]],  # reverse id order
        tmpdir,
        "src",
    )
    stream = streaming.stream_ndjson(
        spark, src, "doc_id long, text string", max_files_per_trigger=1
    )
    index = NdbTable(spark, os.path.join(tmpdir, "idx"), key="bucket", n_buckets=4)
    flags_dir = os.path.join(tmpdir, "flags")
    streaming.stream_near_dup_lsh(
        stream, "doc_id", "text",
        index=index, flags_dir=flags_dir,
        checkpoint=os.path.join(tmpdir, "ckpt"),
    )
    flags = {r.doc_id: r.is_dup for r in spark.read.parquet(flags_dir).collect()}
    assert flags == {9: False, 1: True, 5: False}  # arrival semantics

    corpus = spark.createDataFrame(
        [(9, _NEAR_A), (1, _NEAR_B), (5, _FAR)], "doc_id long, text string"
    )
    minima = {
        r.bucket: r.bmin
        for r in dedup.lsh_bucket_rows(corpus, "doc_id", "text")
        .groupBy("bucket").agg(F.min("id").alias("bmin")).collect()
    }
    owners = {r.bucket: r.owner for r in index.replay().collect()}
    assert owners == minima  # order-insensitive convergence
    # and the batch rule flags the LARGER id of the pair
    batch = {
        r.doc_id: r.is_dup
        for r in dedup.lsh_near_dup_flags(corpus, "doc_id", "text").collect()
    }
    assert batch == {9: True, 1: False, 5: False}


def test_rollup_merge_survives_restart(spark, tmpdir):
    """The continuous-aggregate durability claim: a rollup maintained
    in ndb via foreachBatch merge_upsert survives a query RESTART —
    the second start (same checkpoint, same table, new files) merges
    ONLY the unseen files, exactly once, and the final table equals
    the batch GROUP BY over everything that ever arrived. This is
    what distinguishes the table-backed rollup from state-store
    windowed aggregation: state outlives the query."""
    import json as _json

    from dbitool_spark.ndb import NdbTable

    src = os.path.join(tmpdir, "src")
    ckpt = os.path.join(tmpdir, "ckpt")
    os.makedirs(src)

    def publish(name, rows):
        with open(os.path.join(src, name), "w") as fh:
            for k, n in rows:
                fh.write(_json.dumps({"k": k, "n": n}) + "\n")

    table = NdbTable(spark, os.path.join(tmpdir, "kv"), key="k", n_buckets=4)

    def merge_batch(batch_df, batch_id):
        if batch_df.isEmpty():
            return
        partial = batch_df.groupBy("k").agg(F.sum("n").alias("n"))
        table.merge_upsert(partial, combine={"n": "sum"})

    def drain():
        stream = streaming.stream_ndjson(
            spark, src, "k bigint, n bigint", max_files_per_trigger=1
        )
        q = (
            stream.writeStream.foreachBatch(merge_batch)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        assert q.awaitTermination(120)

    publish("f1.json", [(1, 10), (2, 20)])
    publish("f2.json", [(1, 5)])
    drain()
    assert {r.k: r.n for r in table.replay().collect()} == {1: 15, 2: 20}

    publish("f3.json", [(2, 7), (3, 1)])
    drain()  # restart: fresh query, same checkpoint — only f3 merges
    assert {r.k: r.n for r in table.replay().collect()} == {1: 15, 2: 27, 3: 1}

    drain()  # nothing new: a pure re-drain must change nothing
    assert {r.k: r.n for r in table.replay().collect()} == {1: 15, 2: 27, 3: 1}

def test_rollup_merge_batch_is_replay_idempotent(spark, tmp_path):
    """Review finding: foreachBatch is at-least-once — a crash between
    the table commit and the checkpoint commit re-runs the batch, and
    additive 'sum' rules double-counted. The batch id now rides inside
    the SAME merge as a watermark row, so re-applying a committed
    batch is a no-op (the watermark advanced atomically with the
    sums), while the next batch id still merges."""
    import os

    from pyspark.sql import functions as F

    from dbitool_spark.ndb import NdbTable
    from dbitool_spark.plans.state_ops import (
        _ROLLUP_WATERMARK_KEY,
        _rollup_merge_batch,
    )

    table = NdbTable(spark, os.path.join(str(tmp_path), "kv"),
                     key="rollup_key", n_buckets=4)
    batch = spark.createDataFrame(
        [(1, "click", 3_600_000_000, "10.5"), (2, "view", 3_600_000_000, "1.5")],
        "event_id bigint, event_type string, ts_us bigint, value string",
    ).withColumn("value", F.col("value").cast("decimal(18,6)"))

    def state():
        return {
            r.rollup_key: (r.n, str(r.sum_v))
            for r in table.replay()
            .filter(F.col("rollup_key") != _ROLLUP_WATERMARK_KEY)
            .collect()
        }

    _rollup_merge_batch(spark, table, batch, 0)
    first = state()
    assert all(n == 1 for n, _ in first.values())
    _rollup_merge_batch(spark, table, batch, 0)  # crash-replay of batch 0
    assert state() == first  # no double-count
    _rollup_merge_batch(spark, table, batch, 1)  # genuinely new batch
    doubled = state()
    assert all(n == 2 for n, _ in doubled.values())
    # the watermark row advanced atomically with the sums
    wm = (
        table.replay()
        .filter(F.col("rollup_key") == _ROLLUP_WATERMARK_KEY)
        .collect()
    )
    assert len(wm) == 1 and wm[0].bmax == 1


def test_streaming_lsh_overlap_emits_sequential_run_row(spark):
    """r17: the drain and parity legs of streaming_lsh_near_dup run on
    two driver threads. The drain's file set, trigger cap and state
    partitioning are unchanged, so the emitted parity row must stay
    the sequential run's exact contract: every subset doc flagged
    once, zero index mismatches, zero flag mismatches."""
    from dbitool_spark import catalog
    from dbitool_spark.plans import state_ops

    rows = state_ops.streaming_lsh_near_dup_documents(spark, SF_SMOKE).collect()
    assert len(rows) == 1
    n_even = (
        catalog.load(spark, SF_SMOKE, "documents")
        .filter("doc_id % 2 = 0")
        .count()
    )
    r = rows[0]
    assert r.n_docs == 2 * n_even
    assert r.index_mismatches == 0 and r.flag_mismatches == 0


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
