"""Oracle-checked queries for the keyed-state layer (ndb).

The query proves BOTH upsert rules at once: rows from a later upsert
batch beat earlier batches regardless of their payload ordering
(generation precedence), and within one batch the explicit order
column wins. The oracle expresses the same resolution as a single
window: rank by (batch, order...) descending.
"""

from __future__ import annotations

import os
import shutil
import tempfile
import threading

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from dbitool_spark import catalog
from dbitool_spark.ndb import NdbTable
from dbitool_spark.ops.concurrency import run_parallel
from dbitool_spark.session import drain_session


# sentinel: the pid's /proc entry EXISTS but is unreadable (hidepid
# mounts hide other users' stat files) — the process is alive, its
# identity just can't be checked. Distinct from None ("gone"): real
# starttimes are non-negative, so -1 can never collide with a stamp.
_ALIVE_UNREADABLE = -1


def _proc_start_ticks(pid: int) -> int | None:
    """Kernel start time (clock ticks since boot) of `pid` from
    /proc/<pid>/stat field 22 — the stable identity that survives PID
    reuse. None if the process is gone or /proc is unavailable;
    _ALIVE_UNREADABLE if the stat file exists but can't be read
    (another uid's live process under hidepid — must NOT read as
    'owner gone')."""
    try:
        with open(f"/proc/{pid}/stat", "rb") as fh:
            stat = fh.read()
        # comm (field 2) may contain spaces/parens; fields after the
        # closing paren are space-split, starttime is the 20th of those
        return int(stat.rsplit(b")", 1)[1].split()[19])
    except PermissionError:
        return _ALIVE_UNREADABLE
    except (OSError, IndexError, ValueError):
        return None


def _scratch_dir(query: str, sf_dir: str) -> str:
    """Bounded scratch path per (query, sf): a per-PID/per-thread
    subdir under a deterministic base. Same process re-running the query wipes only
    ITS OWN previous copy; sibling subdirs are reclaimed once their
    owning process is dead. Liveness is probed by PID *plus* the
    owner's kernel start time (written to an `owner` stamp file at
    creation): a recycled PID now owned by an unrelated process no
    longer counts as alive, so stale dirs can't survive reclamation
    indefinitely, and a live unrelated process's dir is still only
    removed when its stamp mismatches — i.e. it provably isn't the
    original owner. This keeps the no-unbounded-accumulation property
    of a fixed path without the live-collision hazard of rmtree-ing a
    directory another process (a concurrent bench + driver run) is
    mid-read on."""
    tag = os.path.basename(os.path.normpath(sf_dir)) or "sf"
    base = os.path.join(tempfile.gettempdir(), f"dbitool_scratch_{query}_{tag}")
    os.makedirs(base, exist_ok=True)
    for sub in os.listdir(base):
        if not sub.startswith("pid"):
            continue
        try:
            pid = int(sub[3:])
        except ValueError:
            continue
        if pid == os.getpid():
            continue
        sub_path = os.path.join(base, sub)
        ticks = _proc_start_ticks(pid)
        if ticks is None:
            # /proc gone for this pid — but on non-Linux /proc doesn't
            # exist AT ALL, and "no /proc" must not read as "every
            # sibling is dead" (it would rmtree a LIVE process's dir);
            # fall back to the signal-0 probe there
            if not os.path.isdir("/proc"):
                try:
                    os.kill(pid, 0)
                    continue  # alive (or at least existing) — leave it
                except ProcessLookupError:
                    pass
                except PermissionError:
                    continue  # exists under another uid — leave it
            shutil.rmtree(sub_path, ignore_errors=True)  # owner gone
            continue
        if ticks == _ALIVE_UNREADABLE:
            continue  # live sibling under another uid (hidepid) — leave it
        try:
            with open(os.path.join(sub_path, "owner")) as fh:
                stamped = int(fh.read().strip())
        except (OSError, ValueError):
            continue  # no/unreadable stamp: be conservative, leave it
        if stamped != ticks:
            # PID recycled — the stamped owner is dead
            shutil.rmtree(sub_path, ignore_errors=True)
    pid_path = os.path.join(base, f"pid{os.getpid()}")
    os.makedirs(pid_path, exist_ok=True)
    own = _proc_start_ticks(os.getpid())
    if own is not None and own != _ALIVE_UNREADABLE:
        stamp = os.path.join(pid_path, "owner")
        try:
            with open(stamp) as fh:
                cur = int(fh.read().strip())
        except (OSError, ValueError):
            cur = None
        if cur != own:
            # claim the dir with OUR identity even when a stamp exists:
            # a dead previous owner of this recycled pid left ITS ticks
            # here, and a sibling's reclamation scan would read
            # live-ticks != stamp as "owner dead" and rmtree a LIVE
            # process's scratch mid-run (review finding)
            with open(stamp, "w") as fh:
                fh.write(str(own))
    # per-THREAD leaf: two threads of one process running the same
    # query tag must not wipe each other mid-read (the pid dir is
    # never rmtree'd by its owner — only dead-owner reclamation above
    # removes it wholesale); thread count is bounded, so accumulation
    # stays bounded per live process
    path = os.path.join(pid_path, f"tid{threading.get_ident()}")
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path, exist_ok=True)
    return path


# Narrow key range the second batch touches (contiguous on purpose —
# intra-bucket file pruning is a key-LOCALITY optimization); the
# oracle embeds the same constants.
_NDB_RANGE_LO = 100
_NDB_RANGE_HI = 130

#: observability for pytest: last_prune_stats of the most recent
#: ndb_range_pruned_replay call ({} until it runs on a
#: files_per_bucket>1 state with something to prune).
_LAST_RANGE_PRUNE_STATS: dict = {}


def ndb_range_pruned_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ndb upsert/fold/replay through the INTRA-bucket pruned fold
    (NdbTable files_per_bucket=4): batch 1 is the full per-user
    max-event state, folded into key-range files; batch 2 synthesizes
    one marker row per user in the contiguous [_NDB_RANGE_LO,
    _NDB_RANGE_HI) id range — last-write-wins makes the marker the
    final row for exactly those users. Each upsert appends one delta;
    compact() folds it. The narrow range is the point: its keys hash
    across every bucket, so BUCKET-level pruning cannot help, but
    within each touched bucket the marker fold reads only the range
    files intersecting [lo, hi) — the rest hardlink forward
    (read-fraction pinned in pytest via _LAST_RANGE_PRUNE_STATS; this
    driver row proves the pruned fold's END RESULT against the
    oracle).

    Repeated calls in one process are deterministic: each call
    replays upsert(full) then upsert(markers), each folded, onto the
    surviving state, and last-write-wins lands on the same rows."""
    ev = catalog.load(spark, sf_dir, "events").select(
        "user_id",
        "event_id",
        "event_type",
        F.unix_micros(F.col("ts_ts")).alias("ts_us"),
    )
    path = os.path.join(
        _scratch_dir("ndb_range_pruned_replay", sf_dir), "events_kv_fpb"
    )
    table = NdbTable(
        spark, path, key="user_id", n_buckets=8, files_per_bucket=4
    )
    table.upsert(ev, order_by=["ts_us", "event_id"])
    table.compact()
    markers = (
        ev.filter(
            (F.col("user_id") >= _NDB_RANGE_LO)
            & (F.col("user_id") < _NDB_RANGE_HI)
        )
        .select("user_id")
        .distinct()
        .select(
            "user_id",
            F.lit(-1).cast("long").alias("event_id"),
            F.lit("touched").alias("event_type"),
            F.lit(0).cast("long").alias("ts_us"),
        )
    )
    table.upsert(markers, order_by=["ts_us", "event_id"])
    table.compact()
    global _LAST_RANGE_PRUNE_STATS
    _LAST_RANGE_PRUNE_STATS = dict(table.last_prune_stats)
    return (
        table.replay()
        .select("user_id", "event_id", "event_type", "ts_us")
        .orderBy("user_id")
    )


NDB_RANGE_PRUNED_REPLAY_SQL = f"""
SELECT user_id,
       CASE WHEN user_id >= {_NDB_RANGE_LO} AND user_id < {_NDB_RANGE_HI}
            THEN CAST(-1 AS BIGINT) ELSE event_id END AS event_id,
       CASE WHEN user_id >= {_NDB_RANGE_LO} AND user_id < {_NDB_RANGE_HI}
            THEN 'touched' ELSE event_type END AS event_type,
       CASE WHEN user_id >= {_NDB_RANGE_LO} AND user_id < {_NDB_RANGE_HI}
            THEN CAST(0 AS BIGINT) ELSE ts_us END AS ts_us
FROM (
  SELECT user_id, event_id, event_type, epoch_us(ts) AS ts_us,
         ROW_NUMBER() OVER (
           PARTITION BY user_id
           ORDER BY epoch_us(ts) DESC, event_id DESC
         ) AS rn
  FROM events
) WHERE rn = 1
ORDER BY user_id
"""


def _drain_streaming_entry(
    spark: SparkSession,
    sf_dir: str,
    *,
    prefix: str,
    source_df: DataFrame,
    schema: str,
    plan,
    output_mode: str,
    src_files: int | None = None,
    max_files_per_trigger: int = 4,
) -> DataFrame:
    """Shared scaffold of every streaming driver entry (one place to
    fix, entries that can't drift): re-publish the source as NDJSON
    in the per-(query, sf, pid, thread) scratch dir, consume it as a
    file-watch stream with bounded triggers (maxFilesPerTrigger=4 —
    the reference's --streamsize backpressure knob), apply `plan` to
    the stream, drain with trigger=availableNow into a memory table,
    and return it as a DataFrame. drain_to_memory raises on an expired
    drain, so a partial sink can never read as a result.

    The stream is built in a per-call child session
    (session.drain_session), so the query runs with
    session.STATE_PARTITIONS (8) shuffle partitions while the caller's
    spark.sql.shuffle.partitions never changes, and concurrent drains
    (run_parallel legs) cannot race on it. `plan` may join parent-
    session frames. The memory table is a temp view of the child, so
    it is invisible to `spark` and lives as long as the returned
    frame; the returned frame and anything derived from it run under
    the child's conf. Streaming state cost scales with the partition
    count, not the data — every stateful operator opens one state
    store per shuffle partition per state type (a stream-stream join
    opens FOUR per partition), so a sub-second drain at 32 partitions
    pays 128 store setups for a handful of rows each (measured 6.1s ->
    2.7s on the interval-join entry at sf0.1). AQE partition
    coalescing does not apply to stateful streaming plans: state
    partitioning is fixed at query start. A production continuous run
    sizes the same knob to cluster parallelism x state volume instead.

    src_files (r15, STATELESS entries only): republish the source as
    this many NDJSON files instead of the source frame's own
    partitioning. A parquet-single-file source republishes as ONE
    ndjson file, which makes the whole micro-batch ONE task — the
    projection-heavy drains were spending ~85% of their time
    single-threaded (measured on the curation chain at sf0.1: 1 file
    10.8s vs 8 files 2.6s) — and collapses the drain to a single
    micro-batch, weakening the very batch-boundary-invariance claim
    the entries make. Stateless (projection/filter) plans set 8 files
    at the default maxFilesPerTrigger=4: >= 2 micro-batches with
    4-way task parallelism inside each, which also exercises the
    batch-boundary-invariance claim. COMPLETE-mode aggregations (r16)
    may also parallelize — complete mode retains all aggregation
    state and never applies the watermark's late-row drop (Structured
    Streaming guide), so the final emission is the full-data
    aggregate however rows batch — but they must pin
    max_files_per_trigger = src_files: complete mode RE-EMITS THE
    FULL RESULT EVERY TRIGGER, so two triggers re-pay the emission
    and state pass (measured: sessions 1.91 -> 2.38s under 8 files /
    2 triggers, 1.62s under 8 files / 1 trigger at sf0.1).
    Append-mode watermarked aggregations, stream-stream joins, and
    first-wins dedup stay single-file: their EMITTED SET is a
    function of micro-batch boundaries (a repartitioned republish
    interleaves event time across files, so an early batch's
    watermark would discard later rows as late), so their republish
    stays exactly as written."""
    from dbitool_spark import streaming
    from dbitool_spark.io import json_io

    name = prefix.rstrip("_")
    src = os.path.join(_scratch_dir(name, sf_dir), "ndjson")
    if src_files is not None:
        source_df = source_df.repartition(src_files)
    json_io.write_ndjson(source_df, src)
    child = drain_session(spark)
    stream = streaming.stream_ndjson(
        child, src, schema, max_files_per_trigger=max_files_per_trigger
    )
    streaming.drain_to_memory(plan(stream), name, output_mode=output_mode)
    return child.table(name)


def streaming_hourly_stats_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Structured Streaming made driver-visible: events re-published
    as NDJSON files, consumed by a file-watch stream with bounded
    triggers (maxFilesPerTrigger=4 — the reference's --streamsize
    backpressure knob), windowed into tumbling 1-hour per-type counts,
    and drained with trigger=availableNow into a memory sink. The
    oracle is the plain batch aggregation over the same rows, so a
    hash match proves the INCREMENTAL plan (file discovery, trigger
    batching, window state, final flush) reaches the batch answer —
    the exactly-once contract, not merely "a stream ran".

    Complete output mode: with availableNow the watermark only reaches
    max event time, so append mode would withhold every still-open
    window. State is bounded by distinct (hour, type) — fine for a
    drain; a production continuous run would use append + watermark
    (streaming.windowed_counts' default)."""
    from dbitool_spark import streaming

    ev = catalog.load(spark, sf_dir, "events").select(
        "event_id", "event_type", F.col("ts_ts").alias("ts")
    )
    sink = _drain_streaming_entry(
        spark,
        sf_dir,
        prefix="stream_hourly_",
        source_df=ev,
        schema="event_id bigint, event_type string, ts timestamp",
        plan=lambda stream: streaming.windowed_counts(
            stream, "ts", window="1 hour", watermark="0 seconds",
            group_cols=["event_type"],
        ),
        output_mode="complete",
        # one 8-task micro-batch — see streaming_user_sessions_events:
        # complete mode re-pays the full emission per trigger, so the
        # parallel scan must not also multiply triggers
        src_files=8,
        max_files_per_trigger=8,
    )
    return (
        sink
        .select(
            F.date_format("window_start", "yyyy-MM-dd HH:mm:ss").alias("hour"),
            "event_type",
            "n",
        )
        .orderBy("hour", "event_type")
    )


def streaming_dedup_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stateful streaming dedup made driver-visible: events
    re-published as NDJSON, replayed through the native streaming
    dropDuplicates keyed on (user_id, event_type), drained with
    availableNow. The contract is exactly one emission per key across
    ALL micro-batches; projecting the key columns makes the result
    order-independent (whichever duplicate row wins a key, the key
    set is identical), so a hash match against the batch DISTINCT
    oracle proves the stateful incremental plan — first-wins state,
    cross-batch suppression, final drain — reaches the batch answer.
    Completes the streaming family next to the windowed-counts and
    session-window entries.

    r16 optimization round (guide §4.1 — prefer built-ins over the
    Python boundary): this entry previously replayed through the
    custom stream_dedup_first_wins (applyInPandasWithState), which
    pays one interpreted-Python group invocation per key — ~7,500
    nearly-singleton groups here, measured 3.29s vs 1.39s for the
    JVM-native StreamingDeduplicate over the identical drain (5-run
    interleaved medians at sf0.1; emitted key set proven equal in the
    same probe). The custom operator — whose value is the
    dedup-SCOPE timeout semantics dropDuplicates lacks — stays in
    streaming.py with its own pytest coverage
    (tests/test_events_streaming.py); production guidance is the
    same split: built-in dedup for plain first-wins, the group-state
    operator when keys must expire."""
    ev = catalog.load(spark, sf_dir, "events").select("user_id", "event_type")
    sink = _drain_streaming_entry(
        spark,
        sf_dir,
        prefix="stream_dedup_",
        source_df=ev,
        schema="user_id bigint, event_type string",
        plan=lambda stream: stream.dropDuplicates(["user_id", "event_type"]),
        output_mode="append",
    )
    return sink.select("user_id", "event_type").orderBy("user_id", "event_type")


STREAMING_DEDUP_EVENTS_SQL = """
SELECT DISTINCT user_id, event_type FROM events ORDER BY user_id, event_type
"""


def streaming_hourly_append_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The PRODUCTION streaming path, driver-visible: tumbling hourly
    counts in APPEND mode with a real 1-hour watermark (its two
    complete-mode siblings exist because append withholds still-open
    windows — this entry embraces that and proves the emission rule
    instead). With an availableNow drain the final watermark is
    max(event time) - delay regardless of how files were batched into
    triggers, so the emitted set is exactly the windows with
    window_end <= max_ts - 1h — closed-form, order-invariant, and the
    oracle states it directly. A hash match proves watermark
    advancement, append-mode finalization (including the trailing
    no-data batch that flushes the last closable windows), and state
    eviction — the exactly-once semantics of the production
    configuration. Boundary note: with max_ts off whole-hour
    boundaries (true for the event data's microsecond stamps) the
    <= comparison cannot sit on an exact tie, so engine rounding
    differences cannot flip membership."""
    from dbitool_spark import streaming

    ev = catalog.load(spark, sf_dir, "events").select(
        "event_id", "event_type", F.col("ts_ts").alias("ts")
    )
    sink = _drain_streaming_entry(
        spark,
        sf_dir,
        prefix="stream_append_",
        source_df=ev,
        schema="event_id bigint, event_type string, ts timestamp",
        plan=lambda stream: streaming.windowed_counts(
            stream, "ts", window="1 hour", watermark="1 hour",
            group_cols=["event_type"],
        ),
        output_mode="append",
    )
    return (
        sink
        .select(
            F.date_format("window_start", "yyyy-MM-dd HH:mm:ss").alias("hour"),
            "event_type",
            "n",
        )
        .orderBy("hour", "event_type")
    )


def streaming_hourly_composite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Variant-tagged composite of the three hourly tumbling-window
    entries (the events_asof_orders / ngram_jaccard_variants
    pattern): one driver row drives the BATCH
    hourly agg (count + exact-decimal sum), the COMPLETE-mode stream
    drain (watermark 0, state flushed whole), and the APPEND-mode
    production path (1-hour watermark, closed-window emission rule) —
    each through its full original codepath, hash-checked against one
    union oracle. sum_value is the batch variant's column; the
    streaming variants carry NULL there (the counts are their
    contract).

    Scale notes are the constituents': one (hour, type) shuffle for
    the batch agg; bounded (hour, type) state for complete mode;
    watermark-evicted state for append."""
    from dbitool_spark.plans import events_ops

    null_sum = F.lit(None).cast("double").alias("sum_value")
    batch = events_ops.events_hourly_stats(spark, sf_dir).select(
        F.lit("batch").alias("variant"), "hour", "event_type", "n", "sum_value"
    )
    # The two drains are independent end to end (own scratch dirs via
    # _scratch_dir's per-thread leaf, own child sessions and memory
    # sinks), and each one serializes a republish job, a stream start,
    # and micro-batch waits — so run them from two driver threads and
    # let the scheduler back-fill. Each query's OWN file set and
    # trigger cap are unchanged, so the per-query micro-batch
    # boundaries — and therefore the emitted sets — are exactly the
    # sequential run's.
    drained = run_parallel(
        spark,
        [
            ("complete", lambda: streaming_hourly_stats_events(spark, sf_dir)),
            ("append", lambda: streaming_hourly_append_events(spark, sf_dir)),
        ],
    )
    complete = drained["complete"].select(
        F.lit("complete").alias("variant"), "hour", "event_type", "n", null_sum
    )
    append = drained["append"].select(
        F.lit("append").alias("variant"), "hour", "event_type", "n", null_sum
    )
    return batch.unionAll(complete).unionAll(append).orderBy(
        "variant", "hour", "event_type"
    )


STREAMING_HOURLY_COMPOSITE_SQL = """
WITH mx AS (SELECT max(ts) AS m FROM events),
agg AS (
  SELECT date_trunc('hour', ts) AS h, event_type, COUNT(*) AS n,
         CAST(CAST(round(SUM(CAST(value AS DECIMAL(18,6))), 6) AS DECIMAL(18,6)) AS DOUBLE) AS sum_value
  FROM events GROUP BY 1, 2
)
SELECT 'batch' AS variant, strftime(h, '%Y-%m-%d %H:%M:%S') AS hour,
       event_type, n, sum_value
FROM agg
UNION ALL
SELECT 'complete', strftime(h, '%Y-%m-%d %H:%M:%S'), event_type, n, NULL
FROM agg
UNION ALL
SELECT 'append', strftime(h, '%Y-%m-%d %H:%M:%S'), event_type, n, NULL
FROM agg, mx
WHERE agg.h + INTERVAL 1 HOUR <= mx.m - INTERVAL 1 HOUR
ORDER BY variant, hour, event_type
"""


def streaming_decontaminate_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static join made driver-visible — the last pytest-only
    streaming operator: documents re-published as NDJSON and replayed
    as a file stream, filtered against the STATIC benchmark gram set
    (the same held-out construction as the batch decontaminate entry:
    every doc_id % BENCH_MOD == 0 contributes its text minus the last
    word) via streaming.stream_static_filter_contaminated — the
    benchmark collapses to one broadcast row and arrays_overlap
    decides membership per streaming row, stateless. Membership is a
    pure function of the document text, so the result is invariant to
    micro-batch order and hash-matches the batch anti-join oracle,
    proving the stream-static plan (static-side reuse across
    triggers, per-batch filter, drain) reaches the batch answer."""
    from dbitool_spark import streaming
    from dbitool_spark.plans.pipeline_ops import DECONTAM_NGRAM, bench_gram_set

    docs = catalog.load(spark, sf_dir, "documents").select("doc_id", "text", "source")
    bench_grams = bench_gram_set(docs)
    sink = _drain_streaming_entry(
        spark,
        sf_dir,
        prefix="stream_decon_",
        source_df=docs,
        schema="doc_id bigint, text string, source string",
        plan=lambda stream: streaming.stream_static_filter_contaminated(
            stream, bench_grams, "text", ngram=DECONTAM_NGRAM
        ),
        output_mode="append",
        src_files=8,  # stateless filter: batch-boundary invariant
    )
    return sink.select("doc_id", "source").orderBy("doc_id")


def streaming_curation_chain_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Clean-on-ingest: the full text-curation chain (strip_markup ->
    repeated-line removal -> PII redaction,
    llm_ops.curation_chain_transform) applied to documents replayed
    as a file stream. The chain is a stateless projection — no
    watermark, no state store; every row's output is a pure function
    of the row — so the drained sink is invariant to micro-batch
    boundaries and hash-matches the BATCH chain's oracle, proving the
    streaming plan reaches the batch answer. This is how a 100 TB
    ingest pipeline runs the cleanup: at the stream edge, before
    anything shuffles."""
    from dbitool_spark.plans import llm_ops

    docs = catalog.load(spark, sf_dir, "documents").select(
        "doc_id", "text", "source"
    )
    sink = _drain_streaming_entry(
        spark,
        sf_dir,
        prefix="stream_curation_",
        source_df=docs,
        schema="doc_id bigint, text string, source string",
        plan=lambda stream: llm_ops.curation_chain_transform(stream),
        output_mode="append",
        src_files=8,  # stateless projection: batch-boundary invariant
    )
    return sink.orderBy("doc_id")


def _streaming_decontaminate_sql() -> str:
    """Oracle shares the batch decontaminate CTEs (same gram builder
    constant) — survivors instead of overlap counts."""
    from dbitool_spark.plans.pipeline_ops import _DUCK_GRAMS, BENCH_MOD

    return rf"""
WITH aw AS (
  SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\s+') AS w FROM documents
),
bw AS (SELECT w[1:len(w) - 1] AS w FROM aw WHERE doc_id % {BENCH_MOD} = 0),
bench AS (SELECT DISTINCT unnest({_DUCK_GRAMS}) AS gram FROM bw),
g AS (SELECT doc_id, unnest({_DUCK_GRAMS}) AS gram FROM aw),
contaminated AS (SELECT DISTINCT doc_id FROM g JOIN bench USING (gram))
SELECT d.doc_id, d.source FROM documents d
WHERE d.doc_id NOT IN (SELECT doc_id FROM contaminated)
ORDER BY d.doc_id
"""


STREAMING_DECONTAMINATE_SQL = _streaming_decontaminate_sql()


def streaming_user_sessions_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming gap sessionization made driver-visible: events
    re-published as NDJSON, consumed as a file-watch stream, grouped
    by native session windows (merge-on-overlap — the stateful
    incremental operator), drained availableNow, then aggregated to
    the per-user (n_sessions, n_events, longest_session_us) summary.
    Hash-matches the batch lag+cumsum oracle (USER_SESSIONS_SQL), so
    one driver row cross-checks THREE independent realizations of the
    same semantics: batch window-function, batch session_window, and
    incremental stateful session_window.

    Complete output mode for the drain: the availableNow watermark
    only reaches max event time, so append would withhold every
    still-open final session. Session length = window length - gap
    (the window end pads the last event by the gap)."""
    from dbitool_spark import streaming
    from dbitool_spark.plans.events_ops import SESSION_GAP_MIN

    gap_us = SESSION_GAP_MIN * 60 * 1_000_000
    # microseconds ride as int64 through the NDJSON hop: Spark's JSON
    # timestamp serialization is millisecond-precision, and the oracle
    # compares longest_session_us exactly — a lossy text round-trip
    # here surfaced as sub-ms mismatches
    ev = catalog.load(spark, sf_dir, "events").select(
        "user_id", F.unix_micros(F.col("ts_ts")).alias("ts_us")
    )
    sink = _drain_streaming_entry(
        spark,
        sf_dir,
        prefix="stream_sessions_",
        source_df=ev,
        schema="user_id bigint, ts_us bigint",
        plan=lambda stream: streaming.stream_user_sessions(
            stream.withColumn("ts", F.timestamp_micros(F.col("ts_us"))),
            "ts",
            "user_id",
            gap=f"{SESSION_GAP_MIN} minutes",
        ),
        output_mode="complete",
        # complete mode re-emits the FULL result every trigger, so the
        # parallel republish rides in ONE 8-task micro-batch (files =
        # trigger cap): 2 triggers re-paid the complete emission and
        # REGRESSED 1.91 -> 2.14s; 1x8 measures 1.62s at sf0.1
        src_files=8,
        max_files_per_trigger=8,
    )
    per_session = sink.select(
        "user_id",
        "n_events",
        (
            F.unix_micros(F.col("session_end"))
            - F.unix_micros(F.col("session_start"))
            - F.lit(gap_us)
        ).alias("dur_us"),
    )
    return (
        per_session.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_sessions"),
            F.sum("n_events").alias("n_events"),
            F.max("dur_us").alias("longest_session_us"),
        )
        .orderBy("user_id")
    )


def streaming_click_purchase_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermarked stream-stream interval join made driver-visible —
    the one canonical Structured Streaming stateful shape the registry
    did not yet prove (covered so far: windowed aggs, session windows,
    applyInPandasWithState dedup, stream-STATIC join, foreachBatch
    upsert). Events re-publish as NDJSON once; clicks and purchases
    are two filters of the SAME file-watch stream (a stream-stream
    SELF-join — two stateful sides, one source), joined per user where
    the click precedes the purchase by at most 120 minutes, drained
    availableNow in append mode (the only mode stream-stream inner
    joins support), and hash-matched against the plain batch self-join
    oracle — exactly-once over the incremental plan, not "a stream
    ran".

    Timestamps ride the NDJSON hop as int64 MICROS (Spark's JSON
    timestamp text is millisecond-lossy; a truncated boundary row
    would flip the interval comparison vs the micros-exact oracle).
    The replay watermark delay (35 days) covers the full ~30-day span
    of the unordered file replay so no late row is dropped and parity
    is exact; the production knob is the same parameter sized to real
    out-of-orderness, which is what bounds the join state (see
    streaming.interval_join's scale contract)."""
    from dbitool_spark import streaming

    ev = catalog.load(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type",
        F.unix_micros(F.col("ts_ts")).alias("ts_us"),
    )
    def plan(stream: DataFrame) -> DataFrame:
        typed = stream.withColumn("ts", F.timestamp_micros(F.col("ts_us")))
        clicks = typed.filter(F.col("event_type") == "click").select(
            F.col("event_id").alias("click_id"), "user_id",
            F.col("ts").alias("click_ts"),
        )
        purchases = typed.filter(F.col("event_type") == "purchase").select(
            F.col("event_id").alias("purchase_id"), "user_id",
            F.col("ts").alias("purchase_ts"),
        )
        return streaming.interval_join(
            clicks, purchases,
            on=["user_id"],
            left_time_col="click_ts",
            right_time_col="purchase_ts",
            lower="0 seconds", upper="120 minutes",
            left_watermark="35 days", right_watermark="35 days",
        )
    sink = _drain_streaming_entry(
        spark,
        sf_dir,
        prefix="stream_ssjoin_",
        source_df=ev,
        schema="event_id bigint, user_id bigint, event_type string, ts_us bigint",
        plan=plan,
        output_mode="append",
    )
    return sink.select(
        "user_id", "click_id", "purchase_id",
        (F.unix_micros("purchase_ts") - F.unix_micros("click_ts")).alias("gap_us"),
    ).orderBy("user_id", "click_id", "purchase_id")


STREAMING_CLICK_PURCHASE_JOIN_SQL = """
SELECT c.user_id,
       c.event_id AS click_id,
       p.event_id AS purchase_id,
       date_diff('microsecond', c.ts, p.ts) AS gap_us
FROM events c JOIN events p
  ON c.user_id = p.user_id
 AND c.event_type = 'click' AND p.event_type = 'purchase'
 AND c.ts <= p.ts AND c.ts >= p.ts - INTERVAL 120 MINUTE
ORDER BY 1, 2, 3
"""


def streaming_lsh_near_dup_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming near-dup dedup made driver-visible: the perturbed
    documents corpus (every doc plus a near-identical copy) is
    re-published as NDJSON and replayed as a file-watch stream through
    streaming.stream_near_dup_lsh — an LSH bucket-owner index
    incrementally maintained in an ndb table via foreachBatch, the
    dedup-on-ingest a training pipeline runs continuously.

    The returned single row proves three things at once against the
    pure-batch rule (ops.dedup.lsh_near_dup_flags, same hash
    expressions by construction):
    - index_mismatches = 0: the streamed index's bucket owners equal
      the batch bucket minima (the merge is order-insensitive);
    - flag_mismatches = 0: per-doc flags derived from the final index
      equal the batch rule's flags for every document;
    - n_docs = 2 * |documents with even doc_id|: every corpus row was
      flagged exactly once (nothing dropped or duplicated on the way
      through the stream).
    The xxhash64-based bucket values themselves are not
    SQL-expressible in DuckDB, so the oracle pins this
    parity-summary row — the recall-companion pattern
    (simhash_recall_planted).

    A 1-in-2 deterministic subset keeps the entry's bench cost
    proportionate (the drain pays per-batch ndb reads and folds and the
    parity re-hashes the corpus; the guarantees are per-doc, so a
    subset checks the same theorem — the simhash_recall_planted
    precedent). Both halves of each planted pair survive: the subset
    is taken BEFORE perturbation."""
    from dbitool_spark import streaming
    from dbitool_spark.io import json_io
    from dbitool_spark.ops import dedup
    from dbitool_spark.plans.llm_ops import _perturbed_corpus

    docs = catalog.load(spark, sf_dir, "documents").filter(
        F.col("doc_id") % 2 == 0
    )
    corpus = _perturbed_corpus(docs)
    scratch = _scratch_dir("streaming_lsh_near_dup", sf_dir)
    src = os.path.join(scratch, "ndjson")
    # the drain and its per-batch index merges run in a child session
    # with the drains' state partitioning (see _drain_streaming_entry)
    child = drain_session(spark)
    index = NdbTable(child, os.path.join(scratch, "lsh_index"), key="bucket", n_buckets=8)
    flags_dir = os.path.join(scratch, "flags")

    from dbitool_spark.ops import scale as _scale
    from dbitool_spark.ops.cache import materialize_release

    # r17 optimization round (r16 verdict item 2; guide §2.6 — overlap
    # independent jobs): the DRAIN leg (republish + 2-micro-batch LSH
    # stream into the ndb index) and the PARITY leg (the batch bucket
    # projection all three checks read) are independent end to end —
    # the parity side reads the parquet corpus, the drain reads its own
    # republished NDJSON under this entry's scratch dir — and each
    # serializes ~1-2s of driver-sequential waits. Run them on two
    # driver threads; the checks below join only artifacts both legs
    # have finished. The drain's own file set, trigger cap and state
    # partitioning are byte-identical to the sequential run, so its
    # micro-batch boundaries — and the index/flag contents — are
    # unchanged (pinned by the oracle hash and the r17 equivalence
    # test).
    def _drain_leg():
        # Arrival order is deliberately unpinned: FileStreamSource
        # orders by modification time with an unspecified tie-break
        # anyway, and nothing downstream needs it — the index merge is
        # order-insensitive by construction and all three checks
        # compare order-insensitive artifacts (arrival-order semantics
        # are pinned separately in pytest with per-file mtimes).
        # coalesce, not repartitionByRange: range partitioning would
        # add a sampling pass for an ordering guarantee this entry
        # does not use. 4 files / 2 per trigger = 2 micro-batches: the
        # minimum that proves cross-batch index increments.
        json_io.write_ndjson(corpus.coalesce(4), src)
        stream = streaming.stream_ndjson(
            child, src, "doc_id long, text string", max_files_per_trigger=2
        )
        streaming.stream_near_dup_lsh(
            stream, "doc_id", "text",
            index=index, flags_dir=flags_dir,
            checkpoint=os.path.join(scratch, "ckpt"),
        )
        return None  # the leg's outputs are the index + flags dirs

    def _parity_leg():
        # the bucket projection (shingles + 16x xxhash64 + explode)
        # feeds all three checks — persist AND materialize here so it
        # runs once, overlapped with the drain. Rebalanced first (r16):
        # the projection otherwise runs below its first exchange on the
        # scan's 1-2 small-file splits (no-op at 100 TB; see
        # scale.rebalance_to_parallelism); the republish keeps its own
        # coalesce(4) layout, so micro-batch contents are unchanged.
        b = dedup.lsh_bucket_rows(
            _scale.rebalance_to_parallelism(corpus, "doc_id"), "doc_id", "text"
        ).persist()
        b.count()
        return b

    legs = run_parallel(
        spark, [("drain", _drain_leg), ("parity", _parity_leg)]
    )

    def _mismatches(a: str, b: str, alias: str):
        return F.sum(
            F.when(
                F.col(a).isNull() | F.col(b).isNull() | (F.col(a) != F.col(b)), 1
            ).otherwise(0)
        ).cast("long").alias(alias)

    final = index.replay()  # (bucket, owner)
    buckets = legs["parity"]
    minima = buckets.groupBy("bucket").agg(F.min("id").alias("bmin"))
    # (a) streamed owners vs batch bucket minima, full outer so a
    # missing/extra bucket counts as a mismatch too
    index_check = minima.join(final, "bucket", "full_outer").agg(
        _mismatches("owner", "bmin", "index_mismatches")
    )
    # (b) per-doc flags: the SAME rule (dedup.lsh_flags_from_buckets)
    # applied to the streamed index vs the batch minima — also catches
    # docs whose buckets are missing from the index (NULL flag)
    post = dedup.lsh_flags_from_buckets(buckets, final).withColumnRenamed(
        "is_dup", "dup_s"
    )
    batch_flags = dedup.lsh_flags_from_buckets(
        buckets, minima.withColumnRenamed("bmin", "owner")
    )
    flag_check = post.join(batch_flags, "id", "full_outer").agg(
        _mismatches("dup_s", "is_dup", "flag_mismatches")
    )
    streamed_rows = (
        spark.read.parquet(flags_dir)
        .agg(F.count(F.lit(1)).cast("long").alias("n_docs"))
    )
    # three 1-row aggregates -> one row (the scalar-combine pattern,
    # plans/relational.py scalar avg); eager checkpoint releases the
    # bucket persist before returning
    return materialize_release(
        streamed_rows.crossJoin(index_check).crossJoin(flag_check), buckets
    )


STREAMING_LSH_NEAR_DUP_SQL = """
SELECT CAST(2 * count(*) AS BIGINT) AS n_docs,
       CAST(0 AS BIGINT) AS index_mismatches,
       CAST(0 AS BIGINT) AS flag_mismatches
FROM documents
WHERE doc_id % 2 = 0
"""


def sessions_composite_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Variant-tagged composite of the THREE sessionization entries
    (the streaming_hourly_composite pattern): one driver row
    drives the batch lag+cumsum plan (user_sessions), the batch native
    session_window plan (user_sessions_window), and the incremental
    stateful session_window drain (streaming_user_sessions_events) —
    each through its full original codepath, hash-checked against one
    union oracle. All three realize the same >30-minute-gap semantics,
    so the three variants carry IDENTICAL (n_sessions, n_events,
    longest_session_us) rows; a divergence in any plan breaks the
    union hash.

    Scale notes are the constituents': one shuffle on user_id for each
    batch variant (both window passes reuse the partitioning); the
    streaming variant holds per-user open-session state, merged on
    overlap, complete-mode drained."""
    from dbitool_spark.plans import events_ops

    cols = ["user_id", "n_sessions", "n_events", "longest_session_us"]
    lag = events_ops.user_sessions(spark, sf_dir).select(
        F.lit("lag_cumsum").alias("variant"), *cols
    )
    win = events_ops.user_sessions_window(spark, sf_dir).select(
        F.lit("session_window").alias("variant"), *cols
    )
    stream = streaming_user_sessions_events(spark, sf_dir).select(
        F.lit("stream").alias("variant"), *cols
    )
    return lag.unionAll(win).unionAll(stream).orderBy("variant", "user_id")


def _sessions_composite_sql() -> str:
    from dbitool_spark.plans.events_ops import USER_SESSIONS_SQL

    base = USER_SESSIONS_SQL.replace("ORDER BY user_id", "")
    return f"""
SELECT 'lag_cumsum' AS variant, t.* FROM ({base}) t
UNION ALL
SELECT 'session_window' AS variant, t.* FROM ({base}) t
UNION ALL
SELECT 'stream' AS variant, t.* FROM ({base}) t
ORDER BY variant, user_id
"""


SESSIONS_COMPOSITE_SQL = _sessions_composite_sql()


def ndb_time_travel_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ndb TIME TRAVEL made driver-visible (r12, NdbTable
    keep_versions): events split into three upsert batches by
    event_id % 3, keyed by user_id, retained with keep_versions=3 —
    then EVERY retained snapshot is replayed via replay(as_of=gen)
    and unioned, snapshot-tagged. Snapshot k must equal the
    last-write-wins resolution over batches 0..k only: a hash match
    proves the retained version dirs are the exact historical states,
    not merely readable parquet — the transaction-log read of the
    Delta/Iceberg swap, on plain parquet (reference ndb semantics:
    scripts/dbitool.pl:2561-2694, extended with the table-format
    facility the module docstring documents as the production swap).

    Retention is cheap by construction: each upsert appends one delta
    file and hardlinks every earlier file forward, so the three
    snapshots share inodes and the window costs only each version's
    own delta. The table
    rebuilds from scratch each call (rmtree) so repeated in-process
    calls — bench runs every entry 5x — see identical generation
    numbers."""
    ev = catalog.load(spark, sf_dir, "events").select(
        "user_id",
        "event_id",
        "event_type",
        F.unix_micros(F.col("ts_ts")).alias("ts_us"),
    )
    path = os.path.join(_scratch_dir("ndb_time_travel", sf_dir), "events_kv_tt")
    shutil.rmtree(path, ignore_errors=True)
    table = NdbTable(spark, path, key="user_id", n_buckets=8, keep_versions=3)
    for k in range(3):
        table.upsert(
            ev.filter(F.col("event_id") % 3 == k),
            order_by=["ts_us", "event_id"],
        )
    assert table.versions() == [0, 1, 2], table.versions()
    snaps = [
        table.replay(as_of=g)
        .select(
            F.lit(g).cast("long").alias("snapshot"),
            "user_id",
            "event_id",
            "event_type",
            "ts_us",
        )
        for g in (0, 1, 2)
    ]
    out = snaps[0]
    for s in snaps[1:]:
        out = out.unionAll(s)
    return out.orderBy("snapshot", "user_id")


def _ndb_time_travel_sql() -> str:
    """Snapshot k = last-write-wins over batches 0..k: batch index is
    event_id % 3, later batch beats earlier, (ts_us, event_id) desc
    breaks ties within a batch — the upsert resolution window,
    parameterized over the visible-batch prefix."""
    parts = []
    for k in range(3):
        parts.append(f"""
SELECT CAST({k} AS BIGINT) AS snapshot, user_id, event_id, event_type, ts_us
FROM (
  SELECT user_id, event_id, event_type, epoch_us(ts) AS ts_us,
         ROW_NUMBER() OVER (
           PARTITION BY user_id
           ORDER BY (event_id % 3) DESC, epoch_us(ts) DESC, event_id DESC
         ) AS rn
  FROM events WHERE event_id % 3 <= {k}
) WHERE rn = 1""")
    return "\nUNION ALL\n".join(parts) + "\nORDER BY snapshot, user_id\n"


NDB_TIME_TRAVEL_SQL = _ndb_time_travel_sql()


#: sentinel key: the per-batch idempotence watermark row inside the
#: rollup table (filtered out of every read)
_ROLLUP_WATERMARK_KEY = "__batch_watermark"


def _rollup_merge_batch(spark, table, batch_df, batch_id: int) -> None:
    """One micro-batch of the ndb continuous aggregate — REPLAY-
    IDEMPOTENT (review finding): foreachBatch is at-least-once (a
    crash between the table commit and the checkpoint commit re-runs
    the batch), and additive 'sum' rules double-count on replay —
    exactly the window merge_upsert's retry-contract note documents.
    The batch id therefore rides INSIDE the same merge as a watermark
    row (key __batch_watermark, its own bmax column under 'max'), so
    the applied-id advances ATOMICALLY with the sums in one ndb
    version commit: on replay the stored watermark already covers the
    batch and the merge SKIPS. availableNow batch ids are strictly
    increasing under one checkpoint, which makes watermark >= id
    equivalent to already-applied."""
    if batch_df.isEmpty():
        return
    applied = -1
    try:
        row = (
            table.replay()
            .filter(F.col("rollup_key") == _ROLLUP_WATERMARK_KEY)
            .select("bmax")
            .collect()
        )
        if row and row[0][0] is not None:
            applied = int(row[0][0])
    except ValueError:
        pass  # empty table: nothing applied yet
    if batch_id <= applied:
        return  # crash-replayed batch: its sums are already committed
    partial = (
        batch_df.withColumn("ts", F.timestamp_micros(F.col("ts_us")))
        .groupBy(
            F.date_format(
                F.date_trunc("hour", F.col("ts")), "yyyy-MM-dd HH:mm:ss"
            ).alias("hour"),
            "event_type",
        )
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("value").cast("decimal(18,6)"))
            .cast("decimal(18,6)")
            .alias("sum_v"),
        )
        .withColumn("rollup_key", F.concat_ws("|", "hour", "event_type"))
        .withColumn("bmax", F.lit(None).cast("bigint"))
    )
    sentinel = spark.createDataFrame(
        [(_ROLLUP_WATERMARK_KEY, None, None, None, None, batch_id)],
        "rollup_key string, hour string, event_type string, "
        "n bigint, sum_v decimal(18,6), bmax bigint",
    )
    # the first-class MERGE-with-aggregation table op (r12): the
    # additive fold into dimension-sized state is the table's job,
    # not every caller's — bucket-pruned resolved read + keyed
    # left-join + one appended delta, O(state*b/n + batch)
    table.merge_upsert(
        partial.select(
            "rollup_key", "hour", "event_type", "n", "sum_v", "bmax"
        ).unionByName(sentinel),
        combine={"n": "sum", "sum_v": "sum", "bmax": "max"},
    )


def streaming_rollup_ndb_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CONTINUOUS AGGREGATE maintained in a persistent keyed table —
    the hypertable-rollup / incremental-materialized-view shape:
    events replayed as a file stream; every micro-batch computes its
    (hour, event_type) partial counts + exact-decimal sums and MERGES
    them additively into an ndb table (read-modify-write inside
    foreachBatch — the Delta MERGE per-batch pattern, here on the
    merge-on-read ndb store). Unlike the windowed streaming entries,
    the aggregate state lives in a TABLE: queryable mid-stream,
    durable across restarts (availableNow + checkpoint give
    exactly-once per input file), and time-travelable like any ndb
    state. The final replay must hash-match the plain batch GROUP BY —
    micro-batch boundaries must not show in an additive rollup.

    Scale shape: per-batch partials are map-side-combined aggregates
    over the batch only; the merge joins |distinct keys-in-batch| rows
    against dimension-sized rollup state (read bucket-pruned to the
    touched keys' buckets) on the key, and the result appends as one
    delta. The table rebuilds
    from scratch each call (rmtree, fresh checkpoint) so repeated
    in-process calls are deterministic."""
    import uuid

    from dbitool_spark import streaming
    from dbitool_spark.io import json_io

    ev = catalog.load(spark, sf_dir, "events").select(
        "event_id",
        "event_type",
        F.unix_micros(F.col("ts_ts")).alias("ts_us"),
        F.col("value").cast("decimal(18,6)").alias("value"),
    )
    scratch = _scratch_dir("streaming_rollup_ndb", sf_dir)
    src = os.path.join(scratch, "ndjson")
    json_io.write_ndjson(ev.coalesce(4), src)
    path = os.path.join(scratch, "rollup_kv")
    shutil.rmtree(path, ignore_errors=True)
    ckpt = os.path.join(scratch, f"ckpt_{uuid.uuid4().hex[:8]}")
    table = NdbTable(spark, path, key="rollup_key", n_buckets=8)

    def merge_batch(batch_df, batch_id: int) -> None:
        _rollup_merge_batch(spark, table, batch_df, batch_id)

    stream = streaming.stream_ndjson(
        spark,
        src,
        "event_id bigint, event_type string, ts_us bigint, value decimal(18,6)",
        max_files_per_trigger=2,
    )
    streaming._drain(
        stream.writeStream.foreachBatch(merge_batch).option(
            "checkpointLocation", ckpt
        ),
        "of the ndb rollup stream",
        300,
    )
    return (
        table.replay()
        .filter(F.col("rollup_key") != _ROLLUP_WATERMARK_KEY)
        .select(
            "hour",
            "event_type",
            "n",
            F.col("sum_v").cast("double").alias("sum_value"),
        )
        .orderBy("hour", "event_type")
    )


STREAMING_ROLLUP_NDB_SQL = """
SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS hour,
       event_type, COUNT(*) AS n,
       CAST(CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DECIMAL(18,6)) AS DOUBLE) AS sum_value
FROM events
GROUP BY 1, 2
ORDER BY hour, event_type
"""
