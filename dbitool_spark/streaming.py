"""Structured Streaming analogue of the pipeline (SURVEY.md §7 M4).

The reference's incremental pull model (bounded buffers drained until
EOF; stdin as the one unbounded source, scripts/dbitool.pl:956-992,
:763-785) generalizes faithfully to Structured Streaming: a file-watch
or rate source replaces stdin, watermarks bound state like streamsize
bounds buffers, and query termination replaces EOF cascade.

Surface: thin wrappers that keep the engine's format option surface
(same sep/quote/schema args as the batch readers), the canonical
stateful shapes (windowed aggregation with late-data watermarking,
session windows, first-wins dedup, interval joins), and the sinks.

Drain contract: every bounded sink (drain_to_memory, drain_to_parquet,
stream_upsert_ndb, stream_near_dup_lsh, and the ndb rollup stream of
plans.state_ops) goes through the one primitive _drain —
trigger=availableNow processes everything available at start, then
the query stops itself (the EOF cascade). A drain that does not finish
within timeout_sec is stopped, never leaked, and raises TimeoutError,
because its sink then holds a partial result. A query runs in the
session of the frame it drains and creates no session of its own; the
registry's streaming entries build their streams in a per-drain child
session (session.drain_session), and queries started there are not
seen by a StreamProgressLogger attached to the parent's spark.streams.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import DataStreamWriter, StreamingQuery


def stream_csv(
    spark: SparkSession,
    path: str,
    schema: str,
    *,
    sep: str = ",",
    header: bool = True,
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """File-watch CSV stream (schema required: streams cannot infer).
    maxFilesPerTrigger is the backpressure knob — the streaming
    equivalent of the reference's --streamsize batch cap."""
    reader = (
        spark.readStream.schema(schema)
        .option("sep", sep)
        .option("header", header)
    )
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return reader.csv(path)


def stream_ndjson(
    spark: SparkSession,
    path: str,
    schema: str,
    *,
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    reader = spark.readStream.schema(schema)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return reader.json(path)


def stream_socket(spark: SparkSession, host: str, port: int) -> DataFrame:
    """Unbounded TCP client source (reference TODO:58-59's input
    side): Spark's socket source connects to a listening endpoint and
    emits lines as they arrive — `value: string`, the raw-stream
    contract, composable with every downstream streaming op. The
    driver holds the connection and distributes rows; it is the
    engine-native tail of a network feed (the bounded batch analogue
    is io.net_io.read_tcp)."""
    return (
        spark.readStream.format("socket")
        .option("host", host)
        .option("port", port)
        .load()
    )


def stream_rate(spark: SparkSession, rows_per_second: int = 10) -> DataFrame:
    """Synthetic unbounded source (timestamp, value) — the test stand-in
    for stdin-like feeds."""
    return (
        spark.readStream.format("rate")
        .option("rowsPerSecond", rows_per_second)
        .load()
    )


def windowed_counts(
    stream: DataFrame,
    ts_col: str,
    *,
    window: str = "1 hour",
    watermark: str = "2 hours",
    group_cols: list[str] | None = None,
) -> DataFrame:
    """Tumbling event-time window counts with a late-data watermark.
    State is bounded: rows later than the watermark are dropped and
    windows older than it are evicted — the streaming analogue of the
    reference's bounded buffers."""
    grouped = stream.withWatermark(ts_col, watermark).groupBy(
        F.window(F.col(ts_col), window).alias("win"),
        *(group_cols or []),
    )
    return grouped.agg(F.count(F.lit(1)).alias("n")).select(
        F.col("win.start").alias("window_start"),
        F.col("win.end").alias("window_end"),
        *(group_cols or []),
        "n",
    )


def stream_user_sessions(
    stream: DataFrame,
    ts_col: str,
    user_col: str,
    *,
    gap: str = "30 minutes",
    watermark: str = "0 seconds",
) -> DataFrame:
    """Streaming gap sessionization: Spark's native session_window
    (merge-on-overlap) — the incremental realization of
    plans.events_ops.user_sessions' >gap-silence semantics. State per
    open session; the watermark closes and evicts sessions whose gap
    has passed (bounded state, the reference's bounded-buffer
    analogue). Session length = (end - start) - gap: the window end
    pads the last event by the gap."""
    grouped = stream.withWatermark(ts_col, watermark).groupBy(
        F.session_window(F.col(ts_col), gap).alias("win"), F.col(user_col)
    )
    return grouped.agg(F.count(F.lit(1)).alias("n_events")).select(
        user_col,
        F.col("win.start").alias("session_start"),
        F.col("win.end").alias("session_end"),
        "n_events",
    )


def _drain(writer: DataStreamWriter, what: str, timeout_sec: int) -> StreamingQuery:
    """Start `writer` with trigger=availableNow and wait until it has
    processed everything available at start. On expiry the query is
    stopped and TimeoutError raised: the sink holds a partial result,
    which must never read as an answer."""
    q = writer.trigger(availableNow=True).start()
    if not q.awaitTermination(timeout_sec):
        q.stop()
        raise TimeoutError(
            f"availableNow drain {what} did not finish within {timeout_sec}s; "
            "the sink holds a PARTIAL result. Either the drain is slow "
            "(raise timeout_sec; a checkpointed sink resumes cleanly) or the "
            "plan registered processing-time timers, which availableNow never "
            "runs to completion (use start_parquet_stream)."
        )
    return q


def drain_to_memory(
    df: DataFrame, name: str, *, output_mode: str = "append", timeout_sec: int = 120
) -> StreamingQuery:
    """Process everything currently available, then stop
    (trigger=availableNow) — makes a streaming plan batch-comparable
    in tests. Results land in the in-memory table `name` of the
    session `df` belongs to.

    Do NOT drain a plan that registered processing-time timers
    (stream_dedup_first_wins with state_timeout_ms): with a pending
    timer an availableNow query never reaches self-termination
    (observed on Spark 4.1 — the pending timer counts as outstanding
    work the one-shot trigger will never run). Such plans need a
    continuous trigger: see start_parquet_stream. Such a drain expires
    and raises TimeoutError (see _drain)."""
    writer = df.writeStream.format("memory").queryName(name).outputMode(output_mode)
    return _drain(writer, f"into memory table {name!r}", timeout_sec)


def stream_dedup_first_wins(
    stream: DataFrame, key_cols: list[str], *, state_timeout_ms: int | None = None
) -> DataFrame:
    """Custom stateful streaming operator: keep only the FIRST row
    seen per key across all micro-batches (streaming exact dedup —
    the curation pipeline's "emit each document once" guarantee).

    Built on applyInPandasWithState: per-key GroupState stores one
    boolean; Arrow batches flow per group, new keys emit their first
    row, known keys emit nothing. State is the minimal per-key flag,
    so memory is O(distinct live keys): with state_timeout_ms set,
    expired keys are removed on their timeout callback (hasTimedOut)
    and a later reappearance of the key re-emits — the bounded-state
    dedup-scope semantics (e.g. daily dedup windows).

    Trigger contract: state_timeout_ms requires a continuous
    processing-time trigger (start_parquet_stream) — timers only fire
    on subsequent (possibly empty) triggers, and an availableNow
    drain never self-terminates while a processing-time timer is
    pending (observed Spark 4.1 behavior). Without a timeout the
    operator drains fine with availableNow."""
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    out_schema = stream.schema

    def dedup(key, pdfs, state: GroupState):
        if state.hasTimedOut:
            # timeout callback: reclaim the per-key flag so state stays
            # bounded; the next occurrence of this key re-emits.
            state.remove()
            return
        if state.exists:
            return  # key already emitted; drop everything
        first = None
        for pdf in pdfs:
            if len(pdf):
                first = pdf.iloc[[0]]
                break
        state.update((True,))
        if state_timeout_ms is not None:
            state.setTimeoutDuration(state_timeout_ms)
        if first is not None:
            yield first

    timeout = (
        GroupStateTimeout.ProcessingTimeTimeout
        if state_timeout_ms is not None
        else GroupStateTimeout.NoTimeout
    )
    return stream.groupBy(*key_cols).applyInPandasWithState(
        dedup,
        outputStructType=out_schema,
        stateStructType="seen boolean",
        outputMode="append",
        timeoutConf=timeout,
    )


def drain_to_parquet(
    df: DataFrame,
    path: str,
    checkpoint: str,
    *,
    output_mode: str = "append",
    timeout_sec: int = 300,
) -> StreamingQuery:
    """availableNow drain into parquet with a checkpoint — the
    restartable batch-drain pattern (exactly-once sink semantics via
    the checkpoint's commit log)."""
    writer = (
        df.writeStream.format("parquet")
        .option("path", path)
        .option("checkpointLocation", checkpoint)
        .outputMode(output_mode)
    )
    return _drain(writer, f"into {path!r}", timeout_sec)


def start_parquet_stream(
    df: DataFrame,
    path: str,
    checkpoint: str,
    *,
    output_mode: str = "append",
    trigger_interval: str = "500 milliseconds",
) -> StreamingQuery:
    """Long-running parquet sink with a processing-time trigger — the
    deployment shape for stateful plans that rely on processing-time
    timers (stream_dedup_first_wins with a dedup-scope timeout).
    Unlike the availableNow drains, empty triggers still run when
    timers expire, which is exactly what fires the hasTimedOut
    callback and reclaims state. Caller owns the query lifecycle
    (poll the sink, then q.stop())."""
    return (
        df.writeStream.format("parquet")
        .option("path", path)
        .option("checkpointLocation", checkpoint)
        .outputMode(output_mode)
        .trigger(processingTime=trigger_interval)
        .start()
    )


def stream_static_filter_contaminated(
    stream: DataFrame,
    bench_grams: DataFrame,
    text_col: str = "text",
    *,
    ngram: int = 8,
) -> DataFrame:
    """Stream-static decontamination: drop streaming documents that
    share any word n-gram with a STATIC benchmark gram set (one
    column `gram`). Anti-joining the stream against its own gram hits
    would be a (unsupported) stream-stream anti-join, so the filter
    runs per-row instead: the benchmark set collapses to ONE static
    row holding the full gram array, broadcast-joined onto every
    streaming row, and arrays_overlap(doc grams, benchmark grams)
    decides membership — stateless, no watermark, drains with
    availableNow, works identically on a batch DataFrame.

    Bounded-edge note: this materializes the benchmark gram set as a
    single array (same boundedness argument as the batch op —
    benchmark suites are 10^3-10^5 docs, orders of magnitude under
    the corpus; tens of MB of grams broadcast fine). A benchmark too
    large for one array is no longer a 'benchmark' — decontaminate in
    batch with the gram-level join instead."""
    from dbitool_spark.ops.dedup import shingles

    taken = [c for c in ("__k", "__bench") if c in stream.columns]
    if taken:
        # the join scaffolding claims these names: silently overwriting
        # (or producing an ambiguous duplicate after the join) destroys
        # user data — raise like ops.scale.with_position does for its
        # reserved name (review finding)
        raise ValueError(
            f"columns {taken} are reserved by "
            f"stream_static_filter_contaminated's join scaffolding; "
            "rename them on the input stream"
        )
    bench_arr = (
        bench_grams.agg(F.collect_set("gram").alias("__bench"))
        .withColumn("__k", F.lit(1))
    )
    contaminated = F.arrays_overlap(
        shingles(F.col(text_col), ngram), F.col("__bench")
    )
    # NULL text => shingles() is NULL => arrays_overlap is NULL; the
    # batch oracle's NOT IN keeps such docs (their grams unnest to
    # zero rows), so coalesce to not-contaminated instead of letting
    # three-valued logic silently drop them
    return (
        stream.withColumn("__k", F.lit(1))
        .join(F.broadcast(bench_arr), "__k")  # static side: 1 row
        .filter(~F.coalesce(contaminated, F.lit(False)))
        .drop("__k", "__bench")
    )


def interval_join(
    left: DataFrame,
    right: DataFrame,
    *,
    on: list[str],
    left_time_col: str,
    right_time_col: str,
    lower: str = "0 seconds",
    upper: str = "30 minutes",
    left_watermark: str = "1 hour",
    right_watermark: str = "1 hour",
) -> DataFrame:
    """Watermarked stream-stream INNER interval join — the canonical
    Structured Streaming stateful-join shape (reference parity: the
    engine's batch as-of/range joins, ops/temporal.py, expressed over
    two live streams). Matches rows with equal `on` keys where
    right_time - lower >= left_time >= right_time - upper, i.e. the
    left event happened within [upper ago, lower ago] of the right
    event (lower <= upper; "0 seconds"/"30 minutes" = left precedes
    right by at most 30 minutes).

    Scale shape (100 TB): both sides shuffle on the equality keys and
    the join state is keyed by them; the watermarks plus the interval
    bound let Spark EVICT state — left rows older than
    (right watermark - upper) can never match again and are dropped
    from the store, so state is bounded by key cardinality x interval
    x arrival rate, not by stream length. Without the time bound a
    stream-stream join's state grows forever; this wrapper therefore
    REQUIRES the interval. Works identically on batch frames (the
    condition is plain SQL), which is how the drain-parity oracle
    checks it.

    Column contract: output = left columns + right columns; the
    caller aliases/prefixes to avoid collisions (the equality keys
    appear once). Watermark delays trade completeness for state: a
    delay shorter than the source's out-of-orderness drops late rows
    (exactly-once against the batch answer then fails honestly) —
    drain-style replays over unordered files should pass a delay
    covering the full replayed span."""
    lw = left.withWatermark(left_time_col, left_watermark)
    rw = right.withWatermark(right_time_col, right_watermark)
    lt, rt = F.col(left_time_col), F.col(right_time_col)
    cond = (
        (lt >= rt - F.expr(f"INTERVAL {upper}"))
        & (lt <= rt - F.expr(f"INTERVAL {lower}"))
    )
    for k in on:
        cond = cond & (lw[k] == rw[k])
    joined = lw.join(rw, cond, "inner")
    # equality keys appear on both sides after a condition-form join;
    # keep the left copy once, drop the right duplicates
    for k in on:
        joined = joined.drop(rw[k])
    return joined


def stream_upsert_ndb(
    stream: DataFrame,
    table,
    *,
    checkpoint: str,
    order_by: str | list[str] | None = None,
    timeout_sec: int = 300,
) -> StreamingQuery:
    """Streaming sink into the keyed ndb table: every micro-batch
    upserts through NdbTable.upsert (foreachBatch — the canonical
    'stream into a batch-only sink' bridge). Batch N+1's rows beat
    batch N's for the same key (the table's generation precedence),
    and within a batch `order_by` breaks ties — exactly the
    reference ndb module's last-write-wins hash semantics
    (dbitool.pl:2677-2686) under continuous input. availableNow +
    checkpoint give exactly-once per input file."""

    def upsert_batch(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        table.upsert(batch_df, order_by=order_by)

    writer = stream.writeStream.foreachBatch(upsert_batch).option(
        "checkpointLocation", checkpoint
    )
    return _drain(writer, "of the ndb upsert stream", timeout_sec)


def stream_near_dup_lsh(
    stream: DataFrame,
    id_col: str,
    text_col: str,
    *,
    index,
    flags_dir: str,
    checkpoint: str,
    shingle_k: int = 3,
    n_hashes: int = 16,
    bands: int = 8,
    timeout_sec: int = 300,
) -> StreamingQuery:
    """Incremental near-duplicate detection over a document stream —
    the dedup-on-ingest a training-data pipeline runs continuously:
    each micro-batch is checked against every PREVIOUSLY seen document
    via an LSH bucket-owner index (MinHash band hash -> smallest doc
    id seen) persisted in the engine's own keyed ndb table, then the
    batch's own buckets merge in. Per-doc arrival flags (is_dup: did
    any band bucket already have an owner, or a smaller in-batch id)
    append to `flags_dir` as parquet, tagged with the batch id.

    Design notes (the 100 TB shape):
    - foreachBatch + a persistent keyed table, NOT per-bucket
      applyInPandasWithState: bucket keys are nearly unique per
      (doc, band), so group-state would pay one interpreted-Python
      call per ~singleton group; here the check is ONE batch-sized
      hash join against the index and the merge is one ndb upsert —
      all JVM-side, state scales as a parquet table, not executor
      memory.
    - band hashing is the per-row expression form
      (ops.dedup.minhash_band_structs): a streaming plan admits no
      groupBy between source and sink, and per-row exprs keep the
      whole prefix in codegen.
    - owner = min(existing, batch-min) per bucket, so the final index
      converges to the global bucket minimum regardless of arrival
      order — order-insensitive and exactly the batch rule
      (ops.dedup.lsh_near_dup_flags); arrival flags are the
      first-arrival-wins view of the same index.
    - availableNow + checkpoint give exactly-once per input file.
    - honest cost note: NdbTable.upsert is a merge-on-read APPEND
      (ndb.py): each micro-batch's owner merge writes one delta file,
      O(|batch|), however uniformly the LSH bucket keys spread. The
      O(|index|) work moved to the reads and the fold: every batch's
      index.replay() resolves the folded index plus its pending
      deltas (a broadcast anti-join against the small delta keys, so
      the index itself never shuffles), and every _FOLD_AFTER
      batches the upsert folds the deltas back into the touched
      buckets — with uniform keys that is all of them, a full
      O(|index|) rewrite per fold instead of per batch. The index is
      bands * |corpus| longs, tiny next to the corpus; past a fold
      budget the production answer is Delta/Iceberg behind the same
      NdbTable API."""
    from pyspark.sql.window import Window

    from dbitool_spark.ops import dedup as _dedup

    def process(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        b = _dedup.lsh_bucket_rows(
            batch_df, id_col, text_col,
            shingle_k=shingle_k, n_hashes=n_hashes, bands=bands,
        ).withColumn("bmin", F.min("id").over(Window.partitionBy("bucket")))
        try:
            owners = index.replay()  # (bucket, owner)
        except ValueError:  # first batch: table not created yet
            owners = None
        if owners is None:
            joined = b.withColumn("owner", F.lit(None).cast("long"))
        else:
            joined = b.join(owners, "bucket", "left")
        # joined feeds BOTH the flag aggregate and the owner merge;
        # persist so the band hashing and index join run once
        joined = joined.persist()
        try:
            dup_band = F.when(
                F.col("owner").isNotNull(), F.col("id") != F.col("owner")
            ).otherwise(F.col("id") > F.col("bmin"))
            # one hive-style subdir per batch, OVERWRITTEN — a
            # checkpoint replay of the batch rewrites the same dir
            # instead of appending duplicate flag rows, so the sink is
            # idempotent like the index's min-merge (batch_id surfaces
            # to readers as the partition column)
            (
                joined.groupBy("id")
                .agg(F.max(dup_band.cast("int")).cast("boolean").alias("is_dup"))
                .select(F.col("id").alias(id_col), "is_dup")
                .write.mode("overwrite")
                .parquet(os.path.join(flags_dir, f"batch_id={batch_id}"))
            )
            # least() skips nulls: fresh buckets take the batch min,
            # known buckets keep (or shrink to) the smaller id
            new_owners = joined.groupBy("bucket").agg(
                F.least(F.min("owner"), F.min("bmin")).alias("owner")
            )
            index.upsert(new_owners)
        finally:
            joined.unpersist()

    writer = stream.writeStream.foreachBatch(process).option(
        "checkpointLocation", checkpoint
    )
    return _drain(writer, "of the LSH near-dup stream", timeout_sec)
