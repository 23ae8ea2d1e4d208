"""SparkSession factory with engine-wide configuration.

The reference tool configures its runtime with three CLI knobs
(--streamsize / --errorsize / --memorylimit, dbitool.pl:38-40); the
Spark analogue is session-level configuration: shuffle partitioning,
AQE, and Arrow. One place, applied consistently, so every entry point
(tests, bench, driver) observes identical semantics — notably UTC
timestamps (for oracle comparison) and nanosecond-parquet handling
(events.ts is parquet TIMESTAMP(NANOS), which Spark otherwise rejects).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Sized for the target deployment, overridable via env for local runs.
# On a real cluster, shuffle partitions should be ~2-3x total cores; AQE
# coalesces the excess at runtime, so erring high is safe.
_DEFAULT_CPUS = os.environ.get("SPARK_GRAFT_CPUS", "32")


def get_session(app_name: str = "dbitool_spark", cpus: str | None = None) -> SparkSession:
    """Create (or reuse) the engine SparkSession.

    Configs and rationale:
    - AQE on: runtime re-planning (partition coalescing, skew-join
      splitting, dynamic broadcast) is the first line of defense at
      100 TB where static estimates are wrong.
    - shuffle.partitions ~ cores locally; a real deployment overrides
      via spark-defaults. AQE coalesce makes the exact value forgiving.
    - UTC session timezone: required for value-identical comparison
      against the DuckDB oracle (naive-UTC timestamps).
    - nanosAsLong: /root/testdata events.parquet stores TIMESTAMP(NANOS)
      which Spark rejects by default; read as int64 nanos and convert
      explicitly (see catalog.load_events).
    - Arrow on: vectorized pandas UDF / toPandas paths.
    """
    cpus = cpus or _DEFAULT_CPUS
    # Respect an externally-provided session (e.g. the driver's), but
    # apply the runtime SQL confs it may lack — a non-UTC session would
    # silently break timestamp/date_format oracle parity, and the nanos
    # conf is required to read events.parquet at all.
    active = SparkSession.getActiveSession()
    if active is not None:
        _apply_runtime_confs(active)
        return active
    builder = (
        SparkSession.builder.appName(app_name)
        .config("spark.sql.shuffle.partitions", cpus)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
    )
    master = os.environ.get("SPARK_GRAFT_MASTER", f"local[{cpus}]")
    session = builder.master(master).getOrCreate()
    _apply_runtime_confs(session)
    return session


def _apply_runtime_confs(spark: SparkSession) -> None:
    """Set the runtime-settable SQL confs the engine's semantics depend
    on (none is a static conf, so any session accepts them). A failed
    set raises: oracle parity depends on UTC, so a session that cannot
    take these confs must not run the engine."""
    for key, value in (
        ("spark.sql.session.timeZone", "UTC"),
        ("spark.sql.legacy.parquet.nanosAsLong", "true"),
        ("spark.sql.adaptive.enabled", "true"),
        ("spark.sql.execution.arrow.pyspark.enabled", "true"),
    ):
        spark.conf.set(key, value)


#: Shuffle partitions of a drain session. Every stateful streaming
#: operator opens one state store per shuffle partition, fixed at query
#: start, so this sizes state, not data (see
#: plans.state_ops._drain_streaming_entry).
STATE_PARTITIONS = 8


def drain_session(spark: SparkSession) -> SparkSession:
    """Child of `spark` for one streaming drain: same SparkContext,
    catalog and cached data, but its own SQL conf, temp views and
    spark.streams, so the drain's conf never touches `spark` and runs
    safely beside concurrent callers. newSession() copies only the
    confs `spark` was built with, not those set on it at runtime, so
    the engine's runtime confs are applied again here. Queries started
    in the child are not seen by a StreamProgressLogger attached to
    `spark`. Each child adds one StreamingQueryListenerBus to the
    SparkContext once it starts a query."""
    child = spark.newSession()
    _apply_runtime_confs(child)
    child.conf.set("spark.sql.shuffle.partitions", str(STATE_PARTITIONS))
    return child


def stop_session() -> None:
    active = SparkSession.getActiveSession()
    if active is not None:
        active.stop()
