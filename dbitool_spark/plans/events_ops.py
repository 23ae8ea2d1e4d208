"""Event-stream analytics over the events table: time-window
aggregation, JSON property extraction, gap sessionization.

Timestamp path: catalog.load derives `ts_ts` (TIMESTAMP) from
whichever encoding the parquet ships — int64 TIMESTAMP(NANOS) read
via nanosAsLong, or native timestamp[us] — and every plan here works
from ts_ts / unix_micros(ts_ts). DuckDB reads the same column at
microsecond resolution, so every oracle comparison below is exact at
microseconds on both engines.

Aggregated doubles go through the decimal-exact convention
(functions.numeric) like every other query in the engine.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from dbitool_spark import catalog
from dbitool_spark.functions.numeric import dsum

SESSION_GAP_MIN = 30


def events_hourly_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling 1-hour windows per event type: count + exact-decimal
    value sum. Single shuffle on (hour, type); map-side partial aggs."""
    ev = catalog.load(spark, sf_dir, "events")
    return (
        ev.groupBy(
            F.date_format(F.date_trunc("hour", F.col("ts_ts")), "yyyy-MM-dd HH:mm:ss").alias("hour"),
            "event_type",
        )
        .agg(
            F.count(F.lit(1)).alias("n"),
            dsum(F.col("value").cast("decimal(18,6)"), "sum_value", scale=6),
        )
        .orderBy("hour", "event_type")
    )


def events_json_props(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON property extraction from the props column (scalar JSON
    path — stays in codegen via get_json_object) aggregated per type.
    Sums are exact integers, so cross-engine hashing is trivial."""
    ev = catalog.load(spark, sf_dir, "events")
    k = F.get_json_object(F.col("props"), "$.k").cast("bigint")
    return (
        ev.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(k).alias("sum_k"),
            F.min(k).alias("min_k"),
            F.max(k).alias("max_k"),
        )
        .orderBy("event_type")
    )


EVENTS_JSON_PROPS_SQL = """
SELECT event_type,
       COUNT(*) AS n,
       CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
       MIN(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS min_k,
       MAX(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS max_k
FROM events
GROUP BY event_type
ORDER BY event_type
"""


def user_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization: a >30-minute silence starts a new
    session. lag + cumulative-sum over a per-user event-time window —
    the standard distributed sessionization plan (one shuffle on
    user_id; both window passes reuse that partitioning). Works on
    microsecond integers end to end."""
    ev = catalog.load(spark, sf_dir, "events").select(
        "user_id", "event_id", F.unix_micros(F.col("ts_ts")).alias("ts_us")
    )
    w = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
    gap_us = SESSION_GAP_MIN * 60 * 1_000_000
    with_breaks = ev.withColumn(
        "new_session",
        F.when(
            (F.col("ts_us") - F.lag("ts_us").over(w)) > gap_us, 1
        ).otherwise(F.when(F.lag("ts_us").over(w).isNull(), 1).otherwise(0)),
    )
    sessions = with_breaks.withColumn(
        "session_id", F.sum("new_session").over(w.rowsBetween(Window.unboundedPreceding, 0))
    )
    per_session = sessions.groupBy("user_id", "session_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.min("ts_us").alias("session_start_us"),
        F.max("ts_us").alias("session_end_us"),
    )
    return (
        per_session.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_sessions"),
            F.sum("n_events").alias("n_events"),
            F.max(
                F.col("session_end_us") - F.col("session_start_us")
            ).alias("longest_session_us"),
        )
        .orderBy("user_id")
    )


def user_sessions_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """session_window realization of user_sessions: the SAME >30-min
    gap semantics via Spark's native session windows (merge-on-
    overlap) instead of lag + cumulative sum — the plan Structured
    Streaming can run incrementally (streaming.stream_user_sessions).
    Session length = window length - gap, since the window end pads
    the last event by the gap. One shuffle on user_id; window merge is
    per-user local. Oracle: USER_SESSIONS_SQL — the two plans must
    produce identical (n_sessions, n_events, longest_session_us)."""
    gap_us = SESSION_GAP_MIN * 60 * 1_000_000
    ev = catalog.load(spark, sf_dir, "events").select(
        "user_id", F.col("ts_ts").alias("ts")
    )
    per_session = (
        ev.groupBy(
            F.session_window("ts", f"{SESSION_GAP_MIN} minutes").alias("win"),
            "user_id",
        )
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "user_id",
            "n_events",
            (
                F.unix_micros(F.col("win.end"))
                - F.unix_micros(F.col("win.start"))
                - F.lit(gap_us)
            ).alias("dur_us"),
        )
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


USER_SESSIONS_SQL = f"""
WITH ev AS (
  SELECT user_id, event_id, epoch_us(ts) AS ts_us FROM events
), marked AS (
  SELECT user_id, event_id, ts_us,
         CASE WHEN LAG(ts_us) OVER w IS NULL THEN 1
              WHEN ts_us - LAG(ts_us) OVER w > {SESSION_GAP_MIN * 60 * 1_000_000} THEN 1
              ELSE 0 END AS new_session
  FROM ev
  WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id)
), numbered AS (
  SELECT user_id, ts_us,
         SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts_us, event_id
                                ROWS UNBOUNDED PRECEDING) AS session_id
  FROM marked
), per_session AS (
  SELECT user_id, session_id, COUNT(*) AS n_events,
         MIN(ts_us) AS session_start_us, MAX(ts_us) AS session_end_us
  FROM numbered GROUP BY user_id, session_id
)
SELECT user_id,
       COUNT(*) AS n_sessions,
       CAST(SUM(n_events) AS BIGINT) AS n_events,
       MAX(session_end_us - session_start_us) AS longest_session_us
FROM per_session
GROUP BY user_id
ORDER BY user_id
"""


def events_asof_latest_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time enrichment: each event gains the orderkey of the
    latest order its user placed at or before the event (backward
    as-of join, ops.temporal.asof_join — union+window, one shuffle on
    the key, no range cross-product). Events before any order keep a
    NULL orderkey: exactly the left-join-flavored semantics a feature
    pipeline needs for leakage-free point-in-time features."""
    from dbitool_spark.ops.temporal import asof_join

    ev = catalog.load(spark, sf_dir, "events").select(
        "event_id", "user_id", F.unix_micros(F.col("ts_ts")).alias("ts_us")
    )
    orders = catalog.load(spark, sf_dir, "orders").select(
        F.col("o_custkey").alias("user_id"),
        F.unix_micros(F.col("o_orderdate").cast("timestamp")).alias("order_ts_us"),
        "o_orderkey",
    )
    return (
        asof_join(
            ev, orders, "user_id", "ts_us", "order_ts_us", ["o_orderkey"]
        )
        .select(
            "event_id",
            "user_id",
            "ts_us",
            F.col("asof_o_orderkey").alias("latest_orderkey"),
        )
        .orderBy("event_id")
    )


BUSY_HOUR_MIN_EVENTS = 6


def events_after_busy_hours(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval-containment analytics via the bucketized range join
    (ops.temporal.range_join): hours with >= BUSY_HOUR_MIN_EVENTS
    events of a type define a follow-on window [hour+30min,
    hour+90min), and the query counts same-type events inside each
    window — the 'what happens after a burst' shape. The join is an
    equi-join on (time bucket, event_type) with the exact containment
    predicate as a residual filter; never a nested-loop product.

    The busy side is broadcast: it is a filtered per-(type, hour)
    aggregate — bounded by distinct hours x types, vanishingly small
    next to the event stream at any scale — so broadcasting it turns
    the range join into a BroadcastHashJoin and the full event stream
    is never shuffled (plan-pinned in tests/test_scale_shapes.py)."""
    from dbitool_spark.ops.temporal import range_join

    ev = catalog.load(spark, sf_dir, "events").select(
        "event_type", F.unix_micros(F.col("ts_ts")).alias("ts_us")
    )
    hour_us = 3600 * 1_000_000
    busy = (
        ev.groupBy(
            "event_type",
            (F.floor(F.col("ts_us") / hour_us) * hour_us).alias("hour_us"),
        )
        .agg(F.count(F.lit(1)).alias("n"))
        .filter(F.col("n") >= BUSY_HOUR_MIN_EVENTS)
        .select(
            "event_type",
            (F.col("hour_us") + hour_us // 2).alias("lo"),
            # exclusive upper bound expressed as inclusive hi - 1 us
            (F.col("hour_us") + hour_us // 2 + hour_us - 1).alias("hi"),
        )
    )
    return (
        range_join(
            ev, busy, "ts_us", "lo", "hi",
            bucket=15 * 60 * 1_000_000, key="event_type", broadcast_right=True,
        )
        .groupBy("event_type", "lo")
        .agg(F.count(F.lit(1)).alias("n_following"))
        .orderBy("event_type", "lo")
    )


EVENTS_AFTER_BUSY_SQL = """
WITH ev AS (
  SELECT event_type, epoch_us(ts) AS ts_us FROM events
),
busy AS (
  SELECT event_type,
         h * 3600000000 + 1800000000 AS lo,
         h * 3600000000 + 1800000000 + 3599999999 AS hi
  FROM (
    SELECT event_type, CAST(floor(ts_us / 3600000000) AS BIGINT) AS h,
           COUNT(*) AS n
    FROM ev GROUP BY 1, 2
  ) WHERE n >= 6
)
SELECT ev.event_type AS event_type, lo, COUNT(*) AS n_following
FROM ev JOIN busy ON ev.event_type = busy.event_type
                 AND ev.ts_us >= busy.lo AND ev.ts_us <= busy.hi
GROUP BY 1, lo
ORDER BY 1, lo
"""


ASOF_TOLERANCE_DAYS = 8500


def events_asof_recent_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The as-of join's TOLERANCE path driver-visible: like
    events_asof_latest_order, but matches older than
    ASOF_TOLERANCE_DAYS before the event are nulled out (pandas
    merge_asof tolerance semantics — stale features must not leak
    into a point-in-time training set). The synthetic corpus puts
    events in 2024 and orders in 1995-2001, so the threshold sits
    inside the staleness distribution (~22-23 years): at sf0.01
    roughly half the events keep their match and half null out —
    both outcomes exercised, not a vacuous all-NULL or all-kept
    column. Exercises the
    whole-right-row-struct carry under tolerance: the validated
    timestamp and the carried value must come from the SAME latest
    row."""
    from dbitool_spark.ops.temporal import asof_join

    tol_us = ASOF_TOLERANCE_DAYS * 24 * 3600 * 1_000_000
    ev = catalog.load(spark, sf_dir, "events").select(
        "event_id", "user_id", F.unix_micros(F.col("ts_ts")).alias("ts_us")
    )
    orders = catalog.load(spark, sf_dir, "orders").select(
        F.col("o_custkey").alias("user_id"),
        F.unix_micros(F.col("o_orderdate").cast("timestamp")).alias("order_ts_us"),
        "o_orderkey",
    )
    return (
        asof_join(
            ev, orders, "user_id", "ts_us", "order_ts_us", ["o_orderkey"],
            tolerance=tol_us,
        )
        .select(
            "event_id",
            "user_id",
            "ts_us",
            F.col("asof_o_orderkey").alias("recent_orderkey"),
        )
        .orderBy("event_id")
    )


EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]


def events_daily_type_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot (long -> wide): per-day event counts spread into one
    column per type, then unpivoted back long via stack() and
    re-aggregated — the round trip proves BOTH reshape operators
    against a conditional-aggregation oracle. The pivot passes its
    value list EXPLICITLY: without it Spark first runs a distinct job
    over the pivot column to discover values — a full extra pass at
    100 TB, and nondeterministic column order; a curated value list is
    the scale-correct form."""
    ev = catalog.load(spark, sf_dir, "events")
    wide = (
        ev.groupBy(F.date_format(F.col("ts_ts"), "yyyy-MM-dd").alias("day"))
        .pivot("event_type", EVENT_TYPES)
        .count()
        .na.fill(0, EVENT_TYPES)
    )
    stack_expr = "stack({n}, {args}) as (event_type, n)".format(
        n=len(EVENT_TYPES),
        args=", ".join(f"'{t}', `{t}`" for t in EVENT_TYPES),
    )
    long = wide.select("day", F.expr(stack_expr)).filter(F.col("n") > 0)
    return long.orderBy("day", "event_type")


EVENTS_DAILY_TYPE_PIVOT_SQL = """
SELECT strftime(ts, '%Y-%m-%d') AS day, event_type, COUNT(*) AS n
FROM events
GROUP BY 1, 2
HAVING COUNT(*) > 0
ORDER BY day, event_type
"""


def skewed_user_rollup_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user rollup routed through ops.scale.salted_agg — the
    driver-visible proof of the engine's skewed-AGGREGATION answer
    (AQE's skew handling covers joins, not aggregation; at 100 TB a
    hot user key would stall a plain groupBy task). Two-stage plan:
    partial agg on (user_id, salt-of-16) fans a hot key over 16 tasks,
    final agg re-combines 16 partials per key — verify in the plan:
    TWO HashAggregate+Exchange pairs, the second exchanging at most
    n_salts rows per key. Oracle is the plain one-stage GROUP BY; the
    hash match proves the decomposition (count/sum/min/max recombine
    rules + the decimal-exact sum) is lossless.

    Reference parity: the reference has no aggregation at all
    (TODO:61-78); this realizes the intended relational scope at the
    skew design point, cf. SURVEY.md §7 M5."""
    from dbitool_spark.ops import scale

    ev = catalog.load(spark, sf_dir, "events").select(
        "user_id", F.col("value").cast("decimal(18,6)").alias("value")
    )

    def aggs() -> list:
        return [
            F.count(F.lit(1)).alias("n_events"),
            F.sum("value").alias("sum_value"),
            F.min("value").alias("min_value"),
            F.max("value").alias("max_value"),
        ]

    rolled = scale.salted_agg(ev, ["user_id"], aggs, n_salts=16)
    return rolled.select(
        "user_id",
        "n_events",
        F.col("sum_value").cast("decimal(18,6)").cast("double").alias("sum_value"),
        F.col("min_value").cast("double").alias("min_value"),
        F.col("max_value").cast("double").alias("max_value"),
    ).orderBy("user_id")


SKEWED_USER_ROLLUP_SQL = """
SELECT user_id,
       COUNT(*) AS n_events,
       CAST(CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DECIMAL(18,6)) AS DOUBLE) AS sum_value,
       CAST(MIN(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS min_value,
       CAST(MAX(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS max_value
FROM events
GROUP BY user_id
ORDER BY user_id
"""


def skewed_segment_join_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Events-to-customer enrichment routed through
    ops.scale.salted_join — the driver-visible proof of the engine's
    skewed-JOIN answer next to skewed_user_rollup_events' aggregation
    one. The fact side salts per row, the dimension side replicates
    over the 16 salts, and the join key becomes (custkey, salt): a hot
    user's rows spread over 16 tasks instead of stalling one. This is
    the fix for the case AQE's skew split does not cover — a skewed
    key on a dimension too big to broadcast but small enough to
    replicate (at bench scale Catalyst still picks broadcast for the
    exploded side; the SHAPE — two-column join key, per-row salt — is
    what the plan fingerprint pins). user_id maps into the customer
    key space as user_id + 1 (ids are dense from 0; custkeys dense
    from 1, 10x the user count at every shipped SF).

    Oracle is the plain unsalted join + GROUP BY: the hash match
    proves the salt/replicate construction is join-lossless."""
    from dbitool_spark.ops import scale

    ev = catalog.load(spark, sf_dir, "events").select(
        (F.col("user_id") + 1).alias("c_custkey"),
        "event_type",
        F.col("value").cast("decimal(18,6)").alias("value"),
    )
    cust = catalog.load(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment"
    )
    joined = scale.salted_join(ev, cust, "c_custkey", n_salts=16)
    return (
        joined.groupBy("c_mktsegment", "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum("value").cast("decimal(18,6)").cast("double").alias("sum_value"),
        )
        .orderBy("c_mktsegment", "event_type")
    )


SKEWED_SEGMENT_JOIN_SQL = """
SELECT c.c_mktsegment, e.event_type,
       COUNT(*) AS n_events,
       CAST(CAST(SUM(CAST(e.value AS DECIMAL(18,6))) AS DECIMAL(18,6)) AS DOUBLE) AS sum_value
FROM events e JOIN customer c ON e.user_id + 1 = c.c_custkey
GROUP BY 1, 2
ORDER BY 1, 2
"""


def events_asof_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composite as-of entry (r8 merge of events_asof_latest_order +
    events_asof_recent_order — the plan family is shared and tolerance
    is a parameter; both constituent functions and their pytest
    coverage remain, only the registry rows merged): the plain
    backward as-of and the tolerance-bounded variant run in one entry,
    tagged by variant, so a single green row proves both the
    union+window join shape and the stale-match nulling."""
    plain = events_asof_latest_order(spark, sf_dir).select(
        F.lit("latest").alias("variant"),
        "event_id",
        "user_id",
        "ts_us",
        F.col("latest_orderkey").alias("asof_orderkey"),
    )
    tol = events_asof_recent_order(spark, sf_dir).select(
        F.lit("recent").alias("variant"),
        "event_id",
        "user_id",
        "ts_us",
        F.col("recent_orderkey").alias("asof_orderkey"),
    )
    return plain.unionByName(tol).orderBy("variant", "event_id")


EVENTS_ASOF_ORDERS_SQL = f"""
SELECT 'latest' AS variant, e.event_id, e.user_id, epoch_us(e.ts) AS ts_us,
       o.o_orderkey AS asof_orderkey
FROM events e LEFT JOIN LATERAL (
  SELECT o_orderkey FROM orders
  WHERE o_custkey = e.user_id AND o_orderdate <= e.ts
  ORDER BY o_orderdate DESC, o_orderkey DESC
  LIMIT 1
) o ON true
UNION ALL
SELECT 'recent' AS variant, e.event_id, e.user_id, epoch_us(e.ts) AS ts_us,
       o.o_orderkey AS asof_orderkey
FROM events e LEFT JOIN LATERAL (
  SELECT o_orderkey FROM orders
  WHERE o_custkey = e.user_id
    AND o_orderdate <= e.ts
    AND epoch_us(o_orderdate) >= epoch_us(e.ts) - {ASOF_TOLERANCE_DAYS * 24 * 3600 * 1_000_000}
  ORDER BY o_orderdate DESC, o_orderkey DESC
  LIMIT 1
) o ON true
ORDER BY variant, event_id
"""


def skew_composite_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Variant-tagged composite of the two skew-shape entries: one
    driver row drives BOTH ops/scale skew answers through
    their full original codepaths — salted AGGREGATION
    (skewed_user_rollup_events: partial agg on (key, salt-of-16),
    final recombine) and salted JOIN (skewed_segment_join_events:
    per-row fact salt × 16-way dimension replicate). Rows normalize to
    one schema: the agg variant keys on user_id (as string, NULL
    key2) and carries min/max; the join variant keys on
    (c_mktsegment, event_type) with NULL min/max. The union hash
    proves both decompositions lossless at once; the oracle is the
    plain unsalted GROUP BY / join.

    Scale notes are the constituents': a hot key fans over 16 tasks in
    both shapes — the fix for the skew cases AQE does not cover
    (aggregation; a dimension too big to broadcast)."""
    agg = skewed_user_rollup_events(spark, sf_dir).select(
        F.lit("salted_agg").alias("variant"),
        F.col("user_id").cast("string").alias("key1"),
        F.lit(None).cast("string").alias("key2"),
        "n_events",
        "sum_value",
        "min_value",
        "max_value",
    )
    join = skewed_segment_join_events(spark, sf_dir).select(
        F.lit("salted_join").alias("variant"),
        F.col("c_mktsegment").alias("key1"),
        F.col("event_type").alias("key2"),
        "n_events",
        "sum_value",
        F.lit(None).cast("double").alias("min_value"),
        F.lit(None).cast("double").alias("max_value"),
    )
    return agg.unionAll(join).orderBy("variant", "key1", "key2")


SKEW_COMPOSITE_SQL = f"""
SELECT 'salted_agg' AS variant, CAST(user_id AS VARCHAR) AS key1,
       CAST(NULL AS VARCHAR) AS key2, t.n_events, t.sum_value,
       t.min_value, t.max_value
FROM ({SKEWED_USER_ROLLUP_SQL.replace("ORDER BY user_id", "")}) t
UNION ALL
SELECT 'salted_join' AS variant, t.c_mktsegment AS key1,
       t.event_type AS key2, t.n_events, t.sum_value,
       CAST(NULL AS DOUBLE) AS min_value, CAST(NULL AS DOUBLE) AS max_value
FROM ({SKEWED_SEGMENT_JOIN_SQL.replace("ORDER BY 1, 2", "")}) t
ORDER BY variant, key1, key2
"""


# Funnel definition: the ordered conversion path a product-analytics
# pipeline measures, with each step restricted to a time-of-day band
# (morning view -> midday click -> evening purchase). The bands make
# the metric non-degenerate at every shipped SF (unbanded, every
# user's event stream contains the plain subsequence): measured
# step distribution at sf0.01 is 1/7/16/126 over steps 0-3. Step k
# counts only events strictly AFTER the event that completed step
# k-1 in the per-user (ts, event_id) total order.
_FUNNEL_STEPS = ("view", "click", "purchase")
_FUNNEL_BANDS = ((0, 8), (8, 16), (16, 24))  # [lo, hi) hour-of-day


# Per-user event count above which funnel_steps_events routes a user
# through the O(1)-state three-pass aggregation instead of the
# collect_list fold: a bot/service account with tens of millions of
# events would otherwise build its whole history as ONE in-memory
# array in a single agg buffer and OOM the task at 100x scale (r13
# verdict: the fallback was documentation, not code). 100k structs
# (~4 MB) is far below task memory while keeping the hot side empty
# on human-scale activity.
_FUNNEL_HOT_THRESHOLD = 100_000

# Broadcast guard (ADVICE r14): the hot-user set is bounded by
# total_events / threshold, but a pathological table (10^12 rows at
# the default threshold allows 10^7 hot users) would broadcast
# hundreds of MB to every executor. The guard is enforced INSIDE the
# plan (assert_true over a 1-row count crossJoin) rather than by an
# eager .count() action, because a separate action re-pays the full
# count aggregation — AQE's exchange reuse dedupes identical subtrees
# only within one execution (the same measurement that keeps
# hot_users unpersisted). 1M user_ids is a ~10s-of-MB hashed
# relation: safely broadcastable, far above any sane hot tail.
_FUNNEL_HOT_BROADCAST_CAP = 1_000_000


def funnel_steps_events(
    spark: SparkSession, sf_dir: str, *, hot_user_threshold: int = _FUNNEL_HOT_THRESHOLD
) -> DataFrame:
    """Ordered funnel analysis (morning view -> midday click ->
    evening purchase): per user, the highest funnel step completed IN
    SEQUENCE — a midday click only counts after the first morning
    view, an evening purchase only after that click. Spark realizes
    it as a HYBRID of two equivalent formulations, routed per user by
    activity volume (one map-side-combinable count pass + a broadcast
    of the hot-user set, which is tiny by construction):

    - COLD users (the normal case): per-user events sort_array'd by
      (ts_us, event_id) and folded with a higher-order aggregate whose
      accumulator is the step counter (first qualifying event advances
      it). One shuffle, pure JVM, state bounded by per-user activity.
    - HOT users (count > hot_user_threshold, the bot/service-account
      tail): the three-pass conditional-min-after AGGREGATION — s1 =
      min qualifying (ts_us, event_id) struct, s2 = min qualifying
      struct AFTER s1, s3 likewise — O(1) state per row, map-side
      combinable, no per-user array, no single-partition window. This
      is the oracle's shape, so the driver hash cross-checks the two
      INDEPENDENT constructions on every run (hot side empty at test
      SFs; tests/test_events_streaming.py forces a synthetic hot user
      through it and hash-matches the fold path).
    """
    ev = catalog.load(spark, sf_dir, "events").select(
        "user_id",
        F.unix_micros(F.col("ts_ts")).alias("ts_us"),
        F.hour(F.col("ts_ts")).alias("hh"),
        "event_id",
        "event_type",
    )
    # hot_users (tiny) and the hot event slice are referenced by
    # several branches below — left UNPERSISTED deliberately: the
    # duplicated count-agg/scan subtrees are canonically identical, so
    # AQE's runtime exchange reuse dedupes the shuffles (measured at
    # sf0.1: lazy 0.5s vs 1.6-2.1s steady-state with persist+eager
    # checkpoint, whose extra fill/checkpoint JOBS cost more than the
    # reused stages they saved)
    counts = ev.groupBy("user_id").agg(F.count(F.lit(1)).alias("n_ev"))
    hot_users = counts.filter(F.col("n_ev") > hot_user_threshold).select("user_id")
    # plan-side broadcast-size guard: evaluated while the broadcast
    # relation is BUILT, so an over-cap hot set fails with a clear
    # message (raise the threshold) instead of shipping an unbounded
    # set to every executor; the 1-row count subtree is canonically
    # identical to `counts`, so AQE exchange reuse makes it free
    n_hot = hot_users.agg(F.count(F.lit(1)).alias("n_hot"))
    guard = F.assert_true(
        F.col("n_hot") <= _FUNNEL_HOT_BROADCAST_CAP,
        F.concat(
            F.lit("funnel hot-user set ("),
            F.col("n_hot"),
            F.lit(
                f") exceeds the broadcast cap {_FUNNEL_HOT_BROADCAST_CAP};"
                " raise hot_user_threshold"
            ),
        ),
    )
    hot_flagged = (
        hot_users.crossJoin(F.broadcast(n_hot))
        .select(
            "user_id",
            F.coalesce(guard.cast("boolean"), F.lit(True)).alias("is_hot"),
        )
    )
    tagged = ev.join(F.broadcast(hot_flagged), "user_id", "left")
    cold = tagged.filter(F.col("is_hot").isNull())
    hot = tagged.filter(F.col("is_hot").isNotNull())

    def _qual(e, i):
        lo, hi = _FUNNEL_BANDS[i]
        return (
            (e["event_type"] == _FUNNEL_STEPS[i])
            & (e["hh"] >= lo)
            & (e["hh"] < hi)
        )

    # cold path: one shuffle, per-user ordered fold
    arr = cold.groupBy("user_id").agg(
        F.sort_array(
            F.collect_list(F.struct("ts_us", "event_id", "event_type", "hh"))
        ).alias("evs")
    )
    step = F.aggregate(
        F.col("evs"),
        F.lit(0),
        lambda acc, e: (
            F.when((acc == 0) & _qual(e, 0), F.lit(1))
            .when((acc == 1) & _qual(e, 1), F.lit(2))
            .when((acc == 2) & _qual(e, 2), F.lit(3))
            .otherwise(acc)
        ),
    )
    cold_steps = arr.select("user_id", step.cast("int").alias("funnel_step"))

    # hot path: three conditional-min aggregations over (ts_us,
    # event_id) structs — struct ordering is the same total order the
    # fold sorts by, so the two paths agree exactly
    def _qual_col(df, i):
        lo, hi = _FUNNEL_BANDS[i]
        return (
            (df["event_type"] == _FUNNEL_STEPS[i])
            & (df["hh"] >= lo)
            & (df["hh"] < hi)
        )

    pos = F.struct("ts_us", "event_id")
    t1 = (
        hot.filter(_qual_col(hot, 0))
        .groupBy("user_id")
        .agg(F.min(pos).alias("s1"))
    )
    h2 = hot.join(t1, "user_id")
    t2 = (
        h2.filter(_qual_col(h2, 1) & (pos > F.col("s1")))
        .groupBy("user_id")
        .agg(F.min(pos).alias("s2"))
    )
    h3 = hot.join(t2, "user_id")
    t3 = (
        h3.filter(_qual_col(h3, 2) & (pos > F.col("s2")))
        .groupBy("user_id")
        .agg(F.min(pos).alias("s3"))
    )
    hot_steps = (
        hot.select("user_id")
        .distinct()
        .join(t1, "user_id", "left")
        .join(t2, "user_id", "left")
        .join(t3, "user_id", "left")
        .select(
            "user_id",
            F.when(F.col("s3").isNotNull(), 3)
            .when(F.col("s2").isNotNull(), 2)
            .when(F.col("s1").isNotNull(), 1)
            .otherwise(0)
            .cast("int")
            .alias("funnel_step"),
        )
    )
    return cold_steps.unionByName(hot_steps).orderBy("user_id")


FUNNEL_STEPS_EVENTS_SQL = """
WITH seqd AS (
  SELECT user_id, event_type, extract(hour FROM ts) AS hh,
         ROW_NUMBER() OVER (PARTITION BY user_id
                            ORDER BY epoch_us(ts), event_id) AS seq
  FROM events
),
t1 AS (SELECT user_id, MIN(seq) AS s1 FROM seqd
       WHERE event_type = 'view' AND hh >= 0 AND hh < 8 GROUP BY user_id),
t2 AS (SELECT s.user_id, MIN(s.seq) AS s2 FROM seqd s JOIN t1 USING (user_id)
       WHERE s.event_type = 'click' AND s.hh >= 8 AND s.hh < 16
         AND s.seq > t1.s1 GROUP BY s.user_id),
t3 AS (SELECT s.user_id, MIN(s.seq) AS s3 FROM seqd s JOIN t2 USING (user_id)
       WHERE s.event_type = 'purchase' AND s.hh >= 16 AND s.hh < 24
         AND s.seq > t2.s2 GROUP BY s.user_id)
SELECT u.user_id,
       CAST(CASE WHEN t3.s3 IS NOT NULL THEN 3
                 WHEN t2.s2 IS NOT NULL THEN 2
                 WHEN t1.s1 IS NOT NULL THEN 1
                 ELSE 0 END AS INT) AS funnel_step
FROM (SELECT DISTINCT user_id FROM events) u
LEFT JOIN t1 USING (user_id)
LEFT JOIN t2 USING (user_id)
LEFT JOIN t3 USING (user_id)
ORDER BY user_id
"""


def events_audit_composite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kind-tagged composite of two per-type events audit entries —
    the merge candidate PAIRED with funnel_steps_events' registration
    (registry capacity policy: a net-new entry needs a freed slot):
    events_daily_type_pivot (pivot -> stack round trip) and
    events_json_props (codegen JSON path extraction + exact-integer
    aggregates), each through its full original codepath, normalized
    to one schema and hash-checked as one union."""
    pivot = events_daily_type_pivot(spark, sf_dir).select(
        F.lit("pivot").alias("kind"),
        F.col("day").alias("key1"),
        F.col("event_type").alias("key2"),
        F.col("n").alias("n1"),
        F.lit(None).cast("long").alias("n2"),
        F.lit(None).cast("long").alias("n3"),
        F.lit(None).cast("long").alias("n4"),
    )
    props = events_json_props(spark, sf_dir).select(
        F.lit("json").alias("kind"),
        F.col("event_type").alias("key1"),
        F.lit(None).cast("string").alias("key2"),
        F.col("n").alias("n1"),
        F.col("sum_k").alias("n2"),
        F.col("min_k").alias("n3"),
        F.col("max_k").alias("n4"),
    )
    return pivot.unionByName(props).orderBy("kind", "key1", "key2")


EVENTS_AUDIT_COMPOSITE_SQL = f"""
SELECT 'pivot' AS kind, t.day AS key1, t.event_type AS key2, t.n AS n1,
       CAST(NULL AS BIGINT) AS n2, CAST(NULL AS BIGINT) AS n3,
       CAST(NULL AS BIGINT) AS n4
FROM ({EVENTS_DAILY_TYPE_PIVOT_SQL.replace("ORDER BY day, event_type", "")}) t
UNION ALL
SELECT 'json' AS kind, t.event_type AS key1, CAST(NULL AS VARCHAR) AS key2,
       t.n AS n1, t.sum_k AS n2, t.min_k AS n3, t.max_k AS n4
FROM ({EVENTS_JSON_PROPS_SQL.replace("ORDER BY event_type", "")}) t
ORDER BY kind, key1, key2
"""
