#!/usr/bin/env python
"""Per-query benchmark harness (driver contract, BASELINE.md).

Runs every registered query at $SPARK_GRAFT_SF_DIR (default
/root/testdata/sf0.1) and prints exactly ONE compact JSON line holding
ONLY the headline scalar:

    {"metric": "total_median_query_sec", "value": <sum of medians>,
     "unit": "sec", "n_queries": 98, "sf": 0.1, ...}

Inlining the per-query map would outgrow the driver's stdout tail
window and truncate the JSON; everything per-query goes to sidecars:
- BENCH_queries.json: per-query medians, the warm-up's work counters
  and machine load. Written only by an exclusive run (idle box, no
  foreign JVM), so it is the perf record.
- BENCH_last_run.json: the same payload, written by every run, with
  its inner "exclusive" flag telling whether it is record-grade.
- BENCH_vs_prev.json: per-query ratios against the previous record at
  the same sf, and the regressions among them (exclusive runs only).
- BENCH_scaling.json: the scaling gate (exclusive runs only).

Each entry is measured by `_measure`: one traced warm-up (its jobs,
stages, tasks, shuffle-write bytes and output rows are the entry's
counters), then SPARK_GRAFT_BENCH_RUNS (default 5) timed runs whose
median is the entry's time. A run is plan + execution to a count()
action: count, not collect, so driver-side row transfer does not
dominate; value correctness is the oracle suite's job.

Regression gate: the work counters tell "the entry does different
work" from "the host was loaded". An entry's work is unchanged when
its jobs and stages equal those of the previous record. A >1.5x ratio
against the previous record is flagged only when the work changed or
the slowdown exceeds 0.5 s; ratio-only blips land in noise_suppressed.
Before stamping, an entry over 1.5x with unchanged work is measured
again standalone and the better median is stamped (both under
noise_remeasured); a spike without previous counters to compare is
listed under noise_unverified and never re-measured away. An entry
whose counts flip between AQE outcomes reads as changed: the
conservative side.

Scaling gate: every entry is also measured at the sibling data dir one
scale-factor decade smaller (sf0.1 -> sf0.01) and compared with its
timing-loop measurement. An entry is red when its median wall or its
shuffle-write bytes grow more than SCALING_RED_RATIO for 10x the rows,
or when it raises at the smaller SF (message under "errors"). Without
that sibling dir the gate prints one stderr line and leaves
BENCH_scaling.json as it is.
"""

from __future__ import annotations

import gc
import json
import os
import statistics
import sys
import time

from dbitool_spark import profile

REGRESSION_RATIO = 1.5
# sub-second entries flap 2x under load with unchanged work, so a
# ratio alone is not a finding: a regression is flagged only when the
# work changed or the slowdown exceeds this many seconds
ABS_DELTA_SEC = 0.5
# Candidate generation must grow near-linearly (bucket equi-joins,
# never all-pairs): 15x for 10x the rows allows log factors and Spark's
# fixed job overhead moving between numerator and denominator, while
# all-pairs growth (~100x) stays far above it.
SCALING_RED_RATIO = 15.0
# the counters that repeat across runs of one entry (pinned in
# tests/test_hardening.py); shuffle bytes move between runs on some
# entries
WORK_COUNTERS = ("jobs", "stages")


def _work(counters: dict | None) -> tuple | None:
    """The (jobs, stages) an entry's warm-up ran: the counters that
    decide whether two measurements did the same work. None without
    a record of them."""
    if not counters or not all(k in counters for k in WORK_COUNTERS):
        return None
    return tuple(counters[k] for k in WORK_COUNTERS)


def _measure(fn, spark, sf_dir: str, runs: int) -> tuple[float, dict]:
    """Median seconds of `runs` timed fn(spark, sf_dir).count() calls,
    and the counters of the traced warm-up before them (which also
    warms the JIT, the parquet footer cache and AQE statistics): output
    rows plus profile.COUNTERS. With runs=0 the warm-up itself is timed."""
    with profile.counters(spark) as counters:
        t0 = time.perf_counter()
        counters["rows"] = fn(spark, sf_dir).count()
        warm_up = time.perf_counter() - t0
    samples = [] if runs else [warm_up]
    for _ in range(runs):
        t0 = time.perf_counter()
        fn(spark, sf_dir).count()
        samples.append(time.perf_counter() - t0)
    # checkpoint-backed results (materialize_release) free their
    # executor blocks via ContextCleaner only after the Python-side
    # DataFrame is collected; do it promptly so later entries are not
    # measured under earlier entries' storage
    gc.collect()
    return round(statistics.median(samples), 4), counters


def _scaling_gate(
    spark, fns: dict, small_dir: str, big_dir: str,
    big: dict[str, tuple[float, dict]], runs: int,
) -> dict:
    """Measure every entry of `fns` at small_dir and compare it with its
    measurement `big` at big_dir (ten times the rows). Returns the
    BENCH_scaling.json payload; red entries are warned to stderr."""
    small_sf, big_sf = (os.path.basename(d.rstrip("/")) for d in (small_dir, big_dir))
    entries: dict[str, dict] = {}
    red: list[str] = []
    errors: dict[str, str] = {}
    for name, fn in fns.items():
        try:
            small = _measure(fn, spark, small_dir, runs)
        except Exception as exc:  # one failing entry must not ungate the rest
            red.append(name)
            errors[name] = f"{type(exc).__name__}: {exc}"
            print(f"SCALING RED {name}: raised at {small_sf}: {exc!r}", file=sys.stderr)
            continue
        point = {
            sf: {"median_s": med, **counters}
            for sf, (med, counters) in ((small_sf, small), (big_sf, big[name]))
        }
        wall = round(point[big_sf]["median_s"] / max(point[small_sf]["median_s"], 1e-6), 3)
        shuffle = round(
            point[big_sf]["shuffle_bytes"] / max(point[small_sf]["shuffle_bytes"], 1), 3
        )
        entries[name] = {**point, "wall_ratio": wall, "shuffle_ratio": shuffle}
        if max(wall, shuffle) > SCALING_RED_RATIO:
            red.append(name)
            print(
                f"SCALING RED {name}: wall {wall}x, shuffle bytes {shuffle}x "
                f"for 10x rows (threshold {SCALING_RED_RATIO}x)",
                file=sys.stderr,
            )
    return {
        "sfs": [small_sf, big_sf],
        "red_threshold_ratio": SCALING_RED_RATIO,
        "runs_per_point": runs,
        "entries": entries,
        "red": red,
        "errors": errors,
    }


def _load_prev_bench(repo_dir: str, sf: float | None) -> tuple[str, dict] | None:
    """The previous record's per-query timings at the same sf: the
    BENCH_queries.json sidecar, read before this run overwrites it.
    Without one there is nothing to compare against."""
    sidecar = os.path.join(repo_dir, "BENCH_queries.json")
    try:
        with open(sidecar) as fh:
            data = json.load(fh)
    except (OSError, json.JSONDecodeError):
        return None
    if isinstance(data.get("queries"), dict) and data.get("sf") == sf:
        return "BENCH_queries.json(prev-run)", data
    return None


def _ancestor_pids() -> set[int]:
    """This process's ancestry chain from /proc ppid fields — a
    java-based launcher wrapping bench.py must not count as a foreign
    JVM (it lives for the whole run by definition)."""
    out: set[int] = set()
    pid = os.getpid()
    for _ in range(64):  # chain is short; bound defensively
        try:
            with open(f"/proc/{pid}/stat", "rb") as fh:
                stat = fh.read()
            ppid = int(stat.rsplit(b")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            break
        if ppid <= 1 or ppid in out:
            break
        out.add(ppid)
        pid = ppid
    return out


def _foreign_java_pids() -> list[int]:
    """PIDs of java processes visible at bench start, excluding this
    process's own ancestors (a java-based CI wrapper is not a
    competitor). A concurrent Spark JVM (another bench, a pytest run)
    inflates medians 15-30% and creates phantom regression flags
    (measured: 75 s idle vs 87-100 s loaded, plans unchanged).
    Checked BEFORE this run starts its own JVM, so any non-ancestor
    hit is genuinely foreign — including a leaked JVM from a crashed
    prior run, which SHOULD block recording until it is killed (it
    competes for CPU exactly like live foreign work)."""
    ancestors = _ancestor_pids()
    pids = []
    try:
        for name in os.listdir("/proc"):
            if not name.isdigit():
                continue
            try:
                with open(f"/proc/{name}/comm") as fh:
                    if fh.read().strip() == "java" and int(name) not in ancestors:
                        pids.append(int(name))
            except OSError:
                continue
    except OSError:
        pass
    return pids


def _write_sidecar(repo_dir: str, name: str, payload: dict) -> None:
    try:
        with open(os.path.join(repo_dir, name), "w") as fh:
            json.dump(payload, fh, indent=1)
    except OSError as exc:
        print(f"WARN: could not write {name}: {exc}", file=sys.stderr)


def main() -> int:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    runs = int(os.environ.get("SPARK_GRAFT_BENCH_RUNS", "5"))

    # Exclusivity guard: the committed sidecars are the perf record,
    # and a loaded box corrupts that record silently. Sampled BEFORE
    # our own JVM exists; a run that fails the guard still prints the
    # stdout headline but does not overwrite the record. The 1-min
    # load alone passes a host still cooling off from recent heavy
    # work, so the 15-min load is gated too.
    max_load = float(os.environ.get("SPARK_GRAFT_BENCH_MAX_LOAD", "2.0"))
    max_load_15 = float(
        os.environ.get("SPARK_GRAFT_BENCH_MAX_LOAD_15", str(max_load))
    )
    try:
        pre_load = list(os.getloadavg())
    except OSError:
        pre_load = None
    foreign_java = _foreign_java_pids()
    exclusive = (
        pre_load is None
        or (pre_load[0] <= max_load and pre_load[2] <= max_load_15)
    ) and not foreign_java
    if not exclusive:
        print(
            f"LOADED RUN: loadavg={pre_load} (max {max_load} 1-min / "
            f"{max_load_15} 15-min), foreign java "
            f"pids={foreign_java} — sidecars will NOT be overwritten; "
            "re-run on an idle box for a recordable measurement",
            file=sys.stderr,
        )

    from dbitool_spark.plans import registry
    from dbitool_spark.session import get_session

    spark = get_session("dbitool_spark-bench")
    spark.sparkContext.setLogLevel("ERROR")

    # derive sf from the directory name (sf0.1 -> 0.1)
    base = os.path.basename(sf_dir.rstrip("/"))
    try:
        sf = float(base.replace("sf", ""))
    except ValueError:
        sf = None

    try:
        load_start = list(os.getloadavg())
    except OSError:
        load_start = None

    # the pytest harness points this at a scratch dir so tests never
    # touch the committed record
    repo_dir = os.environ.get("SPARK_GRAFT_BENCH_REPO_DIR") or os.path.dirname(
        os.path.abspath(__file__)
    )
    # read the PREVIOUS run's sidecar before this run overwrites it
    prev = _load_prev_bench(repo_dir, sf)

    fns = registry.queries()
    timings: dict[str, float] = {}
    counters: dict[str, dict] = {}
    for name, fn in fns.items():
        timings[name], counters[name] = _measure(fn, spark, sf_dir, runs)

    prev_counters = prev[1].get("counters", {}) if prev is not None else {}

    def _work_changed(n: str) -> bool | None:
        """Whether n's jobs/stages differ from the previous record's;
        None when that record has no counters for n."""
        before = _work(prev_counters.get(n))
        return None if before is None else before != _work(counters[n])

    # Noise re-measure: an entry over REGRESSION_RATIO against the
    # previous record with unchanged work is almost always scheduler
    # noise on this box. Re-measure it standalone and stamp the better
    # median, so the record never carries a spike the harness has
    # itself diagnosed as noise. A work change is never re-measured
    # away; a spike without previous counters is listed under
    # noise_unverified with its first timing.
    remeasured: dict[str, list[float]] = {}
    noise_unverified: list[str] = []
    if exclusive and prev is not None:
        prev_queries = prev[1].get("queries", {})
        for name in sorted(timings):
            pt = prev_queries.get(name)
            if not pt or timings[name] / pt <= REGRESSION_RATIO:
                continue
            changed = _work_changed(name)
            if changed is None:
                noise_unverified.append(name)
            if changed is not False:
                continue
            re_med, _ = _measure(fns[name], spark, sf_dir, runs)
            remeasured[name] = [timings[name], re_med]
            print(
                f"NOISE RE-MEASURE {name}: {timings[name]}s -> {re_med}s "
                f"(prev {pt}s, jobs/stages unchanged)",
                file=sys.stderr,
            )
            timings[name] = min(timings[name], re_med)

    try:
        load_end = list(os.getloadavg())
    except OSError:
        load_end = None

    result = {
        "metric": "total_median_query_sec",
        "value": round(sum(timings.values()), 4),
        "unit": "sec",
        "n_queries": len(timings),
        "sf": sf,
        # False means the number above was taken on a loaded box and the
        # committed sidecars kept the last exclusive run. Same pre-JVM
        # sample as the sidecar's loadavg_pre_session (its loadavg_start
        # is a later, post-JVM sample).
        "exclusive": exclusive,
        "loadavg_pre_session": pre_load,
    }

    queries_sidecar = {
        "sf": sf,
        "runs_per_query": runs,
        "total_median_query_sec": result["value"],
        "exclusive": exclusive,
        "max_load_gate": max_load,
        "foreign_java_at_start": foreign_java,
        "loadavg_pre_session": pre_load,
        "loadavg_start": load_start,
        "loadavg_end": load_end,
        "queries": timings,
        # the traced warm-up's work per entry (see _measure)
        "counters": counters,
        # {name: [first_median, standalone_re_median]}; the stamped
        # value in "queries" is the min of the two
        "noise_remeasured": remeasured,
        # spikes with no previous counters to compare; the first
        # timing stands
        "noise_unverified": noise_unverified,
    }
    if exclusive:
        _write_sidecar(repo_dir, "BENCH_queries.json", queries_sidecar)
    else:
        print("WARN: BENCH_queries.json NOT overwritten (loaded run)", file=sys.stderr)
    _write_sidecar(repo_dir, "BENCH_last_run.json", queries_sidecar)

    if prev is not None:
        prev_name, prev_data = prev
        ratios = {
            name: round(t / prev_data["queries"][name], 3)
            for name, t in timings.items()
            if prev_data["queries"].get(name)
        }
        over_ratio = sorted(
            (n for n, r in ratios.items() if r > REGRESSION_RATIO),
            key=lambda n: -ratios[n],
        )
        regressions = [
            n for n in over_ratio
            if _work_changed(n)
            or timings[n] - prev_data["queries"][n] > ABS_DELTA_SEC
        ]
        vs_prev = {
            "baseline": prev_name,
            "loadavg_start": load_start,
            "loadavg_end": load_end,
            "abs_delta_gate_sec": ABS_DELTA_SEC,
            # ratios already reflect re-measured values
            "ratios": ratios,
            "regressions": regressions,
            "regressions_with_plan_change": [
                n for n in regressions if _work_changed(n)
            ],
            "noise_suppressed": [n for n in over_ratio if n not in regressions],
            "noise_remeasured": remeasured,
            "noise_unverified": noise_unverified,
        }
        if exclusive:
            _write_sidecar(repo_dir, "BENCH_vs_prev.json", vs_prev)
        else:
            print(
                "WARN: BENCH_vs_prev.json NOT overwritten (loaded run)",
                file=sys.stderr,
            )
        for n in regressions:
            print(
                f"REGRESSION {n}: {ratios[n]}x vs {prev_name} "
                f"({prev_data['queries'][n]}s -> {timings[n]}s)",
                file=sys.stderr,
            )

    small_dir = (
        os.path.join(os.path.dirname(sf_dir.rstrip("/")), f"sf{sf / 10:g}")
        if sf else None
    )
    if not exclusive:
        print(
            "WARN: scaling gate skipped (loaded run; BENCH_scaling.json "
            "keeps the last exclusive record)",
            file=sys.stderr,
        )
    elif small_dir is None or not os.path.isdir(small_dir):
        print(
            f"WARN: scaling gate skipped: no data dir one SF decade below {sf_dir}",
            file=sys.stderr,
        )
    else:
        big = {n: (timings[n], counters[n]) for n in fns}
        scaling = _scaling_gate(spark, fns, small_dir, sf_dir, big, runs)
        _write_sidecar(repo_dir, "BENCH_scaling.json", scaling)

    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
