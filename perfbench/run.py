"""End-to-end benchmark of the engine's public API.

    python3 perfbench/run.py --workload etl_ingest --seed 1 --seconds 10 --trace 0

Run from the root of a source checkout. One closed-loop client in one
process makes sequential calls on a `local[k]` session, k = min(nproc,
4) - 1. Set-up starts the session, generates two seeded input sets and
makes the workload's warm-up calls (the first on a tiny set). Then a
fixed number of calls is timed: blocks of four, as many as --seconds
holds at the workload's nominal call time, and at least one; the count
depends only on the arguments, never on the host's speed. Every call
gets fresh output paths, and between calls (untimed) the outputs are
deleted, the cache cleared and Python and JVM garbage-collected, so no
state carries over; consecutive calls read different input sets, so no
result cache can serve a later call.

--trace 0 prints the end-to-end metrics: setup_s (process start to the
first timed call), call_p50_s (median timed call, run + check),
rows_per_s, peak_rss_mb (median over timed calls of the process tree's
peak RSS: the sum of each process's VmHWM, reset before the call),
ok_ratio, drop_recall and keep_precision (see workloads.py).
--trace 1 traces the middle two calls of each block (untraced, traced,
traced, untraced, on input sets 0, 1, 0, 1) and prints the per-layer
metrics, each the median over traced calls of the call's sum; `<span>.*`
are the counters of spans.py, self_s excluding child spans of other
layers. A span counts the jobs launched while it was open, so lazy calls
show none: the CSV parse of io.read_csv runs in obs.quarantine's count.
trace.overhead_s is the traced call median minus the untraced one.

The last line of stdout is the JSON result; the line before it holds
the run's metadata. Scratch files live under .perfbench/ in the
checkout and are removed at exit; span dumps stay there.
"""

import time

T0 = time.perf_counter()  # set-up is timed from process start

import argparse  # noqa: E402
import contextlib  # noqa: E402
import gc  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import random  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
INPUT_SETS = 2
# timed calls come in blocks of untraced, traced, traced, untraced
# calls on input sets 0, 1, 0, 1: every set gets one call of each kind,
# and a linear drift over the block shifts both kinds alike
BLOCK = 2 * INPUT_SETS
DRIVER_HEAP = "1g"
SPAN_METRICS = (
    "io.read_csv",
    "io.write_ndjson",
    "io.write_parquet",
    "obs.quarantine",
    "ops.text",
    "ops.dedup.exact",
    "ops.dedup.minhash",
    "ops.dedup.cc",
    "ops.similarity.near_dup",
    "ndb.upsert",
    "ndb.lookup",
)
STREAM_PHASES = (
    ("get_batch_ms", "getBatch"),
    ("query_planning_ms", "queryPlanning"),
    ("add_batch_ms", "addBatch"),
    ("wal_commit_ms", "walCommit"),
)


def tree_pids() -> list[int]:
    """This process and all its descendants: the JVM and the Python
    workers it forks."""
    parent = {}
    for pid in os.listdir("/proc"):
        if pid.isdigit():
            try:
                with open(f"/proc/{pid}/stat") as fh:
                    parent[int(pid)] = int(fh.read().rsplit(")", 1)[1].split()[1])
            except OSError:
                continue
    me, out = os.getpid(), []
    for pid in parent:
        p = pid
        while p > 1 and p != me:
            p = parent.get(p, 0)
        if p == me:
            out.append(pid)
    return out


def reset_peak_rss() -> None:
    """Restart every process's peak-RSS counter (VmHWM) at its current RSS."""
    for pid in tree_pids():
        with contextlib.suppress(OSError), open(f"/proc/{pid}/clear_refs", "w") as fh:
            fh.write("5")


def peak_rss_mb() -> float:
    """Sum over the process tree of each process's peak RSS since the
    last reset_peak_rss (or since it started)."""
    kb = 0
    for pid in tree_pids():
        with contextlib.suppress(OSError), open(f"/proc/{pid}/status") as fh:
            kb += next((int(line.split()[1]) for line in fh if line.startswith("VmHWM:")), 0)
    return kb / 1024


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", choices=("full", "tiny"), default="full", help="tiny is for the self-test")
    return ap.parse_args(argv)


def isolate(spark) -> None:
    """Untimed reset between calls: drop cached plans, collect Python
    garbage (releasing py4j handles), then run a JVM GC so the context
    cleaner frees unreferenced checkpoint and shuffle blocks."""
    spark.catalog.clearCache()
    gc.collect()
    spark.sparkContext._jvm.System.gc()


def dir_bytes(path: str) -> int:
    seen, total = set(), 0
    for d, _, names in os.walk(path):
        for n in names:
            st = os.stat(os.path.join(d, n))
            if st.st_ino not in seen:
                seen.add(st.st_ino)
                total += st.st_size
    return total


def configure_env(work: str) -> None:
    """Keep every file Spark and the JVM write inside `work`, and fix
    the driver heap (initial = maximum): call times then do not depend
    on when the collector grows the heap, nor peak RSS on the host's
    RAM. Once touched, the heap's pages stay resident, so peak RSS
    mostly shows the heap cap."""
    for sub in ("spark-local", "tmp"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_HEAP
    os.environ.pop("SPARK_GRAFT_MASTER", None)
    # the launcher JVM that spark-submit runs first needs the same two flags
    os.environ["SPARK_LAUNCHER_OPTS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={os.path.join(work, 'tmp')}"
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        "--conf spark.ui.showConsoleProgress=false "
        f"--conf spark.sql.warehouse.dir={os.path.join(work, 'warehouse')} "
        f'--driver-java-options "-Djava.io.tmpdir={os.path.join(work, "tmp")} -XX:-UsePerfData -Xms{DRIVER_HEAP}" '
        "pyspark-shell"
    )


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM (and with it the Python
    workers it forked) to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()


def med(values):
    return statistics.median(values) if values else 0.0


def layer_metrics(tracer, traced_calls, wall, extra) -> dict:
    """Per-layer metrics: medians over traced calls of each call's sums."""
    from spans import COUNTERS, union_s

    by_call = {c: [s for s in tracer.spans if s.call == c] for c in traced_calls}

    def per_call(fn):
        return med([fn(by_call[c], c) for c in traced_calls])

    def total(spans, name, key):
        return sum(s.info.get(key, 0) for s in spans if s.name == name)

    def self_s(spans, name):
        return sum(s.end - s.start - s.children_s for s in spans if s.name == name)

    m = {}
    for key, unit in (("jobs", "count"), ("stages", "count"), ("tasks", "count"), ("shuffle_bytes", "bytes"), ("exec_cpu_s", "s")):
        m[f"spark.{key}"] = (per_call(lambda sp, c, k=key: total(sp, "call", k)), unit)
    m["spark.driver_gap_s"] = (
        per_call(lambda sp, c: wall[c] - union_s(next(s for s in sp if s.name == "call").info["job_intervals"])),
        "s",
    )
    for key in ("session.start_s", "datagen_s", "warmup_s"):
        m[key] = (extra[key], "s")
    m["pipeline.run_s"] = (per_call(lambda sp, c: sum(s.end - s.start for s in sp if s.name == "pipeline.run")), "s")
    # pipeline.project is a same-layer child, so its time stays in pipeline.run's self time
    m["pipeline.self_s"] = (per_call(lambda sp, c: self_s(sp, "pipeline.run")), "s")
    m["pipeline.persisted_mb"] = (
        per_call(
            lambda sp, c: max(
                [s.info.get("cached_mb", 0.0) for s in sp if s.name.startswith("io.write") and _under(tracer, s, "pipeline.run")]
                or [0.0]
            )
        ),
        "MB",
    )
    for name in SPAN_METRICS:
        for suffix, unit in (("self_s", "s"),) + COUNTERS:
            if suffix == "self_s":
                fn = lambda sp, c, n=name: self_s(sp, n)  # noqa: E731
            else:
                fn = lambda sp, c, n=name, k=suffix: total(sp, n, k)  # noqa: E731
            m[f"{name}.{suffix}"] = (per_call(fn), unit)
    m["io.bytes_written"] = (per_call(lambda sp, c: extra["bytes_written"][c]), "bytes")
    m["obs.quarantined_rows"] = (per_call(lambda sp, c: total(sp, "obs.quarantine", "quarantined")), "count")
    m["ops.dedup.minhash.pairs_out"] = (per_call(lambda sp, c: total(sp, "ops.dedup.minhash", "pairs_out")), "count")
    m["ops.similarity.near_dup.pairs_out"] = (
        per_call(lambda sp, c: total(sp, "ops.similarity.near_dup", "pairs_out")),
        "count",
    )
    drain = lambda sp: [s for s in sp if s.name == "streaming.drain"]  # noqa: E731
    m["streaming.drain_s"] = (per_call(lambda sp, c: sum(s.end - s.start for s in drain(sp))), "s")
    m["streaming.batches"] = (per_call(lambda sp, c: sum(len(s.info.get("progress", [])) for s in drain(sp))), "count")
    m["streaming.overhead_s"] = (
        per_call(
            lambda sp, c: sum(s.end - s.start for s in drain(sp))
            - (sum(s.end - s.start for s in sp if s.name == "ndb.upsert") if drain(sp) else 0.0)
        ),
        "s",
    )
    for key, phase in STREAM_PHASES:
        m[f"streaming.{key}"] = (
            per_call(lambda sp, c, ph=phase: sum(p.get(ph, 0) for s in drain(sp) for p in s.info.get("progress", []))),
            "ms",
        )
    m["ndb.upsert.calls"] = (per_call(lambda sp, c: sum(s.name == "ndb.upsert" for s in sp)), "count")
    m["ndb.files_written"] = (
        per_call(lambda sp, c: sum(s.info.get("files", 0) for s in sp if s.name == "io.write_parquet" and _under(tracer, s, "ndb.upsert"))),
        "count",
    )
    m["storage_mb_before_call"] = (max(extra["storage_mb"]), "MB")
    m["trace.overhead_s"] = (extra["overhead_s"], "s")
    return m


def _under(tracer, span, name: str) -> bool:
    """True when an ancestor of `span` is called `name`."""
    while span.parent is not None:
        span = tracer.spans[span.parent]
        if span.name == name:
            return True
    return False


def main(argv=None) -> int:
    args = parse_args(argv)
    sys.path.insert(0, ROOT)
    try:
        import dbitool_spark
    except ImportError as e:
        print(f"perfbench: the engine package is not in {ROOT}: {e}", file=sys.stderr)
        return 2
    if not os.path.abspath(dbitool_spark.__file__).startswith(ROOT + os.sep):
        print(f"perfbench: dbitool_spark resolved outside {ROOT}", file=sys.stderr)
        return 2
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; have {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    work = os.path.join(ROOT, ".perfbench", f"{args.workload}-s{args.seed}-p{os.getpid()}")
    configure_env(work)
    try:
        meta, result = bench(args, WORKLOADS[args.workload], work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        with contextlib.suppress(OSError):
            os.rmdir(os.path.dirname(work))  # only when no other run is using it
    print(json.dumps({"meta": meta}))
    print(json.dumps(result))
    return 0


def bench(args, wl, work):
    from dbitool_spark.session import get_session
    from spans import Tracer, rdd_storage_mb
    from workloads import NoTrace

    nproc = os.cpu_count() or 1
    # one core stays free for the driver side (the Python client, py4j,
    # the scheduler): these workloads are driver-bound, and sharing that
    # core with executor threads made call times swing with scheduling
    k = max(1, min(4, len(os.sched_getaffinity(0)), nproc) - 1)
    load_start = os.getloadavg()
    t = time.perf_counter()
    spark = get_session(cpus=str(k))
    extra = {"session.start_s": time.perf_counter() - t}
    master = spark.sparkContext.master
    try:
        spark.sparkContext.setLogLevel("ERROR")
        t = time.perf_counter()
        sets = [
            wl.generate(random.Random(f"{wl.name}:{args.seed}:{i}"), os.path.join(work, f"input{i}"), args.size)
            for i in range(INPUT_SETS)
        ]
        # the cold call pays one-time costs (class loading, code
        # generation, worker start) that do not grow with input size,
        # so it runs on a tiny set; the other warm-up calls reach the
        # JIT plateau at full size
        cold = wl.generate(random.Random(f"{wl.name}:{args.seed}:cold"), os.path.join(work, "cold"), "tiny")
        extra["datagen_s"] = time.perf_counter() - t

        n_calls = 0

        def one_call(inp, tr=NoTrace):
            """One isolated call: fresh output path, timed call + check."""
            nonlocal n_calls
            out = os.path.join(work, f"call{n_calls}")
            n_calls += 1
            isolate(spark)
            before = rdd_storage_mb(spark.sparkContext)
            reset_peak_rss()
            with tr.span("call"):
                t0 = time.perf_counter()
                try:
                    check = wl.call(spark, inp, out, tr)
                except Exception:  # a failing call is counted, not fatal
                    print(f"perfbench: call {n_calls - 1} raised:", file=sys.stderr)
                    traceback.print_exc()
                    check = None
                wall = time.perf_counter() - t0
            rss_mb = peak_rss_mb()
            written = dir_bytes(out) if os.path.isdir(out) else 0
            shutil.rmtree(out, ignore_errors=True)
            if check is not None and not check.ok:
                print(f"perfbench: call {n_calls - 1} failed its check: {check.detail}", file=sys.stderr)
            return wall, check, before, written, rss_mb

        t = time.perf_counter()
        # full-size warm-up calls end on set 1, so the first timed call
        # (set 0) does not repeat its predecessor's input
        warm = [one_call(cold)[:2]] + [
            one_call(sets[(i - wl.warmup_calls) % INPUT_SETS])[:2] for i in range(1, wl.warmup_calls)
        ]
        warm_failed = sum(1 for _, c in warm if not (c and c.ok))
        extra["warmup_s"] = time.perf_counter() - t
        setup_s = time.perf_counter() - T0

        tracer = Tracer(spark) if args.trace else None
        n_timed = BLOCK * max(1, int(args.seconds // (BLOCK * wl.call_s)))
        timed = []  # (wall, check, traced, peak RSS MB)
        wall_by_call, written_by_call, storage = {}, {}, []
        for j in range(n_timed):
            inp = sets[j % INPUT_SETS]
            traced = bool(tracer) and j % BLOCK in (1, 2)
            if traced:
                tracer.call = j
                with tracer.installed():
                    wall, check, before, written, rss_mb = one_call(inp, tracer)
                tracer.harvest(j)
                wall_by_call[j] = wall
                written_by_call[j] = written
            else:
                wall, check, before, written, rss_mb = one_call(inp)
            storage.append(before)
            timed.append((wall, check, traced, rss_mb))
        load_end = os.getloadavg()
    finally:
        stop_spark(spark)

    checks = [c for _, c, _, _ in timed]
    attempted = len(timed)
    failed = sum(1 for c in checks if c is None or not c.ok)
    rows = sets[0].rows  # every full-size set has the same size
    p50 = med([w for w, _, tr, _ in timed if not tr])
    if tracer:
        traced_calls = sorted(wall_by_call)
        extra.update(
            bytes_written=written_by_call,
            storage_mb=storage,
            overhead_s=med([wall_by_call[c] for c in traced_calls]) - p50,
        )
        tracer.dump(os.path.join(ROOT, ".perfbench", f"trace-{wl.name}-s{args.seed}.json"))
        metrics = layer_metrics(tracer, traced_calls, wall_by_call, extra)
    else:
        done = [c for c in checks if c is not None]
        metrics = {
            "setup_s": (setup_s, "s"),
            "call_p50_s": (p50, "s"),
            "rows_per_s": (rows / p50, "1/s"),
            "peak_rss_mb": (med([p for *_, p in timed]), "MB"),
            "ok_ratio": ((attempted - failed) / attempted, "ratio"),
            "drop_recall": (statistics.mean(c.drop_recall for c in done) if done else 0.0, "ratio"),
            "keep_precision": (statistics.mean(c.keep_precision for c in done) if done else 0.0, "ratio"),
        }
    meta = {
        "workload": wl.name,
        "seed": args.seed,
        "trace": args.trace,
        "master": master,
        "k": k,
        "nproc": nproc,
        "loadavg_start": load_start,
        "loadavg_end": load_end,
        "input_rows_per_call": rows,
        "warmup_calls": wl.warmup_calls,
        "timed_calls": attempted,
        "untimed_failures": warm_failed,
        "warmup_call_s": [round(w, 4) for w, _ in warm],
        "call_s": [round(w, 4) for w, *_ in timed],
        "call_peak_mb": [round(p) for *_, p in timed],
        "setup": {k_: round(extra[k_], 4) for k_ in ("session.start_s", "datagen_s", "warmup_s")},
    }
    result = {
        "correct": failed == 0 and warm_failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {name: {"value": v, "unit": u} for name, (v, u) in metrics.items()},
    }
    return meta, result


if __name__ == "__main__":
    sys.exit(main())
