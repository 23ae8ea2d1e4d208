"""Driver-thread overlap for independent eager legs of composite
entries. Spark's scheduler runs several jobs at once; legs are only
sequential because the driver calls them sequentially, and each
streaming drain / staged write serializes republish jobs, query starts
and micro-batch waits.

Correctness contract: ONLY for legs that are independent by
construction — each must own its scratch/checkpoint/sink namespace
(per-thread scratch leaves, mkdtemp dirs, uuid-named memory sinks)
and must not read another leg's state. Concurrency changes job
interleaving, never a leg's own micro-batch boundaries or values.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession


def run_parallel(
    spark: SparkSession,
    tagged_thunks: list[tuple[str, Callable[[], DataFrame]]],
) -> dict[str, DataFrame]:
    """Run the thunks on InheritableThreads; return {tag: result}.
    Leg failures re-raise AFTER every thread has joined (no orphaned
    streams/writes): one failure re-raises as itself, several raise
    together as a BaseExceptionGroup so no leg's diagnostics are lost.

    Legs share `spark` and must not change its conf: a leg that needs
    its own SQL conf (the streaming drains' state partitions) runs in
    a child session (session.drain_session)."""
    from pyspark import InheritableThread

    results: dict[str, DataFrame] = {}
    errors: list[BaseException] = []

    def _run(tag: str, thunk: Callable[[], DataFrame]) -> None:
        try:
            results[tag] = thunk()
        except BaseException as exc:  # joined + re-raised below
            errors.append(exc)

    threads = [
        InheritableThread(target=_run, args=(tag, thunk))
        for tag, thunk in tagged_thunks
    ]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    if errors:
        if len(errors) > 1:
            raise BaseExceptionGroup(
                f"{len(errors)} parallel legs failed", errors
            )
        raise errors[0]
    return results
