"""Spark work counters of one block of driver code.

Jobs are attributed by id: the scheduler hands out job ids in
submission order, so the jobs a block launched are exactly the ids
allocated between its start and its end, including jobs submitted from
streaming micro-batch or concurrent-leg threads. Stage counters are
read from the status store once the listener bus has drained, so
reading them costs the measured block nothing.
"""

from __future__ import annotations

import contextlib

from py4j.protocol import Py4JJavaError

COUNTERS = ("jobs", "stages", "tasks", "shuffle_bytes")


@contextlib.contextmanager
def counters(spark):
    """Yield a dict that holds, once the block exits, the number of
    jobs it submitted and the stages, tasks and shuffle-write bytes of
    those jobs' stages that ran. A skipped stage counts nothing; so
    does a stage the status store no longer holds: past
    spark.ui.retainedStages the store evicts skipped stages first."""
    sc = spark.sparkContext._jsc.sc()
    out = dict.fromkeys(COUNTERS, 0)
    lo = sc.dagScheduler().nextJobId()
    yield out
    hi = sc.dagScheduler().nextJobId()
    sc.listenerBus().waitUntilEmpty()
    store = sc.statusStore()
    out["jobs"] = hi - lo
    for jid in range(lo, hi):
        sids = store.job(jid).stageIds()
        for i in range(sids.size()):
            try:
                sd = store.lastStageAttempt(sids.apply(i))
            except Py4JJavaError as exc:
                if exc.java_exception.getClass().getName() != "java.util.NoSuchElementException":
                    raise
                continue
            if str(sd.status()) == "SKIPPED":
                continue
            out["stages"] += 1
            out["tasks"] += sd.numTasks()
            out["shuffle_bytes"] += sd.shuffleWriteBytes()
