"""Bounded-lifetime persistence for multi-use intermediates.

Self-join-heavy operators (MinHash/SimHash banding, LSH buckets)
persist their signature tables because Catalyst does not reuse
exchanges across self-join aliases — without the persist the whole
upstream pipeline runs once per join side. But a bare .persist() has
no release point: the cached table outlives the operator call and
repeated calls in a long-lived session accumulate executor storage
until LRU eviction (which is not a memory contract).

materialize_release() is the release point: it eagerly materializes
the operator's RESULT with localCheckpoint — distributed,
MEMORY_AND_DISK, lineage severed — then unpersists the big
intermediates, which the checkpointed result no longer needs.
Checkpoint blocks are reclaimed by Spark's ContextCleaner once the
returned DataFrame is garbage collected, so the whole chain has
bounded lifetime with no caller-side protocol.

Two rejected alternatives, both measured on the sf0.1 bench suite:
- collect-to-local-relation for "small" results: no cheap way to
  know the size up front — simhash candidate sets are ~10^5-10^6
  rows at sf0.1 and collecting them measured 46s vs 5.7s
  checkpointed, an order-of-magnitude cliff hiding behind a
  heuristic; the checkpoint's partition round-trip costs only
  ~0.2-0.4s on the sub-second ops.
- limit(N).collect() probing: the GlobalLimit funnels the final
  stage through one partition and serializes it (ngram 5.1s -> 6.1s).
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def materialize_release(result: DataFrame, *intermediates: DataFrame) -> DataFrame:
    """Eagerly materialize `result`, then unpersist `intermediates`.

    The trade: the operator becomes eager (compute happens here, not
    at the caller's first action). Correct for terminal analytics
    whose result is orders of magnitude smaller than the inputs."""
    out = result.localCheckpoint(eager=True)
    for df in intermediates:
        # non-blocking: the checkpointed result no longer references
        # the intermediates, so block removal can proceed async (the
        # frames leave the cache registry immediately, which is what
        # the no-lingering-cache tests assert)
        df.unpersist(blocking=False)
    return out

