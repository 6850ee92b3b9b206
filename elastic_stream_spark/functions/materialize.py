"""Eager in-memory materialization for reused intermediate tables.

``materialize(df)`` = ``persist(MEMORY_AND_DISK_DESER)`` + a count action,
used for the dedup-family intermediates every consumer reads 2-6× (the
shingle index, minhash bands, simhash signatures, LSH signatures).

Why persist and not ``localCheckpoint``: both store the partitions in the
block manager, but localCheckpoint serializes every row into checkpoint
blocks through a dedicated eager job — measured as the common factor in
the dedup family's 3.4-5.4× run-to-run spread (multi-second stalls inside
the checkpoint jobs, r5 VERDICT "What's wrong" #3) — while persist keeps
the deserialized columnar batches in storage memory, spilling only under
pressure, with no extra serialization pass.  Lineage is retained (an
evicted block recomputes instead of failing), which is the right trade
for these derived tables; iterative lineage TRUNCATION (the CC fixpoint,
session memos that must outlive ``spark.catalog.clearCache()``) still
uses localCheckpoint.

Cached entries register with Spark's CacheManager keyed by canonicalized
plan, so re-running an identical query reuses the cache — bench.py calls
``clearCache()`` between timed samples so construction queries measure
the build, not a cache hit.

Lifecycle: every handle is tracked per application so pinned storage can
be RELEASED — nothing here unpersists implicitly (an identical re-run
reusing the cache is the point), but a library consumer composing many
dedup-family queries in one session should call
``unpersist_materialized(spark)`` between unrelated query families (or
``spark.catalog.clearCache()``, which drops the cached blocks of every
plan) so intermediates from finished queries stop pressuring storage
memory.  bench.py / tools/compare.py do exactly that between queries.
"""

from __future__ import annotations

import weakref

from pyspark import StorageLevel
from pyspark.sql import DataFrame, SparkSession

# applicationId -> weak refs of persisted DataFrames (weak: a handle the
# caller dropped and the JVM already GC'd should not be kept alive just
# for bookkeeping; unpersist skips dead refs)
_HANDLES: dict[str, list] = {}


def materialize(df: DataFrame) -> DataFrame:
    out = df.persist(StorageLevel.MEMORY_AND_DISK_DESER)
    out.count()
    app = out.sparkSession.sparkContext.applicationId
    for stale in [a for a in _HANDLES if a != app]:
        del _HANDLES[stale]  # dead-application entries (restarted session)
    _HANDLES.setdefault(app, []).append(weakref.ref(out))
    return out


def unpersist_local_checkpoint(df: DataFrame, blocking: bool = False) -> bool:
    """Release the block-manager storage behind a ``localCheckpoint``-ed
    DataFrame NOW instead of waiting for Python GC + the ContextCleaner
    (the leak window when a probe merely drops its dict reference — r10
    ADVICE): WALK the analyzed plan and unpersist the RDD behind every
    ``LogicalRDD`` node.  The walk matters — session memos are usually
    a ``select`` (or filter/join of tiny sides) OVER the checkpoint
    (connected_components renames its label column; ngram_pair_set is
    the bare checkpoint), and the root-only formulation this replaces
    silently released NOTHING for projected plans (review finding:
    ``analyzed().rdd()`` only exists on the LogicalRDD node itself).
    Returns True iff at least one checkpointed RDD was released.

    ``blocking=True`` waits for block removal to finish — REQUIRED in
    timed-probe eviction (async removal of multi-GB checkpoint blocks
    otherwise overlaps, and taxes, the next timed run).

    OWNERSHIP CONTRACT (r11 ADVICE): the caller must own EVERY live
    reference to the checkpoints reachable from ``df``'s plan.
    ``localCheckpoint`` truncates lineage, so releasing a checkpoint
    that some other DataFrame still builds on makes that DataFrame
    unrecomputable — its next action fails with a missing-block error
    rather than a recompute.  The session memo (``memo.py``) satisfies
    this by releasing only the handles it owns, when their input changed
    or the session's memos are evicted; a library consumer releasing a
    single handle must know nothing else derives from it.  A failed
    plan walk raises RuntimeError (with however many
    checkpoints were already released noted) — it is NOT the False of
    "walked fine, found no checkpoint", so partial releases are never
    silently mistaken for no-ops."""
    released = 0
    try:
        stack = [df._jdf.queryExecution().analyzed()]
        while stack:
            node = stack.pop()
            if node.getClass().getSimpleName() == "LogicalRDD":
                node.rdd().unpersist(blocking)
                released += 1
            ch = node.children()
            for i in range(ch.size()):
                stack.append(ch.apply(i))
    except Exception as e:
        raise RuntimeError(
            f"checkpoint-release plan walk failed after releasing "
            f"{released} checkpoint(s): {e}"
        ) from e
    return released > 0


def unpersist_materialized(spark: SparkSession, blocking: bool = False) -> int:
    """Unpersist every DataFrame ``materialize`` pinned in this
    application; returns how many were released.  Default blocking=False
    (block removal proceeds async, storage accounting released
    immediately); timed probes pass blocking=True so removal never
    overlaps the next measured run."""
    app = spark.sparkContext.applicationId
    n = 0
    for ref in _HANDLES.pop(app, []):
        df = ref()
        if df is not None:
            df.unpersist(blocking=blocking)
            n += 1
    return n
