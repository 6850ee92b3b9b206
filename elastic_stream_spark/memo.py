"""Session memo: one store for results reused within a SparkSession.

Operators reuse work that is expensive to redo and safe to reuse while
its input is unchanged: table handles and row counts, the verified
near-dup pair set, connected-component labels, IVF centroids, PQ
codebooks, persisted index directories and the engine fixture.  Every
such result goes through ``memo(spark, sf_dir, key, build)``; ``key`` is
the caller's own part (its first element names the kind, e.g.
``("table", name)`` or ``("centroids", nlist, nprobe)``) and the store
adds the rest:

- ``applicationId`` and ``sessionUUID``: a DataFrame belongs to the
  session that created it, so a ``spark.newSession()`` sibling builds
  its own and a restarted application is never served a dead handle;
- an input fingerprint, ``(name, size, mtime_ns)`` of every top-level
  entry of ``sf_dir`` from one ``os.scandir``.  A table rewritten or
  re-created changes its top-level entry, so the result is rebuilt.  One
  level on purpose: a lookup costs O(tables) stats, never a recursive
  listing of a large dataset.

A ``str`` value is the path of a file the build wrote (an index's marker
file, an export directory); the entry is live only while that path
exists, so a deleted index is rebuilt.

Eviction is one policy.  On a miss, entries of other applications are
dropped (their context is gone; live sibling sessions coexist) and a
stale entry of this session is released and replaced.  ``evict(spark)``
releases and drops every entry of the session.  Release follows the
value's type: a DataFrame frees its localCheckpoint blocks through the
plan-walking ``unpersist_local_checkpoint``; no other value holds
cluster storage.  The store owns what it releases: a handle taken from
the memo is valid until its input changes or the session's memos are
evicted.

``stats()`` reads hits, misses and build seconds per key kind.
"""

from __future__ import annotations

import gc
import os
import time
import warnings
from collections.abc import Callable
from typing import Any, TypeVar

from pyspark.sql import DataFrame, SparkSession

from elastic_stream_spark.functions.materialize import unpersist_local_checkpoint

T = TypeVar("T")

# (applicationId, sessionUUID, sf_dir, key) -> (fingerprint, value)
_CACHE: dict[tuple, tuple[tuple, Any]] = {}
# key kind -> {"hits", "misses", "build_s"}
_STATS: dict[str, dict[str, float]] = {}


def _session(spark: SparkSession) -> tuple[str, str]:
    return (
        spark.sparkContext.applicationId,
        str(spark._jsparkSession.sessionUUID()),
    )


def _fingerprint(sf_dir: str) -> tuple:
    try:
        with os.scandir(sf_dir) as it:
            return tuple(
                sorted(
                    (e.name, st.st_size, st.st_mtime_ns)
                    for e in it
                    for st in (e.stat(),)
                )
            )
    except OSError:  # not a local directory: no version to observe
        return ()


def _release(value: Any, blocking: bool = False) -> bool:
    if not isinstance(value, DataFrame):
        return False
    try:
        return unpersist_local_checkpoint(value, blocking)
    except RuntimeError as e:
        # a dead handle must not abort the caller's lookup or eviction,
        # but it is surfaced, never silently dropped
        warnings.warn(str(e), RuntimeWarning, stacklevel=3)
        return False


def memo(spark: SparkSession, sf_dir: str, key: tuple, build: Callable[[], T]) -> T:
    """The session's result for ``(sf_dir, key)``, running ``build()``
    on a miss or when ``sf_dir`` changed since the result was built."""
    app, uuid = _session(spark)
    full = (app, uuid, sf_dir, key)
    fp = _fingerprint(sf_dir)
    counts = _STATS.setdefault(key[0], {"hits": 0, "misses": 0, "build_s": 0.0})
    got = _CACHE.get(full)
    if got is not None and got[0] == fp and (
        not isinstance(got[1], str) or os.path.exists(got[1])
    ):
        counts["hits"] += 1
        return got[1]
    counts["misses"] += 1
    for k in [k for k in _CACHE if k[0] != app]:
        del _CACHE[k]
    if got is not None:
        _release(_CACHE.pop(full)[1])
    t0 = time.perf_counter()
    value = build()
    counts["build_s"] += time.perf_counter() - t0
    _CACHE[full] = (fp, value)
    return value


def evict(spark: SparkSession, blocking: bool = False) -> int:
    """Release and drop every memo of ``spark``'s session, then
    ``gc.collect()`` so the ContextCleaner can reclaim intermediate
    checkpoints whose only references died with the dropped handles.
    Returns how many entries released a checkpoint.  Timed probes pass
    ``blocking=True`` so block removal never overlaps the next run."""
    session = _session(spark)
    n = 0
    for k in [k for k in _CACHE if k[:2] == session]:
        n += _release(_CACHE.pop(k)[1], blocking)
    gc.collect()
    return n


def stats() -> dict[str, dict[str, float]]:
    """Hits, misses and build seconds per key kind, since process start."""
    return {
        kind: {**c, "build_s": round(c["build_s"], 3)}
        for kind, c in sorted(_STATS.items())
    }
