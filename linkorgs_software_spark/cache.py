"""Session-level registry for operator-internal persisted frames.

Several corpus operators persist an intermediate frame (the exploded span
index, the banded MinHash frame, the SimHash block frame) because it feeds
two or more downstream aggregates. Those persists are correct per call but
accumulate in a long-lived session; ``release_caches()`` gives notebooks
and services a one-call release, and ``scoped_caches()`` gives long-running
loops (streaming micro-batches) automatic per-iteration release.

This registry is for OPERATOR-internal frames. ``plans/pipeline.py`` keeps
its own generation-based list (each ``link_orgs`` call retires the previous
call's stages automatically) — pipeline caches must not be dropped by a
corpus-side release mid-run, and vice versa.

Thread-safety: registry mutations are lock-guarded, so concurrent operator
calls cannot corrupt the list. The SEMANTICS, however, assume one logical
workload per session: a concurrent ``release_caches()`` (or an overlapping
``scoped_caches()`` block on another thread) may unpersist a frame another
thread is still reusing — results stay correct (Spark recomputes the
lineage), only the reuse speedup is lost. Streaming ``foreachBatch`` runs
one batch at a time per query, which is the intended usage pattern.
"""

from __future__ import annotations

import threading
from contextlib import contextmanager

from pyspark.sql import DataFrame

_LOCK = threading.Lock()
_OPERATOR_CACHES: list[DataFrame] = []


def register_cache(df: DataFrame) -> DataFrame:
    """Track an operator-internal persisted frame for later bulk release."""
    with _LOCK:
        _OPERATOR_CACHES.append(df)
    return df


def _release(frames) -> int:
    """Unpersist ``frames`` newest-first.

    A frame registered later is usually built on an earlier one. Spark's
    non-cascading uncache re-plans every still-cached frame whose plan
    contains the one being dropped, so releasing the base first re-plans
    each dependent on the way out; dependents first means nothing is
    left to re-plan."""
    n = 0
    for df in reversed(frames):
        try:
            df.unpersist(False)
            n += 1
        except Exception:
            # best-effort release: the frame may belong to a stopped session
            pass
    return n


def release_caches() -> int:
    """Unpersist every tracked operator-internal frame, newest-first;
    returns the count.

    Safe anytime: results computed from a released frame stay correct
    (Spark recomputes the lineage on the next action) — only the reuse
    speedup is given back.
    """
    with _LOCK:
        frames = _OPERATOR_CACHES[:]
        _OPERATOR_CACHES.clear()
    return _release(frames)


@contextmanager
def scoped_caches():
    """Release every operator-internal persist registered inside the block.

    The leak guard for unbounded loops: a streaming near-dup query calls
    LSH operators once per micro-batch, and each call persists + registers
    a banded frame — without scoping, a long-running stream pins one frame
    per batch forever (the registry's strong references also block GC).
    Entry snapshots the registry length; exit pops and unpersists exactly
    the entries added within the block, newest-first, leaving outer
    registrations (and their eventual ``release_caches()``) untouched.
    """
    with _LOCK:
        mark = len(_OPERATOR_CACHES)
    try:
        yield
    finally:
        with _LOCK:
            added = _OPERATOR_CACHES[mark:]
            del _OPERATOR_CACHES[mark:]
        _release(added)
