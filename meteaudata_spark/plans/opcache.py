"""Operator-side caches: one session memo registry and a bounded
per-query persist FIFO.

Memo registry (``memo`` / ``memo_relation``).  Every value the library
reuses across calls in a Spark session lives in the one registry
``_memo``: a table's lazy loader DataFrame, a corpus count, trained
centroids, a tokenizer trainer core, a persisted index's frozen
codebooks, a persisted shared relation.

* Key: ``(applicationId, *key)``, so a restarted session never reads
  another session's entries.  ``key`` starts with a tag naming the
  value and carries every parameter it depends on.
* Fingerprint: beside each value the registry keeps the fingerprint of
  the files it was built from: ``(st_ino, st_mtime_ns, st_size)`` of
  each ``source`` path and of each of that path's direct children (one
  ``stat`` plus one ``scandir`` per path).  A hit whose stored
  fingerprint differs from the current one is stale: the entry is
  dropped (unpersisted if the memo persisted it) and rebuilt.  A table
  rewritten in place with ``mode("overwrite")`` is therefore read
  afresh, and so is everything memoized on top of it.  A path with no
  local ``stat`` (e.g. an object-store URI) fingerprints as absent and
  never goes stale.
* Bound: ``_MEMO_CAP`` entries, evicted oldest first; an evicted
  relation is unpersisted.

``memo_relation`` is ``memo`` plus a ``persist()`` of the built
DataFrame, and re-persists a hit whose persist was dropped externally.

Per-query intermediates (``cache_intermediate``).  Some operators
reuse an intermediate DataFrame across several plan branches of ONE
call.  The returned plan is lazy, so the operator has no safe point to
unpersist it; the FIFO unpersists the oldest entry beyond
``_MAX_ACTIVE`` instead.  Evicting an entry that a live lazy plan
still references is safe: Spark recomputes that subplan.  Inside
``pin_caches()`` entries are pinned and exempt from the FIFO.

``release_operator_caches()`` empties everything: every memo entry
(table frames included) and every per-query or pinned persist.
"""

from __future__ import annotations

import os
import stat
from collections import OrderedDict

from pyspark.sql import DataFrame

# Per-query intermediates only: memo persists live in ``_memo``, which
# per-query churn never touches, so this FIFO only has to outlive one
# query's bench runs (<= ~5 registrations per call x 3 runs; 24 gives
# 60% headroom).  A cap of 96 kept tens of MB per token/shingle explode
# alive across a whole pass and taxed every row 0.3-0.7 s in GC.
_MAX_ACTIVE = 24
_active: "OrderedDict[int, DataFrame]" = OrderedDict()
_pinned: "OrderedDict[int, DataFrame]" = OrderedDict()
_pin_mode = False

# Above the count of distinct keys a full 231-row gate pass creates
# (tables, relations and trainer cores together; see CHANGES.md), so
# that pass runs with 0 evictions.
_MEMO_CAP = 64
_memo: "OrderedDict[tuple, tuple]" = OrderedDict()  # key -> (value, fp)


def _fingerprint(source) -> tuple:
    """``(path, st_ino, st_mtime_ns, st_size)`` of each ``source`` path
    (one path or a tuple of paths) and of its direct children."""
    fp = []
    for p in (source,) if isinstance(source, str) else source:
        try:
            st = os.stat(p)
            fp.append((p, st.st_ino, st.st_mtime_ns, st.st_size))
            if stat.S_ISDIR(st.st_mode):
                with os.scandir(p) as it:
                    for e in sorted(it, key=lambda e: e.name):
                        c = e.stat()
                        fp.append((e.name, c.st_ino, c.st_mtime_ns, c.st_size))
        except OSError:
            fp.append((p, None))
    return tuple(fp)


def _release(value) -> None:
    """Unpersist ``value`` if it is a persisted DataFrame."""
    if isinstance(value, DataFrame) and value.is_cached:
        try:
            value.unpersist(blocking=False)
        except Exception:
            pass  # session may already be stopped


def memo(spark, source, key: tuple, build):
    """Session memo of ``build()`` under ``(applicationId, *key)``,
    rebuilt when the fingerprint of ``source`` (the paths the value is
    built from) changes.  See the module docstring."""
    k = (spark.sparkContext.applicationId,) + tuple(key)
    fp = _fingerprint(source)
    hit = _memo.get(k)
    if hit is not None:
        if hit[1] == fp:
            return hit[0]
        del _memo[k]
        _release(hit[0])  # stale: its source changed
    value = build()
    _memo[k] = (value, fp)
    while len(_memo) > _MEMO_CAP:
        _release(_memo.popitem(last=False)[1][0])
    return value


def memo_relation(spark, source, key: tuple, build) -> DataFrame:
    """``memo`` of a shared intermediate relation, persisted, so
    compositions reuse their upstream instead of recomputing it.

    Memo persists live in the memo registry, never in the per-query
    FIFO, so ``cache_intermediate`` churn cannot evict a memoized core.
    A hit whose persist was dropped externally (manual unpersist) is
    re-persisted, so it recomputes at most once (pinned by
    tests/test_opcache_memo.py::test_memo_hit_heals_externally_dropped_persist)."""
    df = memo(spark, source, key, lambda: build().persist())
    sl = df.storageLevel
    if not (sl.useMemory or sl.useDisk or sl.useOffHeap):
        df.persist()  # dropped externally: re-persist
    return df


def cache_intermediate(df: DataFrame) -> DataFrame:
    """Persist ``df`` and register it for bounded-lifetime cleanup.

    Inside a ``pin_caches()`` block the entry is registered PINNED —
    exempt from the FIFO, released only by
    ``release_operator_caches()`` — for standing working-set relations
    (the bench prewarm) that per-query churn must not evict."""
    df.persist()
    if _pin_mode:
        _pinned[id(df)] = df
        return df
    _active[id(df)] = df
    while len(_active) > _MAX_ACTIVE:
        _release(_active.popitem(last=False)[1])
    return df


class pin_caches:
    """Context manager: every ``cache_intermediate`` within is pinned
    (see above).  Not re-entrant-safe across threads — the bench and
    warm path are single-threaded driver code."""

    def __enter__(self):
        global _pin_mode
        self._prev = _pin_mode
        _pin_mode = True
        return self

    def __exit__(self, *exc):
        global _pin_mode
        _pin_mode = self._prev
        return False


def release_operator_caches() -> int:
    """Unpersist every per-query and pinned intermediate and drop every
    memo entry; returns how many entries were held."""
    n = len(_active) + len(_pinned) + len(_memo)
    for reg in (_active, _pinned):
        while reg:
            _release(reg.popitem(last=False)[1])
    while _memo:
        _release(_memo.popitem(last=False)[1][0])
    return n
