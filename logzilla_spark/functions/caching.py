"""Tracked persists for operators that return LAZY plans.

Several operators (minhash_lsh_pairs, semdedup, bpe_apply,
dsir_scores) persist an intermediate feature table because the plan
they return consumes it 2-4 times and Spark recomputes unpersisted
lineage once per consumer (ReuseExchange does not fire across
DeduplicateRelations' clones). They cannot unpersist it themselves —
the caller has not evaluated the returned plan yet — so an unmanaged
``df.persist()`` pins CacheManager entries for the life of the
session: a long-lived driver sweeping many corpora accumulates
MEMORY_AND_DISK cache until a manual ``spark.catalog.clearCache()``.

This module makes that lifetime explicit. Operators persist through
:func:`persist_tracked`; callers either

- wrap each corpus sweep in :func:`operator_cache_scope` (unpersists
  everything the scope created once the caller's ACTIONS have run)::

      with operator_cache_scope():
          pairs = minhash_lsh_pairs(docs)
          pairs.write.parquet(out)          # evaluate INSIDE the scope

- or call :func:`release_operator_caches` between corpora.

Unpersisting is safe at any point for CORRECTNESS (Spark falls back
to recomputing lineage); releasing before the consuming action merely
forfeits the reuse the persist bought, so scopes should close after
the work is evaluated. Single-shot drivers (the bench, the driver
gate) may ignore this module entirely — their caches die with the
session, and MEMORY_AND_DISK entries are LRU-evictable either way.

Thread safety: the registry is lock-guarded; scopes release only the
entries registered while they were open (LIFO-nested scopes work), and
each cached plan is registered once, by its first persist.
"""

from __future__ import annotations

import threading
from contextlib import contextmanager
from typing import Iterator

from pyspark.sql import DataFrame
from pyspark.storagelevel import StorageLevel

_LOCK = threading.Lock()
_TRACKED: list[DataFrame] = []


def persist_tracked(
    df: DataFrame,
    level: StorageLevel = StorageLevel.MEMORY_AND_DISK,
) -> DataFrame:
    """``df.persist(level)``, registered for later bulk release.

    A plan the CacheManager already holds (a repeated operator call on
    the same input) is returned as is and not registered again: its
    first registrant owns the release, so a nested scope never frees an
    outer scope's cache.
    """
    with _LOCK:
        if df.storageLevel != StorageLevel.NONE:
            return df
        out = df.persist(level)
        _TRACKED.append(out)
    return out


def release_operator_caches() -> int:
    """Unpersist every tracked frame; returns how many were released.

    Non-blocking unpersist: freeing cache blocks proceeds in the
    background while the driver moves on to the next corpus.
    """
    with _LOCK:
        frames, _TRACKED[:] = list(_TRACKED), []
    for df in frames:
        try:
            df.unpersist(blocking=False)
        except Exception:  # session already stopped — nothing to free
            pass
    return len(frames)


@contextmanager
def operator_cache_scope() -> Iterator[None]:
    """Release the persists created inside the ``with`` body on exit.

    Only frames registered while the scope is open are released, so
    nested scopes (an outer sweep composing inner operators) free
    exactly their own additions.
    """
    with _LOCK:
        mark = len(_TRACKED)
    try:
        yield
    finally:
        with _LOCK:
            frames, _TRACKED[mark:] = list(_TRACKED[mark:]), []
        for df in frames:
            try:
                df.unpersist(blocking=False)
            except Exception:
                pass
