"""The lifetime policy for operator intermediate state.

Every frame an operator materializes for its own use has one owner and
one release point, chosen by the operator's shape:

- **Iterative driver loops** (BPE training and encode)
  :func:`truncate` every round. Without truncation round k's plan
  replays all k-1 predecessors (measured in the former Spark CC loop:
  1.5s -> 48s by round 5). The loop REBINDS its variable each round:
  CPython drops the superseded frame at once and Spark's ContextCleaner
  frees its storage (``DataFrame.unpersist()`` is a no-op on
  checkpointed frames), so a loop holds ~2 rounds of storage whatever
  the round count.
- **Operators that run their own actions** (``build_ann_index``,
  ``update_ann_index``, ``build_neardup_index``,
  ``update_neardup_index``, ``materialize_training_run``) ``persist()``
  and ``unpersist()`` in ``finally``: every consumer has run by the
  time they return. Lazy-plan operators they compose keep their own
  policy (below).
- **Operators that return lazy plans** (bpe_apply, dsir_scores,
  minhash_lsh_pairs_against, ...) use :func:`persist_tracked`. The plan
  they return consumes the persisted table 2-4 times, and Spark
  recomputes unpersisted lineage once per consumer (ReuseExchange does
  not fire across DeduplicateRelations' clones). They cannot unpersist
  it themselves — the caller has not evaluated the plan yet — so the
  registry owns it until :func:`release_operator_caches`. A long-lived
  driver sweeping many corpora calls it between corpora; single-shot
  drivers (the bench, the driver gate) may ignore it — their caches
  die with the session, and MEMORY_AND_DISK entries are LRU-evictable
  either way. Releasing before the consuming action is still correct
  (Spark recomputes the lineage); it only forfeits the reuse.

The truncation mode is the deployment's, not the operator's: reliable
``checkpoint()`` when the session was built with Spark's
``spark.checkpoint.dir`` (a fault-tolerant store; a lost executor's
round is re-read, not lost), ``localCheckpoint()`` otherwise (fast;
its blocks live in the executors' block managers at MEMORY_AND_DISK
and die with them). With ``cleanCheckpoints`` enabled (session.py)
the cleaner also deletes a dereferenced round's checkpoint files.
"""

from __future__ import annotations

import threading

from pyspark.sql import DataFrame
from pyspark.storagelevel import StorageLevel

_LOCK = threading.Lock()
_TRACKED: list[DataFrame] = []


def truncate(df: DataFrame) -> DataFrame:
    """Eagerly materialize ``df`` and cut its lineage, in the mode the
    session's deployment chose (see the module docstring)."""
    if df.sparkSession.conf.get("spark.checkpoint.dir", None):
        return df.checkpoint(eager=True)
    return df.localCheckpoint(eager=True)


def persist_tracked(
    df: DataFrame,
    level: StorageLevel = StorageLevel.MEMORY_AND_DISK,
) -> DataFrame:
    """``df.persist(level)``, registered for later bulk release.

    A plan the CacheManager already holds (a repeated operator call on
    the same input) is returned as is and not registered again: its
    first registrant owns the release. The registry is lock-guarded.
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
