"""ONE cache-ownership convention for eager operators (round-11
verdict item #2).

Before this module the engine had three conventions for persisted
frames that outlive their operator call:

1. eager caller-owned results — ``out.persist(); out.count(); return``
   (``prefix_jaccard_pairs``, ``cosine_neardup_pairs`` capped path,
   the banded multi-table LSH, ``contamination_check``,
   ``ngram_jaccard_pairs``, ``semantic_dedup``'s sweep);
2. lazy plans over persisted support frames the caller can't reach —
   ``collocations``' pair/unigram counts, ``source_rarity``'s
   per-source counts, ``triangle_count``'s oriented edges,
   ``mi_report``'s per-pair joint frames, ``part_rank_fusion``'s
   shared edge frame (scalar subqueries / multi-consumer plans
   reference them, so the operator can't unpersist before the caller
   materializes);
3. harness-side ``spark.catalog.clearCache()`` between runs as the
   blanket compensation.

A ``DataFrame.persist`` is pinned JVM-side by the CacheManager until
an explicit ``unpersist`` — dropping the Python handle never frees it
(unlike ``localCheckpoint`` blocks, which the ContextCleaner releases
on GC).  So convention 2's frames were genuinely unreachable: nothing
short of ``clearCache`` could ever release them, and a long-lived
session profiling many frames accumulates MEMORY_AND_DISK cache
without bound.

Now every frame that must stay persisted past its operator's return is
REGISTERED here: eager caller-owned results go through
:func:`materialize` (persist + count + register, unpersisted again if
the count raises), lazy support frames through :func:`own` (persist +
register).  Harnesses — bench.py, tools/check_oracle.py,
the cache-lifecycle test — call :func:`release_all` after each query
materializes.  Scoped persists (persist → use → unpersist inside one
call) never register; ``localCheckpoint`` artifacts never register
(they are bounded, and unpersisting a checkpoint would lose the only
copy of the data its consumers re-read).

Registering costs nothing beyond a Python list entry: the JVM pin
already existed, the registry just makes it releasable.
"""

from __future__ import annotations

from typing import TYPE_CHECKING

from pyspark import StorageLevel

if TYPE_CHECKING:  # pragma: no cover
    from pyspark.sql import DataFrame

_OWNED: list["DataFrame"] = []


def own(
    df: "DataFrame",
    level: StorageLevel = StorageLevel.MEMORY_AND_DISK,
) -> "DataFrame":
    """Persist ``df`` and register it for :func:`release_all`."""
    out = df.persist(level)
    _OWNED.append(out)
    return out


def materialize(df: "DataFrame") -> "DataFrame":
    """Persist ``df``, fill the cache with one ``count``, and register it
    for :func:`release_all`.  If the count raises, the frame is
    unpersisted before the error propagates — a failed eager operator
    leaves no pin behind."""
    out = df.persist(StorageLevel.MEMORY_AND_DISK)
    try:
        out.count()
    except Exception:
        out.unpersist()
        raise
    _OWNED.append(out)
    return out


def owned_count() -> int:
    return len(_OWNED)


def release_all() -> int:
    """Unpersist every registered frame; returns how many released.

    Safe to call at any point between queries: a released frame's
    plan recomputes from source if some caller re-materializes it
    later (correctness never depends on the cache)."""
    n = len(_OWNED)
    for df in _OWNED:
        try:
            df.unpersist()
        except Exception:
            pass  # session already stopped — nothing to release
    _OWNED.clear()
    return n
