"""Explicit materialization barrier for diamond-shaped plan reuse.

Spark replicates a subtree that feeds both sides of a self-join (and any
later verify join) once per alias; neither ReuseExchange nor AQE stage
reuse dedupes the shingle/signature pipeline behind the fork (the executed
plan of the composed LSH->verify shape shows 0 ReusedExchange and the
corpus scan repeated per consumer). ``materialize`` is the fix — but ONLY
for SMALL derived frames. Measured steady-state on local[32] @ sf0.1
(first-run timings are dominated by one-time codegen compilation and lie;
A/B each variant twice in one session):

- barrier on the small banded + candidate-shingle frames: 5.3s -> 3.9s,
  and bounds the 100 TB plan to two corpus scans.
- barrier on the corpus-sized raw shingle frame: 5.3s -> 11-42s. Caching
  a big exploded frame costs more (serialization, memory churn, lost
  pushdown) than recomputing it under a warm codegen cache.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.storagelevel import StorageLevel


def materialize(df: DataFrame) -> DataFrame:
    """Deliberate stage barrier: persist + eager materialization.

    MEMORY_AND_DISK, so a frame that outgrows executor memory spills
    gracefully; recomputing it would instead replay the upstream corpus
    scan + shuffles once per consumer. The count() is the documented eager
    step — without it, concurrently-scheduled join-side stages race the
    cache and compute the frame twice anyway. Reserve this for frames that
    are SMALL relative to their upstream (banded signatures, candidate-
    restricted shingles) — see the module docstring for measurements.

    The persisted frame stays cached for the lifetime of the session (or
    until ``df.unpersist()``); callers composing many barriers in one job
    should unpersist when the consuming action finishes.
    """
    df = df.persist(StorageLevel.MEMORY_AND_DISK)
    df.count()
    return df


def release_checkpoint(df: DataFrame) -> None:
    """Unpersist, without blocking, the RDD behind a ``localCheckpoint()``
    frame, which ``unpersist()`` and ``clearCache()`` do not reach: it
    otherwise waits for a driver GC. Only this frame's RDD is released, so
    concurrent callers are safe; ``df`` is unreadable afterwards."""
    df._jdf.logicalPlan().rdd().unpersist(False)
