"""The one checkpoint lifecycle of the batch query path.

Operators checkpoint a frame that feeds several consumers (Spark does
not reuse exchanges across them) or that cuts an unrolled iteration's
lineage (without it round r's plan replays rounds 1..r-1 -- see
dedup.dedup_cluster_keepers). This module is the only caller of
`DataFrame.localCheckpoint` on that path (tests/test_honest_recompute.py
enforces it), and every checkpoint has the same lifecycle:

1. register: `local_checkpoint` checkpoints eagerly and records it;
2. free early (optional): an iterative operator frees a superseded
   round with `free_local_checkpoint` once the next one is materialized;
3. drain: `drain_ephemeral_checkpoints()` frees everything registered.
   `__spark_entry__.queries()` drains before building each query and
   the harnesses drain after each query's action, so no storage
   carries from one query into the next.

A checkpoint that must outlive the query boundary stays out of the
registry: a frozen model that a stream reads (streaming/*) takes its own
`localCheckpoint`, because a drain between model build and stream start
would free blocks the stream still reads.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

#: Checkpoints registered since the last drain. Only the harness knows
#: when the query's result has been materialized, so only it frees them.
_EPHEMERAL: list[DataFrame] = []


def local_checkpoint(df: DataFrame) -> DataFrame:
    """Eager localCheckpoint of `df`, registered for the query-boundary
    drain."""
    out = df.localCheckpoint()
    _EPHEMERAL.append(out)
    return out


def free_local_checkpoint(df: DataFrame) -> None:
    """Eagerly drop a localCheckpoint's storage blocks (the LogicalRDD
    holds the cached RDD; unpersist is a no-op for anything else)."""
    try:
        df._jdf.logicalPlan().rdd().unpersist(False)
    except Exception:
        pass  # best effort -- ContextCleaner reclaims on GC anyway


def drain_ephemeral_checkpoints() -> int:
    """Free every registered checkpoint; returns the count.

    Call ONLY between queries, after every DataFrame returned by the
    previous query has been materialized or discarded -- unpersisting a
    local (non-reliable) checkpoint that a still-pending plan references
    would make that plan uncomputable."""
    n = 0
    while _EPHEMERAL:
        free_local_checkpoint(_EPHEMERAL.pop())
        n += 1
    return n
