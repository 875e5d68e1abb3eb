"""Lineage helpers for iterative operators built on localCheckpoint.

`localCheckpoint` truncates lineage (without it an unrolled iteration's
plan replays every earlier round -- see dedup.dedup_cluster_keepers'
5000-exchange anecdote), but the checkpointed RDD blocks stay pinned in
executor storage until the driver's GC-driven ContextCleaner notices.
Iterative operators should free superseded rounds EAGERLY so repeated
invocations in one session (bench loops, test sessions) don't
accumulate dead blocks.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def free_local_checkpoint(df: DataFrame) -> None:
    """Eagerly drop a localCheckpoint's storage blocks (the LogicalRDD
    holds the cached RDD; unpersist is a no-op for anything else)."""
    try:
        df._jdf.logicalPlan().rdd().unpersist(False)
    except Exception:
        pass  # best effort -- ContextCleaner reclaims on GC anyway


#: One-shot checkpointed frames awaiting harness-side reclamation (r12
#: ADVICE item 4): the operators that materialize a shared frame per
#: invocation (shingles, slot weights, simhash signatures) return lazy
#: DataFrames that still reference the checkpointed RDD, so the operator
#: itself can never free it -- only the harness knows when the returned
#: frame has been materialized. Without draining, a long single session
#: (the 208-query driver pass, a bench min-of-3 loop) accumulates
#: superseded checkpoint blocks in executor storage until the driver's
#: GC-driven ContextCleaner notices the Py4J ref drop.
_EPHEMERAL: list[DataFrame] = []


def ephemeral_local_checkpoint(df: DataFrame) -> DataFrame:
    """Eager localCheckpoint for a ONE-SHOT shared frame, registered for
    later `drain_ephemeral_checkpoints()` reclamation. Iterative
    operators that free superseded rounds themselves keep calling
    `localCheckpoint()` + `free_local_checkpoint` directly."""
    out = df.localCheckpoint()
    _EPHEMERAL.append(out)
    return out


def drain_ephemeral_checkpoints() -> int:
    """Free every registered one-shot checkpoint; returns the count.

    Call ONLY between queries, after every DataFrame returned by the
    previous query has been materialized or discarded -- unpersisting a
    local (non-reliable) checkpoint that a still-pending plan references
    would make that plan uncomputable. Harnesses (bench.py, the census,
    the driver simulation) call this after each query's action, and
    `__spark_entry__.queries()` calls it before building each query, so
    the external driver frees the previous query's checkpoints too."""
    n = 0
    while _EPHEMERAL:
        free_local_checkpoint(_EPHEMERAL.pop())
        n += 1
    return n
