"""Checkpoint generations for iterative operators.

An iterative plan (a fixpoint loop, a fixed-iteration recurrence)
ends each round in an eager ``localCheckpoint`` so the logical plan
stays flat instead of doubling per round. ``DataFrame.unpersist`` does
not reach checkpoint blocks, so each superseded generation is freed by
RDD id here; peak storage is then two generations whatever the round
count. Used by ``dedup.neardup_clusters`` and ``graph.pagerank``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def storage_rdd_ids(sc) -> set[int]:
    """IDs of RDDs currently holding storage (cached or checkpointed).
    Best-effort like :func:`unpersist_rdd_ids`: on runtimes without the
    private JVM bridge (Spark Connect) return empty and leave cleanup to
    the context cleaner."""
    try:
        return {info.id() for info in sc._jsc.sc().getRDDStorageInfo()}
    except Exception:  # pragma: no cover - connect/bridge-less runtime
        return set()


def unpersist_rdd_ids(sc, ids: set[int]) -> None:
    """Free storage for specific RDD ids (used to drop a superseded
    ``localCheckpoint`` generation). Best-effort: if the private bridge
    is unavailable the blocks are left to the context cleaner."""
    if not ids:
        return
    try:
        it = sc._jsc.sc().getPersistentRDDs().iterator()
        while it.hasNext():
            kv = it.next()
            if kv._1() in ids:
                kv._2().unpersist(False)
    except Exception:  # pragma: no cover - cleaner fallback
        pass


def checkpoint_generation(df: DataFrame, prev_ids: set[int]) -> tuple[DataFrame, set[int]]:
    """Materialize ``df`` into a fresh ``localCheckpoint`` generation,
    then free the storage of the previous generation. Returns the
    checkpointed frame (whose plan is a flat scan — lineage truncated)
    and the RDD ids backing it."""
    sc = df.sparkSession.sparkContext
    before = storage_rdd_ids(sc)
    out = df.localCheckpoint(eager=True)
    mine = storage_rdd_ids(sc) - before
    unpersist_rdd_ids(sc, prev_ids)
    return out, mine
