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
    and the id of the RDD backing it. Only that RDD is the generation's
    own: a cache the same job happens to fill, the caller's or another
    thread's, is left alone."""
    out = df.localCheckpoint(eager=True)
    unpersist_rdd_ids(df.sparkSession.sparkContext, prev_ids)
    try:
        # the checkpointed plan is a LogicalRDD over the stored RDD
        mine = {out._jdf.queryExecution().analyzed().rdd().id()}
    except Exception:  # pragma: no cover - connect/bridge-less runtime
        mine = set()
    return out, mine
