"""Loop rounds: checkpoint, read back the loop's scalars, free the
round replaced.

An iterative operator materializes each round with an eager
`localCheckpoint()`. Every round's plan reads the previous round, so
without the checkpoint the plan (and, in loops that read the previous
round twice, its size) grows with every round; a pair set mirrored into
an undirected edge list would likewise run its whole pipeline once per
branch. The checkpoint cuts the plan back to a leaf and pays for the
round once.

A loop then needs one or two scalars of the new frame (a row count, a
convergence sum, a radius). Reading them with `count()` or
`agg(...).first()` after the checkpoint starts one or two more jobs
per round; `df.observe()` computes the same aggregates inside the
checkpoint's own job, so a loop pays one job per superstep.

A local checkpoint stays persisted until it is unpersisted or a JVM GC
lets Spark's cleaner drop it, and `DataFrame.unpersist()` does not
reach it. `release` frees it, and `observed_checkpoint(...,
replaces=prev)` frees the round it replaces once the new round is
materialized, so a loop keeps only its current round alive. A function
frees only checkpoints it created, and never one that the DataFrame it
returns still reads: reading a released checkpoint fails with
CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND.
"""

from __future__ import annotations

from typing import Any

from pyspark.sql import Column, DataFrame, Observation


def release(df: DataFrame | None) -> None:
    """Unpersist the local checkpoint that `df` (a frame returned by
    `localCheckpoint()` or `observed_checkpoint`) reads; asynchronous,
    starts no job. A no-op on any other frame and on None."""
    if df is None:
        return
    plan = df._jdf.logicalPlan()
    if plan.getClass().getSimpleName() == "LogicalRDD":
        plan.rdd().unpersist(False)


def observed_checkpoint(
    df: DataFrame, *, replaces: DataFrame | None = None, **aggs: Column
) -> tuple[DataFrame, dict[str, Any]]:
    """Eagerly localCheckpoint `df` and return it with the aggregates
    `aggs` (name -> aggregate Column) over its rows, computed in the
    same job; then release `replaces`, the round the new one supersedes.
    On an empty frame counts read 0 and sums/maxes None."""
    obs = Observation()
    if aggs:
        df = df.observe(obs, *(c.alias(k) for k, c in aggs.items()))
    out = df.localCheckpoint()
    release(replaces)
    return out, obs.get if aggs else {}
