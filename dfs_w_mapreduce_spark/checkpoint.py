"""Checkpoints that also read back the scalars a driver loop needs.

An iterative operator truncates its lineage with an eager
`localCheckpoint()` every round and then needs one or two scalars of
the new frame (a row count, a convergence sum, a radius). Reading
them with `count()` or `agg(...).first()` after the checkpoint starts
one or two more jobs per round. `df.observe()` computes the same
aggregates inside the checkpoint's own job, so a loop pays one job
per superstep.
"""

from __future__ import annotations

from typing import Any

from pyspark.sql import Column, DataFrame, Observation


def observed_checkpoint(
    df: DataFrame, **aggs: Column
) -> tuple[DataFrame, dict[str, Any]]:
    """Eagerly localCheckpoint `df` and return it with the aggregates
    `aggs` (name -> aggregate Column) over its rows, computed in the
    same job. On an empty frame counts read 0 and sums/maxes None."""
    obs = Observation()
    out = df.observe(obs, *(c.alias(k) for k, c in aggs.items())).localCheckpoint()
    return out, obs.get
