"""Materialization points: checkpoints that count in the same pass (a
``count()`` right after an eager ``localCheckpoint`` is a second
driver-synchronized job over rows the checkpoint already scanned, so counts
ride the checkpoint instead), and driver collects bounded in the same job."""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Observation, Row
from pyspark.sql import functions as F


def checkpoint_observed(df: DataFrame, *aggs: Column) -> tuple[DataFrame, dict]:
    """(eager local checkpoint of ``df``, ``{alias: value}`` of ``aggs``
    over its rows) in ONE Spark job: the aggregates are ``observe()``
    metrics of the checkpoint's own pass (distinct aggregates are not
    allowed there). With no ``aggs``, the row count is observed as "n"."""
    obs = Observation()
    out = df.observe(obs, *(aggs or (F.count(F.lit(1)).alias("n"),)))
    return out.localCheckpoint(eager=True), obs.get


def collect_bounded(df: DataFrame, bound: int, error: str) -> list[Row]:
    """``df``'s rows, collected in one ``limit(bound + 1)`` job; more than
    ``bound`` rows raise ValueError(``error``) instead of building an
    unbounded driver-side array."""
    rows = df.limit(bound + 1).collect()
    if len(rows) > bound:
        raise ValueError(error)
    return rows
