"""Materialization points that count in the same pass: a ``count()`` right
after an eager ``localCheckpoint`` is a second driver-synchronized job over
rows the checkpoint already scanned, so counts ride the checkpoint instead."""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Observation
from pyspark.sql import functions as F


def checkpoint_observed(df: DataFrame, *aggs: Column) -> tuple[DataFrame, dict]:
    """(eager local checkpoint of ``df``, ``{alias: value}`` of ``aggs``
    over its rows) in ONE Spark job: the aggregates are ``observe()``
    metrics of the checkpoint's own pass (distinct aggregates are not
    allowed there). With no ``aggs``, the row count is observed as "n"."""
    obs = Observation()
    out = df.observe(obs, *(aggs or (F.count(F.lit(1)).alias("n"),)))
    return out.localCheckpoint(eager=True), obs.get
