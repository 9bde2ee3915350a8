"""Materialization points: checkpoints that count in the same pass (a
``count()`` right after an eager ``localCheckpoint`` is a second
driver-synchronized job over rows the checkpoint already scanned, so counts
ride the checkpoint instead), driver collects bounded in the same job, and
the per-stage timer whose boundaries sit after them."""

from __future__ import annotations

import time
from typing import Callable

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


def stage_timer() -> tuple[dict[str, float], Callable[[str], None]]:
    """``(stage_sec, tick)``: ``tick(name)`` adds the seconds since the
    previous tick (or since this call) to ``stage_sec[name]``, so a stage
    timed in several pieces reports their sum. Each tick belongs after a
    materialization point (an eager checkpoint, count or collect), so the
    time it closes is work done, not plan laziness."""
    stage_sec: dict[str, float] = {}
    mark = [time.perf_counter()]

    def tick(name: str) -> None:
        now = time.perf_counter()
        stage_sec[name] = round(stage_sec.get(name, 0.0) + now - mark[0], 3)
        mark[0] = now

    return stage_sec, tick
