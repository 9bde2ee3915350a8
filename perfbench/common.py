"""Pieces shared by the workloads."""

from __future__ import annotations

import os
import time
from contextlib import contextmanager, nullcontext
from dataclasses import dataclass
from typing import Any, Callable


@dataclass
class Op:
    """One closed-loop operation: `run` performs it up to a fully
    materialized result, `check` validates that result."""

    kind: str
    run: Callable[[], Any]
    check: Callable[[Any], bool]
    label: str = ""


class Ctx:
    def __init__(self, spark, seed: int, rng, work: str, smoke: bool):
        self.spark = spark
        self.seed = seed
        self.rng = rng
        self.work = work
        self.smoke = smoke
        self.tracer = None
        self.setup_s: dict[str, float] = {}

    def span(self, layer: str, name: str):
        return self.tracer.span(layer, name) if self.tracer else nullcontext()

    @contextmanager
    def phase(self, name: str):
        """Time one setup phase into `setup_s` (phases may repeat)."""
        t = time.perf_counter()
        try:
            yield
        finally:
            self.setup_s[name] = self.setup_s.get(name, 0.0) + time.perf_counter() - t


def tree_bytes(path: str) -> int:
    total = 0
    for d, _, files in os.walk(path):
        for f in files:
            try:
                total += os.lstat(os.path.join(d, f)).st_size
            except OSError:
                pass
    return total
