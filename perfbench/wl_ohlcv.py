"""`ohlcv_cache`: a seeded stream of cache-or-fetch requests.

Setup seeds an `OhlcvStore` with `SIZES` symbols x days of 1m bars in one
`save_many` commit, leaving a few seeded holes. Requests follow a fixed
8-slot pattern (4 `load` hits, 1 forward-extending `load` miss, 1
`load_resampled` 1m->1h/4h, 1 `load_incremental` over a hole and 1 run of
the registry's flagship OHLCV query over tick events) and a run only stops
at the end of a pattern, so every run times the same mix; the seed picks
symbols (Zipf-skewed), days (leaning towards recent ones), hole positions
and fetch lengths.
A model of the store (frontier and open holes per series) gives the exact
rows and close-price checksum every request must return. The flagship
query is checked once per run, outside the timed region, against its
DuckDB oracle.
"""

from __future__ import annotations

import os
from datetime import datetime, timedelta, timezone

import numpy as np

from perfbench.common import Op
from perfbench.datagen import write_events
from perfbench.exchange import MINUTE_MS, FakeExchange, close_cents, symbol

NOW = datetime(2024, 3, 1, tzinfo=timezone.utc)
NOW_M = int(NOW.timestamp()) // 60
DAY = 1440
# the first five slots hold one op of each kind, so a smoke run covers all
PATTERN = "HMRQIHHH"
# (symbols, days) stored at setup and the scale of the events fixture;
# smoke mode uses the second
SIZES = {False: (4, 5, 0.01), True: (2, 3, 0.001)}
QUERY = "flagship_ohlcv_sma"


def _dt(m: int) -> datetime:
    return datetime.fromtimestamp(m * 60, tz=timezone.utc)


def _window(m_lo: int, m_hi: int) -> tuple[datetime, datetime]:
    """Request bounds covering bars m_lo..m_hi inclusive."""
    return _dt(m_lo), _dt(m_hi + 1) - timedelta(milliseconds=1)


class OhlcvCache:
    def __init__(self, ctx):
        from binance_data_framework_spark.api import CacheOrFetchLoader
        from binance_data_framework_spark.plans.registry import QUERIES
        from binance_data_framework_spark.sources.rest_klines import (
            PagedKlineSource,
            http_fetch_page,
        )
        from binance_data_framework_spark.store import OhlcvStore

        n_series, n_days, self.sf = SIZES[ctx.smoke]
        self.ctx = ctx
        self.query = QUERIES[QUERY]
        self.sf_dir = os.path.join(ctx.work, "fixture")
        self.rng = ctx.rng
        self.n_series, self.n_days = n_series, n_days
        self.root = os.path.join(ctx.work, "ohlcv")
        self.store = OhlcvStore(ctx.spark, self.root)
        self.exchange = FakeExchange(np.random.default_rng(ctx.seed + 1), NOW_M * MINUTE_MS)
        fetch = http_fetch_page(base_url="http://exchange.test", urlopen=self.exchange.urlopen)
        self.loader = CacheOrFetchLoader(
            self.store, PagedKlineSource(fetch, page_size=1000, backoff_s=0.0)
        )
        # store model: first stored bar, frontier (first bar not stored) and
        # open holes [lo, hi) per series
        self.start = NOW_M - 21 * DAY
        self.frontier = [self.start + n_days * DAY] * n_series
        self.holes: list[list[tuple[int, int]]] = [[] for _ in range(n_series)]
        for i in range(n_series):
            for day in (1, 2):  # one hole a day, so a gap fill fetches one range
                lo = self.start + day * DAY + int(self.rng.integers(0, DAY - 120))
                self.holes[i].append((lo, lo + int(self.rng.integers(10, 121))))
        ranks = 1.0 / np.arange(1, n_series + 1) ** 1.1
        self.sym_p = (ranks / ranks.sum())[self.rng.permutation(n_series)]
        self.slot = 0

    def store_roots(self) -> list[str]:
        return [self.root]

    # -- setup -----------------------------------------------------------
    def setup(self) -> None:
        from pyspark.sql import functions as F

        with self.ctx.phase("seed"):
            nb = self.n_days * DAY
            i, m = F.col("i"), F.col("m")
            df = self.ctx.spark.range(self.n_series * nb).select(
                (F.col("id") / nb).cast("int").alias("i"),
                (F.col("id") % nb + self.start).alias("m"),
            )
            for s, hs in enumerate(self.holes):
                for lo, hi in hs:
                    df = df.where(~((i == s) & (m >= lo) & (m < hi)))
            cc = (F.lit(10_000) + i * 100 + (m * 7919 + i * 104_729) % 10_007) / 100.0
            df = df.select(
                F.timestamp_seconds(m * 60).alias("ts"),
                F.concat(F.lit("S"), F.lpad(i.cast("string"), 2, "0"), F.lit("USDT")).alias("symbol"),
                F.lit("1m").alias("timeframe"),
                (cc - 0.5).alias("open"),
                (cc + 1.0).alias("high"),
                (cc - 1.0).alias("low"),
                cc.alias("close"),
                (m % 97 + 1).cast("double").alias("volume"),
            )
            self.store.save_many(df)
            write_events(self.sf_dir, self.sf)
        with self.ctx.phase("warmup"):
            for kind in "HMQ":
                op = self._op(kind)
                op.check(op.run())
        self.exchange.pages = self.exchange.rate_limited = 0

    # -- requests ----------------------------------------------------------
    def _sym(self) -> int:
        return int(self.rng.choice(self.n_series, p=self.sym_p))

    def _recent_day(self, i: int) -> int:
        last = (self.frontier[i] - self.start) // DAY - 1  # last fully stored day
        back = min(int(self.rng.geometric(0.25)) - 1, last)
        return self.start + (last - back) * DAY

    def _present(self, i: int, lo: int, hi: int) -> np.ndarray:
        m = np.arange(lo, hi + 1)
        keep = (m >= self.start) & (m < self.frontier[i])
        for a, b in self.holes[i]:
            keep &= ~((m >= a) & (m < b))
        return m[keep]

    def _fill(self, i: int, lo: int, hi: int) -> None:
        """Bars lo..hi are now stored: extend the frontier, shrink holes."""
        if lo <= self.frontier[i] <= hi + 1:
            self.frontier[i] = hi + 1
        left = [(a, min(b, lo)) for a, b in self.holes[i] if a < lo]
        right = [(max(a, hi + 1), b) for a, b in self.holes[i] if b > hi + 1]
        self.holes[i] = [(a, b) for a, b in left + right if a < b]

    def next_op(self):
        kind = PATTERN[self.slot % len(PATTERN)]
        self.slot += 1
        return self._op(kind)

    def at_boundary(self) -> bool:
        return self.slot % len(PATTERN) == 0

    def _op(self, kind: str):
        if kind == "Q":
            return Op("query", self._run_query, bool, label=QUERY)
        i = self._sym()
        sym = symbol(i)
        if kind == "M":
            f = self.frontier[i]
            lo = f - 6 * 60
            hi = min(f + int(self.rng.integers(1, 7)) * 60, NOW_M - 1) - 1
            start, end = _window(lo, hi)
            self._fill(i, lo, hi)
            bars = self._present(i, lo, hi)
            return Op("miss", lambda: self._collect(self.loader.load(sym, "1m", start, end, now=NOW)), bars_check(i, bars))
        if kind == "I":
            holed = [s for s in range(self.n_series) if self.holes[s]]
            if holed:
                i = holed[int(self.rng.integers(0, len(holed)))]
                sym = symbol(i)
                d = self.start + (self.holes[i][0][0] - self.start) // DAY * DAY
            else:
                d = self._recent_day(i)
            start, end = _window(d, d + DAY - 1)
            self._fill(i, d, d + DAY - 1)
            bars = self._present(i, d, d + DAY - 1)
            return Op(
                "incremental",
                lambda: self._collect(self.loader.load_incremental(sym, "1m", start, end, now=NOW)),
                bars_check(i, bars),
            )
        d = self._recent_day(i)
        start, end = _window(d, d + DAY - 1)
        bars = self._present(i, d, d + DAY - 1)
        if kind == "R":
            tf = "1h" if self.rng.random() < 0.5 else "4h"
            width = 60 if tf == "1h" else 240
            last = {}
            for m in bars:  # the close of a bucket is its last bar's close
                last[m // width] = m
            closes = np.array(sorted(last.values()), dtype=np.int64)
            return Op(
                "resample",
                lambda: self._collect(self.loader.load_resampled(sym, tf, start, end, now=NOW)),
                bars_check(i, closes),
            )
        return Op("hit", lambda: self._collect(self.loader.load(sym, "1m", start, end, now=NOW)), bars_check(i, bars))

    def _collect(self, df):
        with self.ctx.span("spark", "execute"):
            return df.collect()

    def _run_query(self) -> bool:
        with self.ctx.span("plans", "construct"):
            df = self.query(self.ctx.spark, self.sf_dir)
        with self.ctx.span("spark", "execute"):
            df.write.format("noop").mode("overwrite").save()
        return True

    def final_check(self, ops) -> list[str]:
        """Compare the flagship query with its DuckDB oracle (column names,
        canonical value multiset)."""
        import duckdb

        from binance_data_framework_spark.plans.registry import ORACLES
        from tools.check_oracles import canon

        got = self.query(self.ctx.spark, self.sf_dir).toPandas()
        con = duckdb.connect()
        try:
            con.execute("SET threads TO 2")
            con.execute(f"CREATE VIEW events AS SELECT * FROM '{self.sf_dir}/events.parquet'")
            want = con.sql(ORACLES[QUERY]).df()
        finally:
            con.close()
        self.checked = [QUERY]
        if sorted(got.columns) != sorted(want.columns) or canon(got) != canon(want):
            return [QUERY]
        return []

    def counters(self) -> dict:
        return {"sources.pages": self.exchange.pages, "sources.retries": self.exchange.rate_limited}


def bars_check(i: int, minutes: np.ndarray):
    """Check collected rows against the bars at `minutes` of series i."""
    want_n = len(minutes)
    want_sum = float(close_cents(i, minutes.astype(np.int64)).sum()) / 100.0

    def check(rows) -> bool:
        got = sum(r["close"] for r in rows)
        return len(rows) == want_n and abs(got - want_sum) <= 1e-6 * max(1, want_n)

    return check
