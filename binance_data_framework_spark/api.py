"""Cache-or-fetch orchestration: the reference's core kernel as a facade.

Reproduces `_get_data` / `_get_resampled_data` (reference
colab_interface.py:343-434) over the Spark-native store + source:

  check_data_exists -> (hit) pushed-down range scan
                    -> (miss) paginated fetch -> upsert -> range scan

plus the resample mode that forces a 1m base series and derives the target
timeframe from bars (colab_interface.py:374-434). Orchestration is
driver-side control flow (it decides *which* plans to run); all data work is
lazy DataFrame plans.
"""

from __future__ import annotations

from datetime import datetime, timezone

from pyspark.sql import DataFrame

from binance_data_framework_spark.operators.ohlcv import resample_bars
from binance_data_framework_spark.sources.rest_klines import PagedKlineSource
from binance_data_framework_spark.store import OhlcvStore


def _utc_ms(d: datetime) -> int:
    """Epoch ms with naive datetimes pinned to UTC (engine convention —
    naive .timestamp() would shift with the process-local timezone)."""
    if d.tzinfo is None:
        d = d.replace(tzinfo=timezone.utc)
    return int(d.timestamp() * 1000)


def _as_utc(d: datetime) -> datetime:
    return d.replace(tzinfo=timezone.utc) if d.tzinfo is None else d.astimezone(timezone.utc)


def _bucket_floor(d: datetime, tf: str) -> datetime:
    """Start of the target bucket containing instant d (UTC calendar for
    '1w'/'1M' — matching Spark's date_trunc week=Monday — fixed stride
    otherwise)."""
    from datetime import timedelta

    from binance_data_framework_spark.functions.timeframes import (
        TIMEFRAME_MS,
        snap_down_ms,
    )

    d = _as_utc(d)
    if tf == "1w":
        day0 = (d - timedelta(days=d.weekday())).date()
        return datetime(day0.year, day0.month, day0.day, tzinfo=timezone.utc)
    if tf == "1M":
        return datetime(d.year, d.month, 1, tzinfo=timezone.utc)
    if tf not in TIMEFRAME_MS:
        raise ValueError(f"unknown timeframe {tf!r}")
    ms = snap_down_ms(int(d.timestamp() * 1000), TIMEFRAME_MS[tf])
    return datetime.fromtimestamp(ms / 1000, tz=timezone.utc)


def _bucket_end(d: datetime, tf: str) -> datetime:
    """Last instant (ms resolution) of the target bucket containing d."""
    from datetime import timedelta

    from binance_data_framework_spark.functions.timeframes import TIMEFRAME_MS

    f = _bucket_floor(d, tf)
    if tf == "1w":
        nxt = f + timedelta(days=7)
    elif tf == "1M":
        nxt = (f + timedelta(days=32)).replace(day=1)
    else:
        nxt = f + timedelta(milliseconds=TIMEFRAME_MS[tf])
    return nxt - timedelta(milliseconds=1)


def _validate_request(symbol: str, start: datetime, end: datetime) -> None:
    """API-layer input validation, raised before any plan is built
    (reference validate_nonempty, database_handler.py:204-207;
    validate_daterange, colab_interface.py:222-225)."""
    if not symbol or not symbol.strip():
        raise ValueError("symbol must be a non-empty string")
    if end < start:
        raise ValueError(f"end date {end} precedes start date {start}")


class CacheOrFetchLoader:
    def __init__(self, store: OhlcvStore, source: PagedKlineSource):
        self.store = store
        self.source = source

    def load(
        self,
        symbol: str,
        timeframe: str,
        start: datetime,
        end: datetime,
        now: datetime | None = None,
    ) -> DataFrame:
        """The cache-or-fetch kernel (colab_interface.py:343-372). A miss
        refetches the whole requested range (reference behavior); the
        gap-antijoin incremental fill is available via operators.coverage."""
        _validate_request(symbol, start, end)
        covered, _ = self.store.check_data_exists(symbol, timeframe, start, end, now=now)
        if not covered:
            fetched = self.source.to_ohlcv(
                self.store.spark, symbol, timeframe, _utc_ms(start), _utc_ms(end)
            )
            # an empty fetch commits nothing: save_data returns after its
            # bounds agg
            self.store.save_data(fetched, symbol, timeframe)
        return self.store.get_data(symbol, timeframe, start, end)

    def load_incremental(
        self,
        symbol: str,
        timeframe: str,
        start: datetime,
        end: datetime,
        now: datetime | None = None,
    ) -> DataFrame:
        """Gap-driven incremental fill — the design the reference planned but
        never implemented (plan.md:79-80; its actual behavior refetches the
        WHOLE range on any partial miss, colab_interface.py:362-372).

        Expected bar timeline = sequence over the BUCKET GRID (origin snapped
        to the first bucket boundary >= start — stored bars are left-edge
        bucket labels, so an unsnapped origin would mark every stored bar
        missing and refetch the whole range every call). Anti-join against
        stored timestamps; collapse missing bars into contiguous ranges with
        a per-DAY sessionize (every window partition is bounded by
        bars-per-day) plus a cross-day stitch over the <=2 boundary ranges
        per day — no window ever sees the full multi-year timeline in one
        task. Only the RANGES reach the driver — that is fetch orchestration
        (one REST call per hole), not data.

        Calendar timeframes ('1w', '1M') are rejected: their buckets are
        calendar-derived (date_trunc), not a fixed-stride grid — derive them
        via load_resampled over a fixed base instead.

        The expected grid is additionally capped at the last CLOSED bucket
        relative to ``now`` (wall clock by default; injectable for tests):
        the in-progress bucket's kline is PARTIAL at fetch time, and storing
        it would freeze a wrong bar forever — once stored, the anti-join
        never marks it missing again. `load` self-heals through the
        coverage freshness escape; the gap-driven path must simply never
        fetch an unfinished bucket."""
        from pyspark.sql import Window
        from pyspark.sql import functions as F

        from binance_data_framework_spark.functions.timeframes import (
            CALENDAR_TFS,
            TIMEFRAME_MS,
            snap_down_ms,
            snap_up_ms,
        )

        _validate_request(symbol, start, end)
        if timeframe in CALENDAR_TFS:
            raise ValueError(
                f"load_incremental needs a fixed-stride timeframe; {timeframe!r} "
                "buckets are calendar-derived — use load_resampled over a fixed base"
            )
        if timeframe not in TIMEFRAME_MS:
            raise ValueError(f"unknown timeframe {timeframe!r}")
        bar_ms = TIMEFRAME_MS[timeframe]
        spark = self.store.spark
        lo = snap_up_ms(_utc_ms(start), bar_ms)  # first grid point >= start
        hi = snap_down_ms(_utc_ms(end), bar_ms)  # last grid point <= end
        now_ms = _utc_ms(now if now is not None else datetime.now(timezone.utc))
        hi = min(hi, snap_down_ms(now_ms, bar_ms) - bar_ms)  # last CLOSED bucket
        if hi < lo:  # request shorter than one bar and off-grid: nothing to fill
            return self.store.get_data(symbol, timeframe, start, end)
        stored = self.store.get_data(symbol, timeframe, start, end).select("ts")
        # spark.range is partition-distributed by construction: a 10-year 1m
        # request is ~5M rows spread across tasks, never one exploded array.
        # A request within OhlcvStore.ONE_TASK_MAX_DAYS builds its grid as
        # ONE partition instead (get_data reads the stored side as one task
        # too): the anti join, the per-day windows, the group-bys and the
        # global stitch window then need no exchange, and the planner is a
        # single job. The merge hint keeps the join off the broadcast path,
        # whose exchange would cost a job of its own.
        one_task = self.store.fits_one_task(
            _as_utc(start).date(), _as_utc(end).date()
        )
        expected = spark.range(
            (hi - lo) // bar_ms + 1, numPartitions=1 if one_task else None
        ).select(F.timestamp_millis(F.lit(lo) + F.col("id") * bar_ms).alias("ts"))
        if one_task:
            stored = stored.hint("merge")
        missing = expected.join(stored, on="ts", how="left_anti").withColumn(
            "_day", F.to_date("ts")
        )
        w_day = Window.partitionBy("_day").orderBy("ts")
        prev_ms = F.lag(F.unix_millis("ts")).over(w_day)
        day_ranges = (
            missing.withColumn(
                "_new",
                F.when(
                    prev_ms.isNull() | (F.unix_millis("ts") - prev_ms > bar_ms), 1
                ).otherwise(0),
            )
            .withColumn(
                "_rid",
                F.sum("_new").over(w_day.rowsBetween(Window.unboundedPreceding, 0)),
            )
            .groupBy("_day", "_rid")
            .agg(F.min("ts").alias("r_start"), F.max("ts").alias("r_end"))
        )
        # Ranges interior to a day cannot merge across days (a present bar
        # separates them from the day edge); only each day's first/last range
        # enters the global stitch window — <=2 rows per day, provably tiny.
        wd = Window.partitionBy("_day")
        day_ranges = day_ranges.withColumn(
            "_lo", F.min("r_start").over(wd)
        ).withColumn("_hi", F.max("r_end").over(wd))
        interior = day_ranges.where(
            (F.col("r_start") != F.col("_lo")) & (F.col("r_end") != F.col("_hi"))
        ).select("r_start", "r_end")
        boundary = day_ranges.where(
            (F.col("r_start") == F.col("_lo")) | (F.col("r_end") == F.col("_hi"))
        )
        wg = Window.orderBy("r_start")
        prev_end = F.lag(F.unix_millis("r_end")).over(wg)
        stitched = (
            boundary.withColumn(
                "_new",
                F.when(
                    prev_end.isNull() | (F.unix_millis("r_start") - prev_end > bar_ms),
                    1,
                ).otherwise(0),
            )
            .withColumn(
                "_gid",
                F.sum("_new").over(wg.rowsBetween(Window.unboundedPreceding, 0)),
            )
            .groupBy("_gid")
            .agg(F.min("r_start").alias("r_start"), F.max("r_end").alias("r_end"))
            .select("r_start", "r_end")
        )
        # Collect the fetch ranges as epoch ms, not timestamps: a collected
        # TimestampType is a naive datetime in the PROCESS-local tz, and
        # re-pinning it UTC on a non-UTC driver would shift every fetch
        # window by the UTC offset (holes never fill, refetch every call).
        ranges = sorted(
            interior.unionByName(stitched)
            .select(
                F.unix_millis("r_start").alias("r_start_ms"),
                F.unix_millis("r_end").alias("r_end_ms"),
            )
            .collect(),
            key=lambda r: r["r_start_ms"],
        )
        for r in ranges:
            fetched = self.source.to_ohlcv(
                spark, symbol, timeframe, r["r_start_ms"], r["r_end_ms"]
            )
            self.store.save_data(fetched, symbol, timeframe)
        return self.store.get_data(symbol, timeframe, start, end)

    def load_many(
        self,
        symbols: list[str],
        timeframe: str,
        start: datetime,
        end: datetime,
        now: datetime | None = None,
        max_workers: int = 8,
    ) -> DataFrame:
        """Bulk load (reference UI per-click symbol loop,
        colab_interface.py:228-243): each symbol runs the cache-or-fetch
        kernel CONCURRENTLY via a driver thread pool — Spark schedules jobs
        submitted from multiple threads independently, so the coverage
        probes, REST fetches, and upsert writes of different symbols
        interleave and a 50-symbol backfill costs ~the slowest symbol, not
        the sum (the reference's loop is strictly sequential). Safe because
        the store's manifest commit rebase-serializes concurrent
        different-series writers (store._commit_lock); for executor-parallel
        paging WITHIN one symbol's range, the `binance_klines` DataSource is
        the complementary path (sources/kline_datasource.py).

        Results union into ONE DataFrame with the symbol column (SURVEY
        §1.4 — the reference's dict[symbol -> DataFrame] becomes a
        filterable column)."""
        from concurrent.futures import ThreadPoolExecutor

        if not symbols:
            raise ValueError("symbols must be a non-empty list")
        # dedupe (order-preserving): a repeated symbol would race two
        # same-series writers — silent duplicate rows on a cold store (both
        # merge against the empty snapshot, so the conflict check can't
        # fire) — and duplicate every row in the returned union
        symbols = list(dict.fromkeys(symbols))
        with ThreadPoolExecutor(max_workers=min(max_workers, len(symbols))) as pool:
            futures = [
                pool.submit(self.load, sym, timeframe, start, end, now=now)
                for sym in symbols
            ]
            frames = [f.result() for f in futures]
        out = frames[0]
        for df in frames[1:]:
            out = out.unionByName(df)
        return out

    def load_resampled(
        self,
        symbol: str,
        target_timeframe: str,
        start: datetime,
        end: datetime,
        base_timeframe: str = "1m",
        now: datetime | None = None,
    ) -> DataFrame:
        """Resample mode (colab_interface.py:374-434): load the base series
        through the cache kernel, then derive target bars from base bars.

        The base fetch window is EXPANDED to target-bucket boundaries
        (floor(start), end-of-bucket(end)): aggregating only base bars
        inside [start, end] would build the boundary buckets from partial
        data — a "daily" bar whose open is the 12:00 base bar — yet label
        them indistinguishably from complete bars. Every returned bucket
        intersecting [start, end] is built from its full base range."""
        from pyspark.sql import functions as F

        base = self.load(
            symbol,
            base_timeframe,
            _bucket_floor(start, target_timeframe),
            _bucket_end(end, target_timeframe),
            now=now,
        )
        bars = base.select(
            "symbol",
            base["ts"].alias("bucket"),
            "open",
            "high",
            "low",
            "close",
            "volume",
            F.lit(1).cast("long").alias("n_ticks"),
        )
        out = resample_bars(bars, target_timeframe)
        return out.drop("n_ticks").na.drop(subset=["open", "close"])
