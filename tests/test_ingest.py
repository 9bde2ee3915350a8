"""Ingestion connector + cache-or-fetch facade (reference parity:
pagination/backoff, cast pipeline, cache routing)."""

from __future__ import annotations

from datetime import datetime, timedelta, timezone

import pytest

from binance_data_framework_spark.api import CacheOrFetchLoader
from binance_data_framework_spark.sources.rest_klines import (
    PagedKlineSource,
    RateLimitError,
)
from binance_data_framework_spark.store import OhlcvStore

HOUR_MS = 3_600_000
T0_MS = 1_704_067_200_000  # 2024-01-01T00:00:00Z


def fake_exchange(n_bars: int = 100):
    """Deterministic kline pages shaped like the reference API
    (api_connector.py:289-291): 12 string/long fields per row."""
    calls = {"n": 0}

    def fetch(symbol, interval, start_ms, end_ms, limit):
        calls["n"] += 1
        out = []
        t = start_ms - (start_ms - T0_MS) % HOUR_MS
        if t < start_ms:
            t += HOUR_MS
        while t <= end_ms and len(out) < limit:
            i = (t - T0_MS) // HOUR_MS
            if i >= n_bars:
                break
            px = 100.0 + i
            out.append(
                [
                    t,
                    str(px),
                    str(px + 1),
                    str(px - 1),
                    str(px + 0.5),
                    str(10.0 * (i + 1)),
                    t + HOUR_MS - 1,
                    "0",
                    5,
                    "0",
                    "0",
                    "0",
                ]
            )
            t += HOUR_MS
        return out

    return fetch, calls


def test_pagination_cursor(spark):
    fetch, calls = fake_exchange(n_bars=25)
    src = PagedKlineSource(fetch, page_size=10)
    rows = src.fetch_range("BTCUSDT", "1h", T0_MS, T0_MS + 24 * HOUR_MS)
    assert len(rows) == 25
    assert calls["n"] == 3  # 10 + 10 + 5
    # strictly increasing cursor, no duplicate timestamps
    ts = [r[0] for r in rows]
    assert ts == sorted(set(ts))


def test_rate_limit_backoff_then_success(spark):
    fetch, _ = fake_exchange(n_bars=5)
    state = {"fails": 2}

    def flaky(*args):
        if state["fails"] > 0:
            state["fails"] -= 1
            raise RateLimitError("Too much request weight used")
        return fetch(*args)

    src = PagedKlineSource(flaky, page_size=10, max_retries=3)
    rows = src.fetch_range("BTCUSDT", "1h", T0_MS, T0_MS + 4 * HOUR_MS)
    assert len(rows) == 5


def test_rate_limit_exhausts_retries(spark):
    def always_limited(*args):
        raise RateLimitError("Too much request weight used")

    src = PagedKlineSource(always_limited, page_size=10, max_retries=1)
    with pytest.raises(RateLimitError):
        src.fetch_range("BTCUSDT", "1h", T0_MS, T0_MS + HOUR_MS)


def test_to_ohlcv_casts(spark):
    fetch, _ = fake_exchange(n_bars=3)
    src = PagedKlineSource(fetch, page_size=10)
    df = src.to_ohlcv(spark, "BTCUSDT", "1h", T0_MS, T0_MS + 2 * HOUR_MS)
    rows = df.orderBy("ts").collect()
    assert [c for c in df.columns] == ["ts", "open", "high", "low", "close", "volume"]
    assert rows[0]["ts"] == datetime(2024, 1, 1, 0, 0)
    assert rows[0]["open"] == 100.0 and isinstance(rows[0]["open"], float)


def test_cache_or_fetch_routing(spark, tmp_path):
    fetch, calls = fake_exchange(n_bars=48)
    store = OhlcvStore(spark, str(tmp_path / "store"))
    loader = CacheOrFetchLoader(store, PagedKlineSource(fetch, page_size=1000))
    start = datetime(2024, 1, 1, tzinfo=timezone.utc)
    end = datetime(2024, 1, 1, 23, tzinfo=timezone.utc)
    now = datetime(2025, 1, 1, tzinfo=timezone.utc)

    out1 = loader.load("BTCUSDT", "1h", start, end, now=now)
    assert out1.count() == 24
    n_after_first = calls["n"]
    assert n_after_first >= 1

    # second identical load: cache hit, no new API calls
    out2 = loader.load("BTCUSDT", "1h", start, end, now=now)
    assert out2.count() == 24
    assert calls["n"] == n_after_first


def test_empty_fetch_commits_nothing(spark, tmp_path):
    """A fetch that returns no rows commits nothing (save_data returns
    after its bounds agg on an empty batch), and the loaders still return
    the stored rows."""
    fetch, _ = fake_exchange(n_bars=24)
    store = OhlcvStore(spark, str(tmp_path / "store_empty"))
    start = datetime(2024, 1, 1, tzinfo=timezone.utc)
    end = datetime(2024, 1, 1, 23, tzinfo=timezone.utc)
    now = datetime(2025, 1, 1, tzinfo=timezone.utc)
    CacheOrFetchLoader(store, PagedKlineSource(fetch, page_size=1000)).load(
        "BTCUSDT", "1h", start, end, now=now
    )
    versions = store.snapshot_versions()

    empty = CacheOrFetchLoader(store, PagedKlineSource(lambda *a: [], page_size=1000))
    wider = end + timedelta(days=1)  # not covered: both loaders fetch
    assert empty.load("BTCUSDT", "1h", start, wider, now=now).count() == 24
    assert empty.load_incremental("BTCUSDT", "1h", start, wider, now=now).count() == 24
    assert store.snapshot_versions() == versions


def test_incremental_gap_fill(spark, tmp_path):
    """load_incremental fetches ONLY the missing ranges (plan.md:79-80
    design), not the whole range like load() does on a partial miss."""
    fetch, calls = fake_exchange(n_bars=30)
    store = OhlcvStore(spark, str(tmp_path / "store_inc"))
    loader = CacheOrFetchLoader(store, PagedKlineSource(fetch, page_size=1000))
    t0 = datetime(2024, 1, 1, tzinfo=timezone.utc)

    # seed hours 0-9 and 20-29; hole at 10-19
    loader.load("BTCUSDT", "1h", t0, t0 + timedelta(hours=9), now=t0)
    loader.load(
        "BTCUSDT", "1h", t0 + timedelta(hours=20), t0 + timedelta(hours=29), now=t0
    )
    n_before = calls["n"]

    out = loader.load_incremental("BTCUSDT", "1h", t0, t0 + timedelta(hours=29))
    assert out.count() == 30
    assert calls["n"] == n_before + 1  # exactly one fetch, for the one hole
    # idempotent: nothing missing now, no further fetches
    out2 = loader.load_incremental("BTCUSDT", "1h", t0, t0 + timedelta(hours=29))
    assert out2.count() == 30 and calls["n"] == n_before + 1


def test_streaming_upsert_sink(spark, tmp_path):
    import pandas as pd

    from binance_data_framework_spark.streaming.incremental import stream_to_store

    src = tmp_path / "stream_src"
    src.mkdir()
    rows = [
        (datetime(2024, 1, 1, h), 1.0 * h, 2.0 * h, 0.5 * h, 1.5 * h, 10.0)
        for h in range(6)
    ]
    pdf = pd.DataFrame(rows, columns=["ts", "open", "high", "low", "close", "volume"])
    pdf["ts"] = pdf["ts"].astype("datetime64[us]")
    pdf.to_parquet(f"{src}/part0.parquet", index=False)

    store = OhlcvStore(spark, str(tmp_path / "store_stream"))
    stream = spark.readStream.schema(
        "ts timestamp, open double, high double, low double, close double, volume double"
    ).parquet(str(src))
    q = stream_to_store(stream, store, "BTCUSDT", "1h", str(tmp_path / "ckpt"))
    q.awaitTermination(120)
    assert store.get_data("BTCUSDT", "1h").count() == 6


def test_request_validation(spark, tmp_path):
    import pytest

    fetch, _ = fake_exchange(n_bars=4)
    loader = CacheOrFetchLoader(
        OhlcvStore(spark, str(tmp_path / "store_v")), PagedKlineSource(fetch)
    )
    t0 = datetime(2024, 1, 2, tzinfo=timezone.utc)
    with pytest.raises(ValueError, match="non-empty"):
        loader.load("  ", "1h", t0, t0)
    with pytest.raises(ValueError, match="precedes"):
        loader.load("BTCUSDT", "1h", t0, datetime(2024, 1, 1, tzinfo=timezone.utc))


def test_incremental_snaps_to_bucket_grid(spark, tmp_path):
    """An off-grid request start must not mark every stored bar missing:
    the expected timeline snaps to bucket boundaries, so a fully-covered
    range triggers zero fetches even when start is mid-bar."""
    fetch, calls = fake_exchange(n_bars=30)
    store = OhlcvStore(spark, str(tmp_path / "store_snap"))
    loader = CacheOrFetchLoader(store, PagedKlineSource(fetch, page_size=1000))
    t0 = datetime(2024, 1, 1, tzinfo=timezone.utc)
    loader.load("BTCUSDT", "1h", t0, t0 + timedelta(hours=9), now=t0)
    n = calls["n"]
    out = loader.load_incremental(
        "BTCUSDT", "1h", t0 + timedelta(minutes=30), t0 + timedelta(hours=9)
    )
    assert calls["n"] == n  # no refetch: grid bars 1..9 are all stored
    assert out.count() == 9  # hours 1..9 (hour 0 precedes the 00:30 start)


def test_incremental_never_fetches_open_bucket(spark, tmp_path):
    """The expected grid is capped at the last CLOSED bucket relative to
    `now`: the in-progress bucket's kline is partial at fetch time, and
    storing it would freeze a wrong bar forever (the anti-join would never
    mark it missing again) — code-review r4 finding."""
    fetch, _ = fake_exchange(n_bars=100)
    store = OhlcvStore(spark, str(tmp_path / "store_open"))
    loader = CacheOrFetchLoader(store, PagedKlineSource(fetch, page_size=1000))
    t0 = datetime(2024, 1, 1, tzinfo=timezone.utc)
    out = loader.load_incremental(
        "BTCUSDT",
        "1h",
        t0,
        t0 + timedelta(hours=9),
        now=t0 + timedelta(hours=2, minutes=30),  # bucket 02:00 still open
    )
    assert out.count() == 2  # hours 0,1 only; the open bucket never lands
    out2 = loader.load_incremental(
        "BTCUSDT", "1h", t0, t0 + timedelta(hours=9), now=t0 + timedelta(hours=20)
    )
    assert out2.count() == 10  # once closed, the gap fills on the next call


def test_load_many_dedupes_symbols(spark, tmp_path):
    """A repeated symbol must not race two same-series writers on a cold
    store (silent duplicate rows — both merge against the empty snapshot so
    the conflict check can't fire) nor duplicate rows in the union."""
    fetch, _ = fake_exchange(n_bars=12)
    store = OhlcvStore(spark, str(tmp_path / "store_dup"))
    loader = CacheOrFetchLoader(store, PagedKlineSource(fetch, page_size=1000))
    t0 = datetime(2024, 1, 1, tzinfo=timezone.utc)
    out = loader.load_many(
        ["BTCUSDT", "BTCUSDT"], "1h", t0, t0 + timedelta(hours=9), now=t0
    )
    assert out.count() == 10
    assert store.get_data("BTCUSDT", "1h").count() == 10


def test_load_resampled_boundary_buckets_complete(spark, tmp_path):
    """Boundary target buckets aggregate their FULL base range: a mid-bucket
    request start must not yield a partial bar labeled like a complete one
    (the base fetch window expands to target-bucket boundaries on both
    ends) — code-review r4 finding."""
    fetch, _ = fake_exchange(n_bars=48)
    store = OhlcvStore(spark, str(tmp_path / "store_rs"))
    loader = CacheOrFetchLoader(store, PagedKlineSource(fetch, page_size=1000))
    t0 = datetime(2024, 1, 1, tzinfo=timezone.utc)
    out = (
        loader.load_resampled(
            "BTCUSDT",
            "4h",
            t0 + timedelta(hours=2),  # mid-bucket start
            t0 + timedelta(hours=9),  # mid-bucket end
            base_timeframe="1h",
            now=t0,
        )
        .orderBy("bucket")
        .collect()
    )
    assert [r["bucket"] for r in out] == [
        datetime(2024, 1, 1, 0),
        datetime(2024, 1, 1, 4),
        datetime(2024, 1, 1, 8),
    ]
    assert out[0]["open"] == 100.0  # hour-0 open, not hour-2's
    assert out[0]["high"] == 104.0  # max high over hours 0..3
    assert out[2]["close"] == 111.5  # hour-11 close: end side completed too


def test_incremental_rejects_calendar_timeframes(spark, tmp_path):
    fetch, _ = fake_exchange(n_bars=5)
    loader = CacheOrFetchLoader(
        OhlcvStore(spark, str(tmp_path / "store_cal")), PagedKlineSource(fetch)
    )
    t0 = datetime(2024, 1, 1, tzinfo=timezone.utc)
    for tf in ("1w", "1M"):
        with pytest.raises(ValueError, match="calendar"):
            loader.load_incremental("BTCUSDT", tf, t0, t0 + timedelta(days=30))


def test_incremental_hole_spanning_days(spark, tmp_path):
    """A hole crossing a day boundary must stitch into ONE fetch range
    (the sessionize runs per day; the cross-day stitch merges edges)."""
    fetch, calls = fake_exchange(n_bars=72)
    store = OhlcvStore(spark, str(tmp_path / "store_span"))
    loader = CacheOrFetchLoader(store, PagedKlineSource(fetch, page_size=1000))
    t0 = datetime(2024, 1, 1, tzinfo=timezone.utc)
    # seed hours 0-19 and 30-71: hole = hours 20-29, spanning the midnight
    # boundary between Jan 1 (hours 20-23) and Jan 2 (hours 24-29)
    loader.load("BTCUSDT", "1h", t0, t0 + timedelta(hours=19), now=t0)
    loader.load(
        "BTCUSDT", "1h", t0 + timedelta(hours=30), t0 + timedelta(hours=71), now=t0
    )
    n = calls["n"]
    out = loader.load_incremental("BTCUSDT", "1h", t0, t0 + timedelta(hours=71))
    assert out.count() == 72
    assert calls["n"] == n + 1  # ONE fetch for the one cross-day hole


def _fake_urlopen_factory(pages_by_start, rate_limit_hits=0):
    """Context-manager-compatible urlopen fake replaying recorded JSON pages
    keyed by startTime; optionally fails the first N calls with HTTP 429."""
    import io
    import json
    import urllib.error
    from contextlib import contextmanager
    from urllib.parse import parse_qs, urlparse

    calls = {"n": 0, "urls": []}

    @contextmanager
    def fake_urlopen(url, timeout=None):
        calls["n"] += 1
        calls["urls"].append(url)
        if calls["n"] <= rate_limit_hits:
            raise urllib.error.HTTPError(url, 429, "Too Many Requests", {}, io.BytesIO())
        qs = parse_qs(urlparse(url).query)
        start = int(qs["startTime"][0])
        body = json.dumps(pages_by_start.get(start, [])).encode()
        yield io.BytesIO(body)

    return fake_urlopen, calls


def _kline_row(ts_ms, px):
    return [ts_ms, str(px), str(px + 1), str(px - 1), str(px), "10.0",
            ts_ms + 3_599_999, "0", 1, "0", "0", "0"]


def test_http_fetch_page_pagination(spark):
    """http_fetch_page + PagedKlineSource against recorded fixtures: cursor
    pagination resumes at last ts + 1 and query params mirror the reference
    client's (api_connector.py:251-257)."""
    from binance_data_framework_spark.sources.rest_klines import (
        PagedKlineSource,
        http_fetch_page,
    )

    h = 3_600_000
    t0 = 1_704_067_200_000  # 2024-01-01T00:00Z
    pages = {
        t0: [_kline_row(t0 + i * h, 100 + i) for i in range(2)],  # full page (size 2)
        t0 + h + 1: [_kline_row(t0 + 2 * h, 102)],  # short page -> stop
    }
    fake, calls = _fake_urlopen_factory(pages)
    src = PagedKlineSource(http_fetch_page(urlopen=fake), page_size=2)
    out = src.to_ohlcv(spark, "BTCUSDT", "1h", t0, t0 + 3 * h)
    assert out.count() == 3
    assert calls["n"] == 2
    assert "symbol=BTCUSDT" in calls["urls"][0] and "interval=1h" in calls["urls"][0]
    assert f"startTime={t0 + h + 1}" in calls["urls"][1]  # cursor = last ts + 1


def test_http_fetch_page_rate_limit_backoff(spark):
    """HTTP 429 -> RateLimitError -> bounded retry; exhausting retries
    re-raises (reference 60s-stall semantics, api_connector.py:271-276)."""
    import pytest as _pytest

    from binance_data_framework_spark.sources.rest_klines import (
        PagedKlineSource,
        RateLimitError,
        http_fetch_page,
    )

    h = 3_600_000
    t0 = 1_704_067_200_000
    pages = {t0: [_kline_row(t0, 100)]}

    fake, calls = _fake_urlopen_factory(pages, rate_limit_hits=2)
    src = PagedKlineSource(http_fetch_page(urlopen=fake), page_size=1000, max_retries=3)
    assert len(src.fetch_range("BTCUSDT", "1h", t0, t0 + h)) == 1
    assert calls["n"] == 3  # 2 rate-limited + 1 success

    fake2, _ = _fake_urlopen_factory(pages, rate_limit_hits=10)
    src2 = PagedKlineSource(http_fetch_page(urlopen=fake2), max_retries=1)
    with _pytest.raises(RateLimitError):
        src2.fetch_range("BTCUSDT", "1h", t0, t0 + h)


def test_load_many_unions_symbols(spark, tmp_path):
    """Bulk load: one DataFrame with the symbol column, one cache-or-fetch
    pass per symbol (reference UI loop, colab_interface.py:228-243)."""
    fetch, calls = fake_exchange(n_bars=6)
    loader = CacheOrFetchLoader(
        OhlcvStore(spark, str(tmp_path / "store_many")), PagedKlineSource(fetch)
    )
    t0 = datetime(2024, 1, 1, tzinfo=timezone.utc)
    out = loader.load_many(["BTCUSDT", "ETHUSDT"], "1h", t0, t0 + timedelta(hours=5), now=t0)
    rows = out.groupBy("symbol").count().collect()
    assert {r["symbol"]: r["count"] for r in rows} == {"BTCUSDT": 6, "ETHUSDT": 6}
    with pytest.raises(ValueError):
        loader.load_many([], "1h", t0, t0 + timedelta(hours=5))


def test_http_exchange_info_fixture(spark):
    from binance_data_framework_spark.sources.rest_klines import (
        http_fetch_exchange_info,
    )
    import io
    import json
    from contextlib import contextmanager

    payload = {
        "symbols": [
            {"symbol": "BTCUSDT", "status": "TRADING"},
            {"symbol": "ETHBTC", "status": "TRADING"},
            {"symbol": "OLDUSDT", "status": "BREAK"},
        ]
    }

    @contextmanager
    def fake(url, timeout=None):
        assert url.endswith("/api/v3/exchangeInfo")
        yield io.BytesIO(json.dumps(payload).encode())

    info = http_fetch_exchange_info(urlopen=fake)
    dim = spark.createDataFrame(info["symbols"])
    from pyspark.sql import functions as F

    usdt = dim.filter(
        F.col("symbol").endswith("USDT") & (F.col("status") == "TRADING")
    )
    assert [r["symbol"] for r in usdt.collect()] == ["BTCUSDT"]


def test_sqlite_migration_roundtrip(spark, tmp_path):
    """Migrating a reference-schema SQLite cache moves every series into the
    store with values intact, is idempotent, and batches the cursor read."""
    import sqlite3

    from pyspark.sql import functions as F

    from binance_data_framework_spark.sources.sqlite_migrate import (
        list_series,
        migrate_sqlite,
    )

    db = str(tmp_path / "reference_cache.db")
    conn = sqlite3.connect(db)
    conn.execute(
        "CREATE TABLE ohlcv_data (timestamp INTEGER, symbol TEXT, timeframe TEXT,"
        " open REAL, high REAL, low REAL, close REAL, volume REAL,"
        " PRIMARY KEY (timestamp, symbol, timeframe))"
    )
    t0_ms = 1_704_067_200_000  # 2024-01-01T00:00Z
    h = 3_600_000
    rows = [
        (t0_ms + i * h, "BTCUSDT", "1h", 100.0 + i, 101.0 + i, 99.0 + i, 100.5 + i, 10.0)
        for i in range(30)
    ] + [(t0_ms, "ETHUSDT", "4h", 5.0, 6.0, 4.0, 5.5, 1.0)]
    conn.executemany("INSERT INTO ohlcv_data VALUES (?,?,?,?,?,?,?,?)", rows)
    conn.commit()
    conn.close()

    assert list_series(db) == [("BTCUSDT", "1h"), ("ETHUSDT", "4h")]
    store = OhlcvStore(spark, str(tmp_path / "migrated"))
    done = migrate_sqlite(spark, store, db, batch_rows=7)  # force multiple batches
    assert done == {("BTCUSDT", "1h"): 30, ("ETHUSDT", "4h"): 1}
    btc = store.get_data("BTCUSDT", "1h")
    assert btc.count() == 30
    first = btc.select(F.unix_millis("ts").alias("ms"), "open").orderBy("ms").first()
    assert (first["ms"], first["open"]) == (t0_ms, 100.0)
    # idempotent re-run: same totals, no duplicates
    migrate_sqlite(spark, store, db, batch_rows=7)
    assert store.get_data("BTCUSDT", "1h").count() == 30


def test_kline_datasource_executor_parallel(spark):
    """spark.read.format('binance_klines'): the range splits into one input
    partition per chunk (executor-parallel ingest), the union over chunks is
    exactly the bucket grid, and output is partitioning-invariant."""
    from binance_data_framework_spark.sources.kline_datasource import (
        BinanceKlinesDataSource,
    )

    spark.dataSource.register(BinanceKlinesDataSource)
    t0_ms = 1_704_067_200_000  # 2024-01-01T00:00Z
    h = 3_600_000

    def rd(chunk_bars):
        return (
            spark.read.format("binance_klines")
            .option("symbol", "BTCUSDT")
            .option("interval", "1h")
            .option("start_ms", t0_ms)
            .option("end_ms", t0_ms + 99 * h)
            .option("chunk_bars", chunk_bars)
            .option("mode", "fixture")
            .load()
        )

    df = rd(chunk_bars=16)
    assert df.rdd.getNumPartitions() == 7  # ceil(100 bars / 16)
    assert df.count() == 100
    small = {(r["ts"], r["open"]) for r in df.collect()}
    one_shot = {(r["ts"], r["open"]) for r in rd(chunk_bars=100_000).collect()}
    assert small == one_shot  # chunking never changes the data
    # grid snap: off-grid request bounds shrink to the contained grid points
    snapped = (
        spark.read.format("binance_klines")
        .option("symbol", "BTCUSDT")
        .option("interval", "1h")
        .option("start_ms", t0_ms + 1800_000)  # 00:30 -> first bar 01:00
        .option("end_ms", t0_ms + 5 * h + 1)  # -> last bar 05:00
        .option("chunk_bars", 10)
        .option("mode", "fixture")
        .load()
    )
    assert snapped.count() == 5


def test_kline_datasource_streaming_tail(spark, tmp_path):
    """readStream.format('binance_klines'): micro-batches advance the bucket
    cursor, emit only FINALIZED bars (the last, still-open bucket is never
    emitted), and stop at the configured end."""
    from binance_data_framework_spark.sources.kline_datasource import (
        BinanceKlinesDataSource,
    )

    spark.dataSource.register(BinanceKlinesDataSource)
    t0_ms = 1_704_067_200_000
    h = 3_600_000
    stream = (
        spark.readStream.format("binance_klines")
        .option("symbol", "BTCUSDT")
        .option("interval", "1h")
        .option("start_ms", t0_ms)
        .option("end_ms", t0_ms + 10 * h)  # fixture "now"
        .option("bars_per_batch", 4)
        .option("mode", "fixture")
        .load()
    )
    import time as _time

    q = (
        stream.writeStream.format("memory")
        .queryName("kline_tail")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    try:
        # fixture "now" = t0+10h: bucket t0+9h closes AT t0+10h, so exactly
        # bars t0..t0+9h (10 bars) finalize; the cursor then drains
        deadline = _time.time() + 120
        while _time.time() < deadline:
            if spark.sql("SELECT count(*) AS n FROM kline_tail").first()["n"] >= 10:
                break
            _time.sleep(0.5)
        _time.sleep(2)  # extra batches must emit nothing further
        rows = spark.sql("SELECT * FROM kline_tail ORDER BY ts").collect()
    finally:
        q.stop()
    assert len(rows) == 10
    assert rows[0]["ts"].replace(tzinfo=None).isoformat() == "2024-01-01T00:00:00"
    assert rows[-1]["ts"].replace(tzinfo=None).isoformat() == "2024-01-01T09:00:00"


def test_stream_kline_source_to_store_end_to_end(spark, tmp_path):
    """The full live-ingest path: binance_klines stream reader (finalized
    bars only) -> foreachBatch upsert sink -> store; stored series equals
    the finalized bucket grid, idempotently."""
    import time as _time

    from pyspark.sql import functions as F

    from binance_data_framework_spark.sources.kline_datasource import (
        BinanceKlinesDataSource,
    )
    from binance_data_framework_spark.streaming.incremental import stream_to_store

    spark.dataSource.register(BinanceKlinesDataSource)
    t0_ms = 1_704_067_200_000
    h = 3_600_000
    stream = (
        spark.readStream.format("binance_klines")
        .option("symbol", "BTCUSDT")
        .option("interval", "1h")
        .option("start_ms", t0_ms)
        .option("end_ms", t0_ms + 8 * h)  # fixture "now": bars 0..7 finalize
        .option("bars_per_batch", 3)
        .option("mode", "fixture")
        .load()
        .select("ts", "open", "high", "low", "close", "volume")
    )
    store = OhlcvStore(spark, str(tmp_path / "live_store"))
    q = stream_to_store(
        stream,
        store,
        "BTCUSDT",
        "1h",
        str(tmp_path / "live_ckpt"),
        trigger_available_now=False,
    )
    try:
        deadline = _time.time() + 120
        while _time.time() < deadline:
            # snapshot-manifest commits: reads concurrent with micro-batch
            # upserts are safe by design — no error tolerance needed here
            if store._exists() and store.get_data("BTCUSDT", "1h").count() >= 8:
                break
            _time.sleep(0.5)
        _time.sleep(2)
    finally:
        q.stop()
    out = store.get_data("BTCUSDT", "1h")
    assert out.count() == 8  # bars t0..t0+7h; the still-open t0+8h bucket never lands
    # fixture purity regression: stream-ingested bars (three micro-batches,
    # each a fresh reader) must be bit-identical to ONE batch read of the
    # same range — the bar value derives from the absolute bucket index,
    # never the reader's start offset
    batch = (
        spark.read.format("binance_klines")
        .option("symbol", "BTCUSDT")
        .option("interval", "1h")
        .option("start_ms", t0_ms)
        .option("end_ms", t0_ms + 7 * h)
        .option("mode", "fixture")
        .load()
    )
    got = {(r["ts"], r["open"], r["volume"]) for r in out.select("ts", "open", "volume").collect()}
    exp = {(r["ts"], r["open"], r["volume"]) for r in batch.select("ts", "open", "volume").collect()}
    assert got == exp
    first = out.select(F.unix_millis("ts").alias("ms"), "open").orderBy("ms").first()
    assert (first["ms"], first["open"]) == (t0_ms, 100.0 + (t0_ms // h) % 50)


def test_stream_reader_bounded_range_emits_final_bar():
    """A bounded stream must deliver the SAME bars a batch read of
    identical options does. Pre-fix, 'now' was clamped to end_ms before
    the one-bar finalization subtraction, so the final grid bar of a
    bounded range could never satisfy 'closed' and was withheld forever
    (code-review r4 finding). No Spark needed: drive read() directly with
    a stubbed wall clock far past the range end."""
    from binance_data_framework_spark.sources.kline_datasource import (
        KlineStreamReader,
    )

    t0, h = 1_704_067_200_000, 3_600_000
    r = KlineStreamReader(
        {
            "symbol": "BTCUSDT",
            "interval": "1h",
            "start_ms": str(t0),
            "end_ms": str(t0 + 2 * h),
            "mode": "fixture",
            "bars_per_batch": "10",
        }
    )
    r._wall_now_ms = lambda: t0 + 1000 * h  # months past the range end
    rows, offset = r.read({"next_ms": t0})
    got = [int(row[0].timestamp() * 1000) for row in rows]
    assert got == [t0, t0 + h, t0 + 2 * h]  # incl. the final grid bar AT end_ms
    assert offset == {"next_ms": t0 + 3 * h}
    # and the cursor parks there: nothing further to emit
    again, offset2 = r.read(offset)
    assert list(again) == [] and offset2 == offset


def test_incremental_fetch_ranges_process_tz_independent(spark, tmp_path):
    """Hole-fill fetch windows are collected as epoch ms, never via naive
    local datetimes: pre-fix, a non-UTC driver shifted every fetch range by
    the UTC offset, so the actual hole was never filled (and re-detected on
    every call)."""
    import os
    import time as _time

    fetch, _ = fake_exchange(n_bars=30)
    recorded = []

    def recording_fetch(symbol, interval, start_ms, end_ms, limit):
        recorded.append((start_ms, end_ms))
        return fetch(symbol, interval, start_ms, end_ms, limit)

    store = OhlcvStore(spark, str(tmp_path / "store_tz"))
    loader = CacheOrFetchLoader(store, PagedKlineSource(recording_fetch, page_size=1000))
    t0 = datetime(2024, 1, 1, tzinfo=timezone.utc)
    loader.load("BTCUSDT", "1h", t0, t0 + timedelta(hours=9), now=t0)
    loader.load(
        "BTCUSDT", "1h", t0 + timedelta(hours=20), t0 + timedelta(hours=29), now=t0
    )
    recorded.clear()
    old = os.environ.get("TZ")
    os.environ["TZ"] = "America/New_York"
    _time.tzset()
    try:
        out = loader.load_incremental("BTCUSDT", "1h", t0, t0 + timedelta(hours=29))
        n = out.count()
    finally:
        if old is None:
            os.environ.pop("TZ", None)
        else:
            os.environ["TZ"] = old
        _time.tzset()
    assert n == 30
    assert recorded == [(T0_MS + 10 * HOUR_MS, T0_MS + 19 * HOUR_MS)]


def test_kline_stream_reader_rejects_unknown_interval():
    """KlineStreamReader validates interval at construction (same contract
    as KlineReader) instead of surfacing a bare KeyError at stream start."""
    from binance_data_framework_spark.sources.kline_datasource import KlineStreamReader

    with pytest.raises(ValueError, match="unknown interval"):
        KlineStreamReader({"symbol": "BTCUSDT", "interval": "7x", "start_ms": "0"})


def test_load_many_fetches_in_parallel(spark, tmp_path):
    """load_many dispatches per-symbol cache-or-fetch kernels concurrently:
    the recorded fetch intervals of different symbols must OVERLAP (the
    reference's loop is strictly sequential), and every symbol's series
    must land intact through the concurrent upserts."""
    import time as _time

    fetch, _ = fake_exchange(n_bars=6)
    intervals = {}

    def slow_fetch(symbol, interval, start_ms, end_ms, limit):
        t0 = _time.monotonic()
        _time.sleep(1.0)  # deterministic stand-in for HTTP latency
        out = fetch(symbol, interval, start_ms, end_ms, limit)
        intervals.setdefault(symbol, []).append((t0, _time.monotonic()))
        return out

    loader = CacheOrFetchLoader(
        OhlcvStore(spark, str(tmp_path / "store_par")),
        PagedKlineSource(slow_fetch, page_size=1000),
    )
    t0 = datetime(2024, 1, 1, tzinfo=timezone.utc)
    syms = ["BTCUSDT", "ETHUSDT", "SOLUSDT", "ADAUSDT"]
    out = loader.load_many(syms, "1h", t0, t0 + timedelta(hours=5), now=t0)
    rows = out.groupBy("symbol").count().collect()
    assert {r["symbol"]: r["count"] for r in rows} == {s: 6 for s in syms}
    # concurrency evidence: some two symbols' fetch windows overlap in time
    spans = [(min(a for a, _ in v), max(b for _, b in v)) for v in intervals.values()]
    spans.sort()
    assert any(spans[i][1] > spans[i + 1][0] for i in range(len(spans) - 1)), spans


class _LoopbackBinanceServer:
    """Real HTTP server on 127.0.0.1 serving reference-shaped kline JSON
    (api_connector.py:289-291 row shape) — exercises the actual urllib
    stack end to end with zero external network. Records request arrival
    times (pacing evidence) and can rate-limit the first N requests."""

    def __init__(self, pages_by_start, rate_limit_hits=0):
        import http.server
        import json as _json
        import threading
        import time as _time
        from urllib.parse import parse_qs, urlparse

        self.requests = []  # (monotonic_time, path, query) per hit
        self.pages_by_start = pages_by_start
        state = {"limited": rate_limit_hits}
        outer = self

        class Handler(http.server.BaseHTTPRequestHandler):
            def log_message(self, *a):  # silence
                pass

            def do_GET(self):
                parsed = urlparse(self.path)
                qs = parse_qs(parsed.query)
                outer.requests.append((_time.monotonic(), parsed.path, qs))
                if state["limited"] > 0:
                    state["limited"] -= 1
                    self.send_response(429)
                    self.end_headers()
                    return
                if parsed.path == "/api/v3/klines":
                    body = _json.dumps(
                        outer.pages_by_start.get(int(qs["startTime"][0]), [])
                    ).encode()
                elif parsed.path == "/api/v3/exchangeInfo":
                    body = _json.dumps(
                        {"symbols": [{"symbol": "BTCUSDT", "status": "TRADING"}]}
                    ).encode()
                else:
                    self.send_response(404)
                    self.end_headers()
                    return
                self.send_response(200)
                self.send_header("Content-Type", "application/json")
                self.send_header("Content-Length", str(len(body)))
                self.end_headers()
                self.wfile.write(body)

        self.httpd = http.server.ThreadingHTTPServer(("127.0.0.1", 0), Handler)
        self.base_url = f"http://127.0.0.1:{self.httpd.server_address[1]}"
        self.thread = threading.Thread(target=self.httpd.serve_forever, daemon=True)
        self.thread.start()

    def close(self):
        self.httpd.shutdown()
        self.httpd.server_close()


def test_http_loopback_server_pagination_pacing_backoff(spark):
    """The real HTTP path (urllib, not a fake urlopen) against a loopback
    server: cursor pagination resumes at last ts + 1, inter-page pacing is
    observed on the wire (reference 0.1 s, api_connector.py:242 — scaled
    down here), and HTTP 429 triggers the bounded backoff-then-retry loop
    (reference 60 s stall, api_connector.py:271-276)."""
    from binance_data_framework_spark.sources.rest_klines import (
        PagedKlineSource,
        http_fetch_page,
        http_fetch_exchange_info,
    )

    h = 3_600_000
    t0 = 1_704_067_200_000  # 2024-01-01T00:00Z
    pages = {
        t0: [_kline_row(t0 + i * h, 100 + i) for i in range(2)],  # full page (=2)
        t0 + h + 1: [_kline_row(t0 + 2 * h, 102)],  # short page -> stop
    }
    srv = _LoopbackBinanceServer(pages, rate_limit_hits=1)
    try:
        pacing = 0.2
        src = PagedKlineSource(
            http_fetch_page(base_url=srv.base_url),
            page_size=2,
            pacing_s=pacing,
            backoff_s=0.05,
            max_retries=2,
        )
        out = src.to_ohlcv(spark, "BTCUSDT", "1h", t0, t0 + 3 * h)
        assert out.count() == 3
        kline_reqs = [r for r in srv.requests if r[1] == "/api/v3/klines"]
        # 1 rate-limited + retry of page 1 + page 2 = 3 hits
        assert len(kline_reqs) == 3
        starts = [int(q["startTime"][0]) for _, _, q in kline_reqs]
        assert starts == [t0, t0, t0 + h + 1]  # retry, then cursor = last+1
        # pacing observed between PAGE requests (not the backoff retry)
        assert kline_reqs[2][0] - kline_reqs[1][0] >= pacing * 0.9
        info = http_fetch_exchange_info(base_url=srv.base_url)
        assert info["symbols"][0]["symbol"] == "BTCUSDT"
    finally:
        srv.close()


def test_read_klines_many_single_job_union(spark):
    """Multi-symbol DataSource backfill: the union carries every symbol's
    chunk partitions in one plan (executor-parallel across symbols AND
    chunks), and per-symbol content equals the single-symbol read."""
    from binance_data_framework_spark.sources.kline_datasource import (
        BinanceKlinesDataSource,
        read_klines_many,
    )

    spark.dataSource.register(BinanceKlinesDataSource)
    t0_ms = 1_704_067_200_000
    h = 3_600_000
    out = read_klines_many(
        spark,
        ["BTCUSDT", "ETHUSDT", "SOLUSDT"],
        "1h",
        t0_ms,
        t0_ms + 47 * h,
        chunk_bars=16,
        mode="fixture",
    )
    # 48 bars / 16 per chunk = 3 partitions per symbol, unioned => 9
    assert out.rdd.getNumPartitions() == 9
    counts = {r["symbol"]: r["count"] for r in out.groupBy("symbol").count().collect()}
    assert counts == {"BTCUSDT": 48, "ETHUSDT": 48, "SOLUSDT": 48}
    one = (
        spark.read.format("binance_klines")
        .option("symbol", "ETHUSDT")
        .option("interval", "1h")
        .option("start_ms", t0_ms)
        .option("end_ms", t0_ms + 47 * h)
        .option("chunk_bars", 16)
        .option("mode", "fixture")
        .load()
    )
    a = {(r["ts"], r["open"]) for r in out.where(out.symbol == "ETHUSDT").collect()}
    b = {(r["ts"], r["open"]) for r in one.collect()}
    assert a == b
    import pytest as _pytest

    with _pytest.raises(ValueError):
        read_klines_many(spark, [], "1h", t0_ms, t0_ms + h)


def test_stream_endurance_restart_exactly_once(spark, tmp_path):
    """Live-tail endurance (verdict r4 #7): drive the binance_klines
    stream through 55 one-bar micro-batches into the upsert sink, with a
    MID-FLIGHT kill, an interleaved store.optimize(), and a restart from
    the same checkpoint. Exactly-once at the bar level: every finalized
    bucket lands exactly once, values bit-identical to a single batch
    read of the whole range — the checkpoint replays no bar the store
    already holds (and save_data's dedup-merge makes any replay
    idempotent anyway)."""
    import time as _time

    from binance_data_framework_spark.sources.kline_datasource import (
        BinanceKlinesDataSource,
    )
    from binance_data_framework_spark.store import OhlcvStore
    from binance_data_framework_spark.streaming.incremental import stream_to_store

    spark.dataSource.register(BinanceKlinesDataSource)
    t0_ms = 1_704_067_200_000
    h = 3_600_000
    n_bars = 52  # >= 50 micro-batches at 1 bar/batch

    def make_stream():
        return (
            spark.readStream.format("binance_klines")
            .option("symbol", "BTCUSDT")
            .option("interval", "1h")
            .option("start_ms", t0_ms)
            .option("end_ms", t0_ms + n_bars * h)  # fixture "now"
            .option("bars_per_batch", 1)
            .option("mode", "fixture")
            .load()
            .select("ts", "open", "high", "low", "close", "volume")
        )

    store = OhlcvStore(spark, str(tmp_path / "endurance_store"))
    ckpt = str(tmp_path / "endurance_ckpt")

    # phase 1: continuous micro-batches; kill mid-flight past ~10 bars
    q = stream_to_store(
        make_stream(), store, "BTCUSDT", "1h", ckpt, trigger_available_now=False
    )
    try:
        deadline = _time.time() + 180
        while _time.time() < deadline:
            if store._exists() and store.get_data("BTCUSDT", "1h").count() >= 10:
                break
            _time.sleep(0.25)
    finally:
        q.stop()  # mid-flight kill: the in-progress batch may or may not land
    n_phase1 = store.get_data("BTCUSDT", "1h").count()
    assert 10 <= n_phase1 < n_bars

    # interleaved maintenance: compaction commits + vacuum between phases
    store.optimize("BTCUSDT", "1h")

    # phase 2: restart from the SAME checkpoint; drain to completion
    q2 = stream_to_store(
        make_stream(), store, "BTCUSDT", "1h", ckpt, trigger_available_now=False
    )
    try:
        deadline = _time.time() + 240
        while _time.time() < deadline:
            if store.get_data("BTCUSDT", "1h").count() >= n_bars:
                break
            _time.sleep(0.5)
        _time.sleep(1)  # further batches must deliver nothing new
    finally:
        q2.stop()

    out = store.get_data("BTCUSDT", "1h")
    assert out.count() == n_bars  # every finalized bar exactly once
    assert out.select("ts").distinct().count() == n_bars
    batch = (
        spark.read.format("binance_klines")
        .option("symbol", "BTCUSDT")
        .option("interval", "1h")
        .option("start_ms", t0_ms)
        .option("end_ms", t0_ms + (n_bars - 1) * h)
        .option("mode", "fixture")
        .load()
    )
    got = {
        (r["ts"], r["open"], r["close"], r["volume"])
        for r in out.select("ts", "open", "close", "volume").collect()
    }
    exp = {
        (r["ts"], r["open"], r["close"], r["volume"])
        for r in batch.select("ts", "open", "close", "volume").collect()
    }
    assert got == exp


def test_jsonl_roundtrip_and_corrupt_line_quarantine(spark, tmp_path):
    """JSONL ingest: schema-enforced read round-trips clean rows exactly;
    a malformed line is quarantined (raw text preserved) without failing
    the read or leaking a partial row into the clean stream."""
    from binance_data_framework_spark.sources import jsonl_docs as J

    p = tmp_path / "docs"
    p.mkdir()
    good = '{"doc_id": 1, "text": "hello world", "lang": "en", "source": "web", "n_chars": 11}'
    bad = '{"doc_id": 2, "text": "truncated'
    # type-malformed: valid JSON whose n_chars fails the declared schema —
    # must be quarantined even when the downstream plan prunes n_chars away
    badtype = '{"doc_id": 3, "text": "x", "lang": "en", "source": "web", "n_chars": "NaN"}'
    (p / "part-0.jsonl").write_text(good + "\n" + bad + "\n" + badtype + "\n")

    df = J.read_jsonl_documents(spark, str(p))
    assert df.count() == 1  # count() must not crash (SPARK-21610 class)
    assert [r["doc_id"] for r in df.select("doc_id").collect()] == [1]  # no pruning leak
    r = df.collect()[0]
    assert (r["doc_id"], r["text"], r["lang"], r["source"], r["n_chars"]) == (
        1, "hello world", "en", "web", 11,
    )

    quarantined = sorted(q["raw_line"] for q in J.corrupt_lines(spark, str(p)).collect())
    assert quarantined == sorted([bad, badtype])


def test_jsonl_nested_schema_and_reserved_column_guard(spark, tmp_path):
    """Schemas with comma-bearing nested types must parse via the real DDL
    parser (the old comma-split produced garbage column references,
    ADVICE r5), and a caller schema claiming the reserved corrupt-record
    column is rejected up front."""
    import pytest

    from binance_data_framework_spark.sources import jsonl_docs as J

    p = tmp_path / "nested"
    p.mkdir()
    (p / "part-0.jsonl").write_text(
        '{"doc_id": 1, "meta": {"a": 2, "b": 3}, "tags": ["x", "y"]}\n'
        '{"doc_id": 2, "meta": {"a": 4}, "tags": []}\n'
    )
    schema = "doc_id bigint, meta map<string,int>, tags array<string>"
    rows = {r["doc_id"]: r for r in J.read_jsonl_documents(spark, str(p), schema).collect()}
    assert set(rows) == {1, 2}
    assert rows[1]["meta"] == {"a": 2, "b": 3} and list(rows[1]["tags"]) == ["x", "y"]

    with pytest.raises(ValueError, match="reserved"):
        J.read_jsonl_documents(spark, str(p), "doc_id bigint, __jsonl_corrupt__ string")


def test_jsonl_gzip_shards_read_transparently(spark, tmp_path):
    """Corpus shards typically land as .jsonl.gz — the reader must handle
    them without flags (Hadoop codec by extension). Gzip is not splittable,
    so parallelism is per-shard: two shards -> both read, all rows."""
    import gzip

    p = tmp_path / "gz"
    p.mkdir()
    for shard, ids in (("a", (1, 2)), ("b", (3,))):
        lines = "".join(
            f'{{"doc_id": {i}, "text": "t{i}", "lang": "en", "source": "web", "n_chars": 2}}\n'
            for i in ids
        )
        with gzip.open(p / f"part-{shard}.jsonl.gz", "wt") as f:
            f.write(lines)

    from binance_data_framework_spark.sources import jsonl_docs as J

    rows = J.read_jsonl_documents(spark, str(p)).collect()
    assert {r["doc_id"] for r in rows} == {1, 2, 3}
    assert all(r["text"] == f"t{r['doc_id']}" for r in rows)
