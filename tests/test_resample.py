"""Resample/SMA semantics vs pandas (the reference's execution engine) —
order-correct first/last, calendar alignment, null warm-up."""

from __future__ import annotations

from datetime import datetime

import pandas as pd
import pytest
from pyspark.sql import functions as F

from binance_data_framework_spark.operators.ohlcv import resample_ohlcv, with_sma
from binance_data_framework_spark.sources.fixtures import load_table, ohlcv_view


def _pandas_bars(pdf: pd.DataFrame, rule: str) -> pd.DataFrame:
    out = (
        pdf.set_index("ts")
        .groupby("event_type")["value"]
        .resample(rule)
        .agg(["first", "max", "min", "last", "sum", "count"])
        .dropna()
        .reset_index()
    )
    out.columns = ["symbol", "bucket", "open", "high", "low", "close", "volume", "n"]
    return out.sort_values(["symbol", "bucket"]).reset_index(drop=True)


@pytest.mark.slow
def test_resample_matches_pandas_1h(spark, sf_dir):
    bars = (
        ohlcv_view(spark, sf_dir, "1h")
        .orderBy("symbol", "bucket")
        .toPandas()
    )
    raw = load_table(spark, sf_dir, "events").select("event_type", "ts", "value").toPandas()
    expected = _pandas_bars(raw, "1h")
    assert len(bars) == len(expected)
    for col in ("open", "high", "low", "close"):
        pd.testing.assert_series_equal(
            bars[col], expected[col], check_names=False, atol=1e-9
        )


def test_resample_first_last_are_time_ordered(spark):
    # rows arrive shuffled; open/close must follow event time, not input order
    rows = [
        ("S", datetime(2024, 1, 1, 0, 30), 3.0),
        ("S", datetime(2024, 1, 1, 0, 10), 1.0),
        ("S", datetime(2024, 1, 1, 0, 50), 5.0),
        ("S", datetime(2024, 1, 1, 0, 20), 2.0),
    ]
    df = spark.createDataFrame(rows, "symbol string, ts timestamp, price double")
    out = resample_ohlcv(df, "1h", price_col="price").collect()[0]
    assert out["open"] == 1.0 and out["close"] == 5.0
    assert out["high"] == 5.0 and out["low"] == 1.0


def test_calendar_week_alignment(spark):
    # 2024-01-03 is a Wednesday; its week bucket is Monday 2024-01-01
    df = spark.createDataFrame(
        [("S", datetime(2024, 1, 3, 12), 1.0)], "symbol string, ts timestamp, price double"
    )
    out = resample_ohlcv(df, "1w", price_col="price").collect()[0]
    assert out["bucket"] == datetime(2024, 1, 1, 0, 0)


def test_sma_warmup_nulls(spark, sf_dir):
    bars = with_sma(ohlcv_view(spark, sf_dir, "1h"), 20)
    first = bars.orderBy("symbol", "bucket").limit(19).collect()
    assert all(r["sma20"] is None for r in first)
    n_nonnull = bars.where(F.col("sma20").isNotNull()).count()
    assert n_nonnull > 0


def test_ewma_matches_pandas(spark, sf_dir):
    from binance_data_framework_spark.operators.ohlcv import with_ewma

    bars = ohlcv_view(spark, sf_dir, "1h")
    got = with_ewma(bars, alpha=0.2).toPandas()
    ref = bars.select("symbol", "bucket", "close").toPandas()
    for sym, g in got.groupby("symbol"):
        r = ref[ref.symbol == sym].sort_values("bucket")
        expect = r["close"].ewm(alpha=0.2, adjust=False).mean().round(6)
        g = g.sort_values("bucket")
        assert (g["ewma"].to_numpy() == expect.to_numpy()).all()


def test_gap_antijoin_chunked_grid_exact(spark):
    """The bar-count-chunked expected timeline must equal the ideal grid at
    any chunk size — single-chunk (default 64k) and forced multi-chunk
    (chunk_bars=7, exercising interior + ragged-final chunk boundaries) —
    for off-midnight anchors and bars that don't divide a day: missing
    buckets == exactly the dropped grid points on either shape."""
    from datetime import datetime, timedelta

    from binance_data_framework_spark.operators.coverage import gap_antijoin

    anchor = datetime(2024, 1, 1, 7, 30)  # off-grid vs midnight
    for chunk_bars in (65_536, 7):  # one chunk / many ragged chunks
        for tf, step_h, n in (("1h", 1, 60), ("3d", 72, 9)):
            grid = [anchor + timedelta(hours=step_h * i) for i in range(n)]
            dropped = set(grid[7::5])
            present = [t for t in grid if t not in dropped]
            df = spark.createDataFrame(
                [("S", t) for t in present], "symbol string, bucket timestamp"
            )
            missing = {
                r["missing_bucket"]
                for r in gap_antijoin(df, tf, chunk_bars=chunk_bars).collect()
            }
            assert missing == dropped, (
                f"chunk_bars={chunk_bars} {tf}: {sorted(missing)} != {sorted(dropped)}"
            )


def test_rsi_matches_reference_pandas(spark):
    """with_rsi equals a straight pandas Wilder-RSI computed per series."""
    import numpy as np
    import pandas as pd

    from binance_data_framework_spark.operators.ohlcv import with_rsi

    rng = np.random.default_rng(7)
    rows = []
    for sym in ("A", "B"):
        px = 100.0 + np.cumsum(rng.normal(0, 1, 60))
        rows += [
            (sym, pd.Timestamp("2024-01-01") + pd.Timedelta(hours=i), float(p))
            for i, p in enumerate(px)
        ]
    pdf = pd.DataFrame(rows, columns=["symbol", "bucket", "close"])
    bars = spark.createDataFrame(pdf.assign(bucket=pdf.bucket.astype("datetime64[us]")))
    got = (
        with_rsi(bars, 14)
        .toPandas()
        .sort_values(["symbol", "bucket"])
        .reset_index(drop=True)
    )
    for sym in ("A", "B"):
        ref = pdf[pdf.symbol == sym].sort_values("bucket")
        delta = ref.close.diff()
        ag = delta.clip(lower=0).ewm(alpha=1 / 14, adjust=False, min_periods=15).mean()
        al = (-delta).clip(lower=0).ewm(alpha=1 / 14, adjust=False, min_periods=15).mean()
        expect = (100 - 100 / (1 + ag / al)).round(6)
        sub = got[got.symbol == sym]
        assert sub.rsi.head(14).isna().all()  # warm-up
        pd.testing.assert_series_equal(
            sub.rsi.reset_index(drop=True),
            expect.reset_index(drop=True),
            check_names=False,
        )


def test_downsample_m4_pixels_and_extremes(spark):
    """M4 downsample on a hand-computed series: 8 hourly bars into 4
    pixels = 2 bars each; per pixel first/last follow bar time and min/max
    are the true extremes, so a 4-px-wide chart of the pixel output is
    identical to one of the full series."""
    from binance_data_framework_spark.operators.ohlcv import downsample_m4

    t0 = datetime(2024, 1, 1)
    closes = [10.0, 3.0, 7.0, 20.0, 5.0, 6.0, 2.0, 9.0]
    rows = [("A", datetime(2024, 1, 1, h), c) for h, c in enumerate(closes)]
    bars = spark.createDataFrame(rows, "symbol string, bucket timestamp, close double")
    out = {
        r["pixel"]: r
        for r in downsample_m4(bars, n_buckets=4).collect()
    }
    assert set(out) == {0, 1, 2, 3}
    # pixel 0 covers hours 0-1 (span 7h * 4 / 7 buckets by closed-range math:
    # pixel = (h * 4) div 7 -> h0,h1 -> 0; h2,h3 -> 1; h4,h5 -> 2; h6,h7 -> 3)
    assert (out[0]["v_first"], out[0]["v_min"], out[0]["v_max"], out[0]["v_last"]) == (10.0, 3.0, 10.0, 3.0)
    assert (out[1]["v_first"], out[1]["v_max"], out[1]["v_last"]) == (7.0, 20.0, 20.0)
    assert (out[3]["v_first"], out[3]["v_min"], out[3]["v_last"]) == (2.0, 2.0, 9.0)
    assert sum(r["n_rows"] for r in out.values()) == 8
    # single-row series: everything lands in pixel 0, no divide-by-zero
    one = spark.createDataFrame(
        [("B", t0, 42.0)], "symbol string, bucket timestamp, close double"
    )
    r = downsample_m4(one, n_buckets=4).collect()[0]
    assert r["pixel"] == 0 and r["v_first"] == r["v_last"] == 42.0


def test_fill_forward_preserves_present_nulls(spark):
    """ADVICE r4: a PRESENT bar whose value is genuinely null must keep
    its null (is_filled=false agrees with the value); only synthesized
    grid rows are filled with the last observation."""
    from datetime import datetime

    from binance_data_framework_spark.operators.coverage import fill_forward

    t = lambda h: datetime(2024, 1, 1, h)  # noqa: E731
    bars = spark.createDataFrame(
        [("X", t(0), 10.0), ("X", t(1), None), ("X", t(3), 40.0)],
        "symbol string, bucket timestamp, close double",
    )
    out = {
        r["bucket"]: (r["close"], r["is_filled"])
        for r in fill_forward(bars, "1h", value_cols=("close",)).collect()
    }
    assert out[t(0)] == (10.0, False)
    assert out[t(1)] == (None, False)  # genuine null NOT overwritten
    assert out[t(2)] == (10.0, True)  # synthesized: last observation
    assert out[t(3)] == (40.0, False)
