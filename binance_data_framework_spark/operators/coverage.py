"""Coverage metadata operators: the cache-orchestration layer of the engine.

The reference maintains a hand-rolled zone-map table ``ohlcv_metadata``
(database_handler.py:126-134) refreshed after every write
(database_handler.py:219-228) and probes it in ``check_data_exists``
(database_handler.py:257-307). Spark-first: coverage is a *computed*
aggregate (parquet footers already hold min/max; this aggregate exists only
because containment/freshness is application semantics). The containment/
freshness rule is one column expression, ``covered_expr``. The batch probe
``coverage_check`` applies it after a broadcast left join of a request spec
onto the coverage aggregate. The store's single-series probe
(``OhlcvStore.check_data_exists``) applies it to a one-row aggregate over
the series' first and last day files only: ``dt`` is ``to_date(ts)``, so
those two files hold the series' min and max ts. That is one Spark job over
at most two day files, whatever the store size.
"""

from __future__ import annotations

from datetime import datetime, timezone

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import broadcast

from binance_data_framework_spark.functions.timeframes import timeframe_duration_col


def meta_coverage(
    df: DataFrame, key_cols: tuple[str, ...] = ("symbol", "timeframe"), ts_col: str = "ts"
) -> DataFrame:
    """Per-series (min ts, max ts, rows) — reference get_stored_info
    (database_handler.py:348-377), computed not stored. One shuffle keyed by
    the series key; map-side partials make it cheap at any scale."""
    return df.groupBy(*[F.col(c) for c in key_cols]).agg(
        F.min(ts_col).alias("start_ts"),
        F.max(ts_col).alias("end_ts"),
        F.count(F.lit(1)).alias("n_rows"),
    )


def covered_expr(now: datetime) -> Column:
    """The containment + freshness rule (reference check_data_exists,
    database_handler.py:279-298 incl. the freshness escape at 291-295), over
    the columns ``start_ts``/``end_ts`` (stored coverage), ``req_start``/
    ``req_end`` (request) and ``timeframe``:
      covered :=  start_ts <= req_start
              AND (end_ts + bar - 1ms >= req_end
                   OR abs(now - end_ts) < 2 * bar)       -- freshness escape
    No coverage (null bounds) is not covered."""
    # Naive datetimes are engine-convention UTC; .timestamp() on a naive
    # value would shift with the PROCESS-local timezone (time.mktime), so pin
    # it — the driver may run this in any TZ.
    if now.tzinfo is None:
        now = now.replace(tzinfo=timezone.utc)
    bar_ms = timeframe_duration_col(F.col("timeframe"))
    end_ms = F.unix_millis(F.col("end_ts"))
    contained = end_ms + bar_ms - F.lit(1) >= F.unix_millis(F.col("req_end"))
    fresh = F.abs(F.lit(int(now.timestamp() * 1000)) - end_ms) < 2 * bar_ms
    return F.coalesce(
        (F.col("start_ts") <= F.col("req_start")) & (contained | fresh),
        F.lit(False),
    )


def coverage_check(
    coverage: DataFrame,
    requests: DataFrame,
    now: datetime,
    key_cols: tuple[str, ...] = ("symbol", "timeframe"),
) -> DataFrame:
    """Request-vs-coverage containment probe over many series.

    `requests(symbol, timeframe, req_start, req_end)` is tiny -> broadcast
    left join onto the coverage aggregate, then ``covered_expr``.
    Returns requests + `covered` boolean + coverage bounds.
    """
    # broadcast the BUILD side: a BroadcastHashJoin cannot build the
    # preserved (left) side of a left-outer join, so a hint on `requests`
    # would be silently dropped and both sides would shuffle. The coverage
    # aggregate is the right side and is small by construction (one row per
    # SERIES — bars-not-events cardinality), so it is the legal broadcast.
    return requests.join(broadcast(coverage), on=list(key_cols), how="left").withColumn(
        "covered", covered_expr(now)
    )


def expected_buckets(
    df: DataFrame,
    timeframe: str,
    key_col: str = "symbol",
    ts_col: str = "bucket",
    chunk_bars: int = 65_536,
) -> DataFrame:
    """Per-series expected bucket timeline from min to max observed bucket.

    Generated in fixed-size BAR-COUNT chunks, sized inside the plan (no
    driver action, no branching): each series explodes into
    ceil(n_bars / chunk_bars) chunk rows, and each chunk generates only its
    own grid slice. A series shorter than ``chunk_bars`` is exactly ONE
    chunk — the plan degenerates to the one-shot sequence(min, max, bar)
    with no extra stages (this replaced an r2 day-chunked two-stage design
    whose fixed overhead showed up as a +73% bench regression at sf0.1) —
    while a 10-year 1m series becomes ~80 chunks of <=64k timestamps
    (~0.5 MB arrays), redistributed across tasks before the wide explode so
    no task ever materializes a full history. Chunk starts sit on the grid
    anchored at the series' min bucket, so the chunked union is
    element-identical to the one-shot sequence at any chunk size.
    """
    from binance_data_framework_spark.functions.timeframes import (
        CALENDAR_TFS,
        TIMEFRAME_MS,
    )

    if timeframe in CALENDAR_TFS:
        # '1w'/'1M' buckets are calendar-truncated (date_trunc), not a
        # fixed-stride grid — stepping by the nominal duration would
        # misalign with every real bucket (phantom gaps, useless fills)
        raise ValueError(
            f"expected_buckets needs a fixed-stride timeframe; {timeframe!r} "
            "buckets are calendar-derived"
        )
    if timeframe not in TIMEFRAME_MS:
        raise ValueError(f"unknown timeframe {timeframe!r}")
    bar_ms = TIMEFRAME_MS[timeframe]
    bounds = df.groupBy(key_col).agg(
        F.min(ts_col).alias("min_b"), F.max(ts_col).alias("max_b")
    )
    min_ms, max_ms = F.unix_millis("min_b"), F.unix_millis("max_b")
    n_bars = F.floor((max_ms - min_ms) / F.lit(bar_ms)) + 1
    n_chunks = F.ceil(n_bars / F.lit(chunk_bars)).cast("long")
    chunks = bounds.select(
        F.col(key_col),
        "min_b",
        "max_b",
        F.explode(F.sequence(F.lit(0).cast("long"), n_chunks - 1)).alias("_ci"),
    ).repartition(key_col, "_ci")  # spread chunks before the wide explode
    chunk_ms = chunk_bars * bar_ms  # ~3.9e9 for 64k 1m bars: int64-safe
    start_ms = min_ms + F.col("_ci") * chunk_ms
    end_ms = F.least(max_ms, min_ms + (F.col("_ci") + 1) * chunk_ms - bar_ms)
    return chunks.select(
        F.col(key_col),
        F.explode(
            F.sequence(
                F.timestamp_millis(start_ms),
                F.timestamp_millis(end_ms),
                F.expr(f"INTERVAL {bar_ms // 1000} SECONDS"),
            )
        ).alias(ts_col),
    )


def gap_antijoin(
    df: DataFrame,
    timeframe: str,
    key_col: str = "symbol",
    ts_col: str = "bucket",
    chunk_bars: int = 65_536,
) -> DataFrame:
    """Missing-bar detection — the gap-fill design the reference planned but
    never implemented (plan.md:79-80): the expected timeline
    (expected_buckets, bar-count-chunked) anti-joined against present
    buckets. No driver loop, no collect; the anti-join shuffles on
    (key, bucket) like any equi-join.
    """
    expected = expected_buckets(df, timeframe, key_col, ts_col, chunk_bars)
    # preserve the caller's key column name (a key_col='pair' input must not
    # come back renamed 'symbol'); 'missing_bucket' is the documented output
    return expected.join(
        df.select(key_col, ts_col), on=[key_col, ts_col], how="left_anti"
    ).select(F.col(key_col), F.col(ts_col).alias("missing_bucket"))


def fill_forward(
    bars: DataFrame,
    timeframe: str,
    key_col: str = "symbol",
    ts_col: str = "bucket",
    value_cols: tuple[str, ...] = ("close",),
) -> DataFrame:
    """Calendar-complete series: left-join bars onto the expected timeline
    and carry the last observation forward into the holes (the consumption-
    side complement of gap_antijoin's detect-and-fetch: analysis layers get
    a gapless series even before the fetch lands). One (key, bucket)
    equi-join plus one series-keyed window pass; `is_filled` marks
    synthesized rows."""
    from pyspark.sql import Window

    grid = expected_buckets(bars, timeframe, key_col, ts_col)
    # join-side PRESENCE flag, not value-null sniffing: a genuine bar whose
    # first value column happens to be null is a real observation — it must
    # not be flagged as synthesized (nor have its null overwritten
    # mislabeled as a fill)
    joined = grid.join(
        bars.withColumn("_present", F.lit(True)), on=[key_col, ts_col], how="left"
    )
    w = (
        Window.partitionBy(key_col)
        .orderBy(ts_col)
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    out = joined.withColumn("is_filled", F.col("_present").isNull())
    for c in value_cols:
        # fill ONLY synthesized rows: a present bar whose value is genuinely
        # null keeps its null (is_filled=false must agree with the value)
        out = out.withColumn(
            c,
            F.when(
                F.col("_present").isNull(), F.last(c, ignorenulls=True).over(w)
            ).otherwise(F.col(c)),
        )
    return out.drop("_present")
